"""Fill a canonicalization cache: construct `KGPipeline` once, in a Spark
session of its own, with `canon_dir` set to the directory given.

    python3 perfbench/prefill.py <canon_dir>

run.py calls it in a subprocess when the cache for the current program
version is incomplete, so the timed session never shares a JVM with it.
"""

import os
import shutil
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from run import WORK, host_env, start_session, stop_session  # noqa: E402


def main() -> int:
    run_dir = os.path.join(WORK, f"prefill-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        conf = host_env(run_dir)
        spark = start_session(run_dir, conf, traced=False)
        try:
            from tcmkg.pipeline.runner import KGPipeline

            KGPipeline(spark, canon_dir=sys.argv[1])
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
