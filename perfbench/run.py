"""tcmkg benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 8 --trace 0

Run from the repository root. The run generates (or reuses) the seeded
inputs and fills the workload's caches (untimed), starts a Spark session
at local[<nproc>], sets the workload up, runs the workload's untimed
warm-up operations, then runs the operation once, and again
until `--seconds` have passed or the workload's `max_ops` are done,
checking every output.

--trace 0 prints the end-to-end metrics:
  setup_s      process start to the end of set-up, less input generation
               and cache fills
  op_s         median wall time of the run's timed operations
  rows_per_s   input rows of one operation / op_s
--trace 1 runs the set-up (traced) and the warm-ups (at least one
operation, untraced), then the operation once traced layer by
layer (see tracer.py and workloads.py) and once more untraced as the
reference, and prints the per-layer metrics, the driver JVM's peak
resident memory (VmHWM) and the tracing overhead against that reference.

Everything the run writes stays under perfbench/_work: the input and
canonicalization caches, one scratch directory per run (Spark local dir,
warehouse, temp files, checkpoints, exports; removed at exit), the span
dumps and a per-run host record.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
NPROC = len(os.sched_getaffinity(0))


def _args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["kg_build", "dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def host_env(run_dir: str) -> dict[str, str]:
    """Keep every write inside run_dir and the driver heap below RAM; set
    before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // 2**20
    # no JVM may write its perf-data file to /tmp or temp files outside tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        # the session default (24g) is above this host's RAM
        "TCMKG_DRIVER_MEM": f"{max(1, min(4, mem_gb // 4))}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_LAUNCHER_OPTS": java_opts,
        "TMPDIR": tmp,
    })
    return {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(run_dir: str, conf: dict, traced: bool):
    from tcmkg import session

    # get_spark zips the package for the Python workers into /tmp by default
    session.package_zip.__defaults__ = (run_dir,)
    if traced:  # keep every job and stage of a layer readable until it closes
        conf = {**conf, "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000"}
    return session.get_spark("perfbench", cores=NPROC, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


def _known_checksum(inputs: str, checksum: str) -> str:
    """The checksum an earlier run on these inputs recorded (recording this
    one if none): the same inputs must give the same output in every run."""
    path = os.path.join(WORK, "checksums.json")
    known = {}
    if os.path.exists(path):
        with open(path) as f:
            known = json.load(f)
    key = os.path.relpath(inputs, WORK)
    if key not in known:
        known[key] = checksum
        with open(path + ".tmp", "w") as f:
            json.dump(known, f, indent=1)
        os.replace(path + ".tmp", path)
    return known[key]


def main() -> int:
    args = _args()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    conf = host_env(run_dir)
    sys.path[:0] = [ROOT, HERE]
    try:
        return _run(args, run_dir, conf)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str, conf: dict) -> int:
    import pyspark  # noqa: F401  (import cost belongs to set-up on every run)
    import tcmkg.session  # noqa: F401

    import loadgen
    from tracer import LAYER_FIELDS, LAYERS, SKIPPED, Tracer
    from workloads import WORKLOADS

    host = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": NPROC, "loadavg_start": os.getloadavg(),
            "python": platform.python_version()}
    Workload = WORKLOADS[args.workload]
    t_gen = time.perf_counter()
    make_inputs = loadgen.transcripts if args.workload == "kg_build" else loadgen.documents
    inputs = make_inputs(WORK, args.seed)
    Workload.prepare(inputs)
    gen_s = time.perf_counter() - t_gen

    tracer = Tracer(collect_jobs=bool(args.trace))
    with tracer.layer("session"):
        spark = start_session(run_dir, conf, bool(args.trace))
    try:
        host.update(spark=spark.version,
                    java=spark.sparkContext._jvm.System.getProperty("java.version"))
        session_s = time.perf_counter() - T_START - gen_s
        wl = Workload(spark, run_dir, inputs)
        t0 = time.perf_counter()
        wl.setup(tracer if args.trace else None)
        setup_s = session_s + time.perf_counter() - t0

        attempted = failed = 0
        walls, checksums = [], []

        def judge(run, label, traced=False):
            nonlocal attempted, failed
            attempted += 1
            try:
                wall, result = run()
            except Exception:
                traceback.print_exc()
                failed += 1
                return None
            fails = wl.check(result) + (wl.trace_fails if traced else [])
            checksum = wl.checksum(result)
            if checksum != _known_checksum(inputs["path"], checksum):
                fails.append(f"checksum {checksum} differs from an earlier run")
            if checksums and checksum != checksums[0]:
                fails.append(f"checksum {checksum} differs from {checksums[0]}")
            checksums.append(checksum)
            if fails:
                print(f"{label}: " + "; ".join(fails), file=sys.stderr)
                failed += 1
            return wall

        traced_wall = reference_wall = None
        if args.trace:
            # untraced operations first, as many as an untraced run's
            # warm-ups (at least one); the reference runs after the traced
            # one, so both find the JVM, the code caches and the workers
            # equally warm
            for i in range(max(1, wl.warmups)):
                judge(lambda: wl.op(f"first{i}"), f"untraced op {i}")
            traced_wall = judge(lambda: wl.traced_op(tracer), "traced op", traced=True)
            reference_wall = judge(lambda: wl.op("reference"), "reference op")
        else:
            for i in range(wl.warmups):
                judge(lambda: wl.op(f"warmup{i}"), f"warm-up op {i}")
            t_measure = time.perf_counter()
            i = 0
            while i == 0 or (time.perf_counter() - t_measure < args.seconds
                             and i != wl.max_ops):
                wall = judge(lambda: wl.op(i), f"op {i}")
                if wall is not None:
                    walls.append(wall)
                i += 1
        peak_rss = _peak_rss_mb(spark)
    finally:
        stop_session(spark)

    host.update(gen_s=gen_s, session_s=session_s, setup_s=setup_s,
                op_walls=walls, traced_wall=traced_wall, reference_wall=reference_wall,
                checksums=checksums, peak_rss_mb=peak_rss, attempted=attempted, failed=failed)
    print(json.dumps(host), file=sys.stderr)
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(host) + "\n")
    tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}-{os.getpid()}.json"),
                {"host": host})

    if args.trace:
        if not (traced_wall and reference_wall):
            print("the traced or the reference operation failed", file=sys.stderr)
            return 1
        metrics = {}
        for layer in LAYERS:
            rec = tracer.layers.get(layer, dict.fromkeys(LAYER_FIELDS, 0.0))
            for field in LAYER_FIELDS:
                if field not in SKIPPED.get(layer, ()):
                    metrics[f"{layer}.{field}"] = (rec[field], _UNITS[field])
        metrics["session.peak_rss_mb"] = (peak_rss, "MB")
        for name in ("extract.prefilter.pass_ratio", "dedup.verify.yield"):
            metrics[name] = (tracer.ratios.get(name, 0.0), "ratio")
        metrics["trace.overhead_frac"] = (traced_wall / reference_wall - 1, "ratio")
    else:
        if not walls:
            print("no operation completed", file=sys.stderr)
            return 1
        op_s = statistics.median(walls)
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_s": (op_s, "s"),
            "rows_per_s": (wl.units / op_s, "1/s"),
        }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count", "executor_run_s": "s",
          "executor_cpu_s": "s", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
          "rows_out": "count", "task_skew": "ratio"}


if __name__ == "__main__":
    sys.exit(main())
