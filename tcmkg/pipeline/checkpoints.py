"""Per-stage checkpoint store with a resume manifest.

The reference pipeline is resumable at script granularity because every
script writes CSVs that the next script re-reads (e.g.
processed_code/extract_ingredient.py:225-229 write-then-reread;
merge_tcm_symptom.py:143-172). We reproduce that contract as parquet stage
tables plus a JSON manifest: a stage whose manifest entry exists AND whose
parquet is readable is skipped on re-run (kill-and-resume safe, idempotent);
the manifest commits by atomic rename.

Stage tables are internal resume points, so they are written flat: one file
per task. Hive-partitioning them (by mention kind, by predicate) would
multiply the files by the number of partition values and make every
read-back pay a listing job plus one task per small file. Per-relation
layout belongs to the published sinks (pipeline/export.py). Each manifest
entry records the written table's data `files` and `bytes`, so a small-file
regression shows in _MANIFEST.json alone.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


def _layout(path: str) -> dict:
    """Data files and bytes of a written (flat) stage table: a local
    directory listing, no Spark job. `_SUCCESS` and `.crc` side files are
    not data."""
    with os.scandir(path) as it:
        data = [e for e in it if not e.name.startswith(("_", "."))]
    return {"files": len(data), "bytes": sum(e.stat().st_size for e in data)}


@dataclass
class CheckpointStore:
    root: str
    manifest: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        mf = self._manifest_path()
        if os.path.exists(mf):
            with open(mf) as f:
                self.manifest = json.load(f)

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_MANIFEST.json")

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def has(self, stage: str) -> bool:
        return (
            stage in self.manifest
            and os.path.exists(os.path.join(self._stage_path(stage), "_SUCCESS"))
        )

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.parquet(self._stage_path(stage))

    def write(self, df: DataFrame, stage: str, meta: dict | None = None) -> None:
        """`meta`: JSON-able facts about HOW the stage table was built
        (e.g. the minhash banding of a signature index) — recorded in the
        manifest entry so readers can validate compatibility instead of
        silently consuming an index built under different parameters."""
        path = self._stage_path(stage)
        df.write.mode("overwrite").parquet(path)
        self.manifest[stage] = {
            "completed_at": time.time(), **_layout(path), **(meta or {})
        }
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=2)
        os.replace(tmp, self._manifest_path())  # atomic manifest commit

    def run_stage(
        self,
        spark: SparkSession,
        stage: str,
        compute,
        expect_cols: list[str] | None = None,
    ) -> DataFrame:
        """Compute-or-resume: returns the stage DataFrame either way.

        `expect_cols` guards schema evolution: a stage table written by an
        older code version that lacks any expected column is recomputed
        instead of resumed (otherwise downstream references to the new
        columns fail — or worse, silently disappear from derived metrics)."""
        if self.has(stage):
            df = self.read(spark, stage)
            if not expect_cols or set(expect_cols) <= set(df.columns):
                return df
        df = compute()
        self.write(df, stage)
        return self.read(spark, stage)
