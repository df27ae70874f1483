"""Spans and per-layer Spark metrics, recorded from outside the program.

A span is (name, start, end, parent, trace id). Layer spans run their work
in a Spark job group of their own; when a span closes, the jobs of that
group are read back through `statusTracker()` and, per stage, through the
driver's status store (`statusStore().lastStageAttempt`, which is
populated with the UI off). Spans stay in memory until `dump`.

Layers nest: while a child layer runs, its parent's clock is paused and
its jobs go to the child's group, so every figure is exclusive.

`Tracer.wrap` is how a layer is entered during a traced operation: the
program's own entry point runs unchanged, and each layer function it
calls (looked up by module attribute, as the program looks it up) is
replaced for the duration by a wrapper that runs the real function in the
layer and materializes its DataFrame output there, so the next layer
reads it instead of recomputing it.

A layer may be entered several times in one run (four checkpoint writes,
say); its metrics are summed, and `task_skew` is taken from the stage with
the most executor time across all of its visits: max task run time over
median task run time, the hot-key signal.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

LAYER_FIELDS = ("wall_s", "jobs", "tasks", "executor_run_s", "executor_cpu_s",
                "shuffle_read_mb", "shuffle_write_mb", "rows_out", "task_skew")

# layers in the order the program runs them; `session` has wall time only
LAYERS = (
    "session", "canonicalize", "canonicalize.cache",
    "extract.ingest", "extract.anchors", "extract.prefilter", "extract.kernel",
    "triples", "checkpoints.write", "checkpoints.read", "export",
    "dedup.signatures", "dedup.candidates", "dedup.verify", "dedup.cc",
)

# fields a layer does not report: the cache load shuffles next to nothing
SKIPPED = {
    "session": LAYER_FIELDS[1:],
    "canonicalize.cache": ("shuffle_read_mb", "shuffle_write_mb", "task_skew"),
}

IDLE_GROUP = "perfbench.untraced"


class Tracer:
    """`collect_jobs=False` (the untraced run) keeps wall-time spans only:
    no job groups and no status-store reads."""

    def __init__(self, collect_jobs: bool) -> None:
        self.collect_jobs = collect_jobs
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._active: list[dict] = []  # open layers, innermost last
        self.layers: dict[str, dict] = {}
        self.ratios: dict[str, float] = {}
        self.calls: dict[str, int] = {}  # per wrapped attribute
        self.outputs: dict[tuple[str, str], list] = {}  # (layer, attribute)
        self._skew_stage: dict[str, tuple[float, float]] = {}

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "trace_id": self.trace_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def layer(self, name: str, spark=None):
        """A span whose exclusive wall time counts toward layer `name`;
        with `spark`, its jobs also run in a group of their own and their
        metrics count."""
        if not self.collect_jobs:
            spark = None
        layer = self.layers.setdefault(name, dict.fromkeys(LAYER_FIELDS, 0.0))
        parent = self._active[-1] if self._active else None
        now = time.perf_counter()
        if parent is not None:
            parent["layer"]["wall_s"] += now - parent["t"]
        with self.span(name) as rec:
            group = f"perfbench.{self.trace_id}.{rec['id']}.{name}"
            frame = {"layer": layer, "t": now, "group": group if spark else None}
            self._active.append(frame)
            if spark is not None:
                spark.sparkContext.setJobGroup(group, name)
            try:
                yield rec
            finally:
                now = time.perf_counter()
                layer["wall_s"] += now - frame["t"]
                self._active.pop()
                if parent is not None:
                    parent["t"] = now
                if spark is not None:
                    outer = parent["group"] if parent and parent["group"] else None
                    spark.sparkContext.setJobGroup(outer or IDLE_GROUP, "untraced")
                    self._add_jobs(spark, group, name, layer)

    @contextmanager
    def wrap(self, spark, targets):
        """Within the block, route calls of each `(owner, attr, layer)`
        target through `layer`, materializing DataFrame results there."""
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
        for (owner, attr, name), (_, _, fn) in zip(targets, saved):
            self.calls.setdefault(attr, 0)
            setattr(owner, attr, self._wrapped(spark, fn, name, attr))
        try:
            yield
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)

    def _wrapped(self, spark, fn, name, attr):
        def call(*args, **kwargs):
            self.calls[attr] += 1
            with self.layer(name, spark):
                out = _materialize(fn(*args, **kwargs))
            self.outputs.setdefault((name, attr), []).append(out)
            return out
        return call

    def missed(self) -> list[str]:
        """Wrapped attributes the program never called: the traced run
        then no longer follows the program, and fails."""
        return sorted(attr for attr, n in self.calls.items() if n == 0)

    def rows(self, attr: str) -> int:
        """Rows of every DataFrame a wrapped attribute returned (the first
        element of a tuple result), counted after the fact."""
        return sum(_first(out).count() for (_, a), outs in self.outputs.items()
                   if a == attr for out in outs if _first(out) is not None)

    def count_rows(self) -> None:
        for layer, attr in self.outputs:
            self.add_rows(layer, self.rows(attr))

    def add_rows(self, name: str, rows: int) -> None:
        self.layers.setdefault(name, dict.fromkeys(LAYER_FIELDS, 0.0))["rows_out"] += rows

    def _add_jobs(self, spark, group: str, name: str, layer: dict) -> None:
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        job_ids = tracker.getJobIdsForGroup(group)
        layer["jobs"] += len(job_ids)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        top = self._skew_stage.get(name, (-1.0, 0.0))
        for s in stage_ids:
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:  # evicted from the status store
                continue
            if sd.status().toString() != "COMPLETE":  # skipped: reused shuffle
                continue
            run_ms = sd.executorRunTime()
            layer["tasks"] += sd.numCompleteTasks()
            layer["executor_run_s"] += run_ms / 1e3
            layer["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            layer["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
            layer["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            if run_ms > top[0]:
                top = (run_ms, _skew(sc, store, s, sd.attemptId()))
        if top[0] >= 0:
            self._skew_stage[name] = top
            layer["task_skew"] = top[1]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.spans,
                       "layers": self.layers, "ratios": self.ratios, **extra}, f, indent=1)


def _materialize(out):
    if isinstance(out, DataFrame):
        return out.localCheckpoint()
    if isinstance(out, tuple):
        return tuple(_materialize(o) for o in out)
    return out


def _first(out):
    out = out[0] if isinstance(out, tuple) else out
    return out if isinstance(out, DataFrame) else None


def _skew(sc, store, stage_id: int, attempt: int) -> float:
    """max / median task executor run time of one stage (1.0 when the
    stage's tasks are too short to tell apart)."""
    gw = sc._gateway
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    summary = store.taskSummary(stage_id, attempt, q)
    if not summary.isDefined():
        return 1.0
    run = summary.get().executorRunTime()
    med, mx = run.apply(0), run.apply(1)
    return mx / med if med > 0 else 1.0
