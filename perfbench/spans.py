"""Spans, Spark job groups and engine counters for the traced run.

A ``Tracer`` records spans (name, parent, start, end) in memory. Each
span runs under a Spark job group of its own name, so the engine
counters of every job it started (task time, GC, shuffle, spill,
input bytes, failed tasks) can be read back per span from the
application status store, which Spark keeps even with the UI off.

``attribute_actions`` opens a child span around every DataFrame action
the program issues (writes, collects, counts, local checkpoints), named
by what the action does. Time inside the parent span that no action
covers is the parent's self time: work the layer map does not account
for shows up there instead of vanishing.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per span name: duration minus the part its direct
    children cover (children never overlap: one client thread)."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.dur
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += s.dur - child.get(id_of(s), 0.0)
    return dict(out)


def id_of(s: Span) -> str:
    return f"{s.name}@{s.start!r}"


def coverage(spans: list[Span], root: str) -> float:
    """Share of the root span's time that its child spans cover: one
    minus the root's self time over its duration."""
    total = sum(s.dur for s in spans if s.name == root)
    if total <= 0:
        return 0.0
    return 1.0 - self_times(spans)[root] / total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # extra job groups (e.g. a streaming query's run id) -> layer
        self.group_alias: dict[str, str] = {}
        # time spent in the tracer's own bookkeeping (job groups, layer
        # attribution): the overhead tracing adds to a traced run
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, id_of(parent) if parent else None, t0)
        self._stack.append(s)
        self.sc.setJobGroup(name, name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = t1
            self._stack.pop()
            self.spans.append(s)
            if parent is not None:
                self.sc.setJobGroup(parent.name, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - t1

    def durations(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.dur
        return dict(out)

    def group_counters(self) -> dict[str, dict[str, float]]:
        """Engine counters summed over every stage attempt of every job,
        keyed by job group (spans' names, or their alias)."""
        store = self.sc._jsc.sc().statusStore()
        jvm, gw = self.sc._jvm, self.sc._gateway
        no_status = jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(jvm.double, 0)
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            grp = job.jobGroup()
            if not grp.isDefined():
                continue
            name = self.group_alias.get(grp.get(), grp.get())
            c = out[name]
            c["jobs"] += 1
            sids = job.stageIds()
            for k in range(sids.size()):
                attempts = store.stageData(sids.apply(k), False, no_status, False, no_quantiles)
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    c["task_s"] += sd.executorRunTime() / 1000.0
                    c["gc_s"] += sd.jvmGcTime() / 1000.0
                    c["shuffle_mb"] += sd.shuffleWriteBytes() / 1e6
                    c["input_mb"] += sd.inputBytes() / 1e6
                    c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
                    c["failed_tasks"] += sd.numFailedTasks()
        return out


# path leaf written by run_pipeline -> layer
_WRITE_LAYERS = {
    "curated": "curate",
    "metrics": "normalize",
    "exceptions": "checks",
    "completeness": "checks",
    "lineage": "checkpoint",
}
# module of the innermost program frame issuing a non-write action -> layer
_MODULE_LAYERS = {
    "pipeline": "checkpoint",  # per-bucket completion stats for the manifest
    "report_render": "render",
    "dedup": "dedup",
}
_PKG = "pcornet_data_curation_spark"


def _layer_of_write(path: str) -> str:
    parts = os.path.normpath(path).split(os.sep)
    if len(parts) >= 2 and parts[-2] == "reports":
        return "reports"
    return _WRITE_LAYERS.get(parts[-1], "write_other")


def _layer_of_caller() -> str:
    f = sys._getframe(2)
    while f is not None:
        fn = f.f_code.co_filename
        if _PKG in fn:
            mod = os.path.splitext(os.path.basename(fn))[0]
            return _MODULE_LAYERS.get(mod, mod)
        f = f.f_back
    return "bench"


@contextlib.contextmanager
def attribute_actions(tracer: Tracer):
    """Child span around every DataFrame action issued inside."""
    from pyspark.sql import DataFrameWriter

    try:  # the concrete class behind every DataFrame of a local session
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    active = [False]
    patched = []

    def wrap(cls, name, layer_fn):
        orig = getattr(cls, name)

        def wrapper(self, *a, **k):
            if active[0]:
                return orig(self, *a, **k)
            active[0] = True
            try:
                t0 = time.perf_counter()
                layer = layer_fn(a, k)
                tracer.overhead_s += time.perf_counter() - t0
                with tracer.span(layer):
                    return orig(self, *a, **k)
            finally:
                active[0] = False

        patched.append((cls, name, orig))
        setattr(cls, name, wrapper)

    def by_path(a, k):
        path = a[0] if a else k.get("path")
        return _layer_of_write(path) if path else _layer_of_caller()

    try:
        wrap(DataFrameWriter, "parquet", by_path)
        wrap(DataFrameWriter, "save", by_path)
        for name in ("collect", "toPandas", "count", "first", "take", "head", "localCheckpoint"):
            wrap(DataFrame, name, lambda a, k: _layer_of_caller())
        yield
    finally:
        for cls, name, orig in reversed(patched):
            setattr(cls, name, orig)


def stream_listener():
    """A StreamingQueryListener keeping every progress event's timings
    and state-store sizes (one small dict per micro-batch)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []
            self.run_ids: set[str] = set()
            self.terminated = 0

        def onQueryStarted(self, event):  # noqa: N802
            self.run_ids.add(str(event.runId))

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            d = p.durationMs
            state = p.stateOperators
            self.batches.append(
                {
                    "rows": p.numInputRows,
                    "trigger_s": d.get("triggerExecution", 0) / 1000.0,
                    "add_batch_s": d.get("addBatch", 0) / 1000.0,
                    "commit_s": (d.get("commitOffsets", 0) + d.get("walCommit", 0)) / 1000.0,
                    "state_rows": sum(s.numRowsTotal for s in state),
                    "state_mb": sum(s.memoryUsedBytes for s in state) / 1e6,
                }
            )

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            self.terminated += 1

    return StreamProgress()


def noop(df) -> None:
    """Run a frame to completion without keeping its output."""
    df.write.format("noop").mode("overwrite").save()
