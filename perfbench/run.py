#!/usr/bin/env python3
"""Curation benchmark: one workload, measured for a fixed time.

    python3 perfbench/run.py --workload crawl_batch --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The program is imported from
that checkout; every file the run writes lives under
``.perfbench_work/`` there and is removed at exit.

One invocation: start the session and warm the Python worker pool
(together ``setup_s``; input generation is excluded), then repeat the
workload's timed run, closed loop with one client, until ``--seconds``
have passed (always at least once). Every run's output is checked.
Set-up and run times are wall times less the share the hypervisor stole
from this machine's CPUs while they ran (see ``Clock``): on a shared
host, steal varies from run to run by more than any bound. The
last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Metric names and units come
from ``BENCHMARK.json``. perfbench/LAYERS.md maps each per-layer metric
to the end-to-end metric and workload it should move.

``--trace 1`` replaces the timed runs with one traced run of the
workload (a span around every DataFrame action the program issues,
each under its own Spark job group), then replays the workload layer
by layer from this benchmark's own code.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "pcornet_data_curation_spark"


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by forked Python workers
    count once across the tree, not once per worker."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _tree_rss_mb(root_pid: int) -> float:
    """Resident memory (PSS) of a process and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            total += _pss_kb(pid)
        except (OSError, IndexError, ValueError):
            pass
    return total / 1e3


def _cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all of this machine's CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    return v[0] + v[1] + v[2] + v[5] + v[6], (v[7] if len(v) > 7 else 0)


class Clock:
    """Times a block: ``wall`` seconds, ``steal``, the share of the busy
    CPU time the hypervisor stole from this machine while it ran
    (stolen / (busy + stolen) ticks), and ``s = wall * (1 - steal)``,
    a pro-rata estimate of the time had none been stolen. It corrects
    too little when the block's critical path is one thread. On a host
    that steals nothing, ``s == wall``."""

    def __enter__(self):
        self._c0, self._t0 = _cpu_ticks(), time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t0
        busy, stolen = (b - a for a, b in zip(self._c0, _cpu_ticks()))
        self.steal = stolen / (busy + stolen) if busy + stolen else 0.0
        self.s = self.wall * (1.0 - self.steal)


class RssSampler:
    """Peak resident memory of the JVM and its Python workers, sampled
    every ``interval`` seconds on a background thread (one sample walks
    /proc, a few ms of the driver's interpreter lock)."""

    def __init__(self, pid: int, interval: float = 0.5):
        self.pid, self.interval, self.peak = pid, interval, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_mb(self.pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def _start_session(work: str):
    from pcornet_data_curation_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            # fixed and small: well below any host's RAM, and a heap that
            # fills to its cap makes peak memory repeatable
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None and getattr(gw, "proc", None) is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)


def _count_rows(spark, path: str) -> int:
    return spark.read.parquet(path).count() if os.path.isdir(path) else 0


def _timed_runs(wl, work: str, seconds: float, errors: list[str]):
    """Closed loop, one client: run until ``seconds`` have passed (at
    least once). Returns (clocks of the runs that completed, outputs,
    runs attempted, peak memory)."""
    from pyspark import SparkContext

    clocks, outs, attempted = [], [], 0
    deadline = time.perf_counter() + seconds
    with RssSampler(SparkContext._gateway.proc.pid) as rss:
        while True:
            out = os.path.join(work, f"run{attempted}")
            attempted += 1
            try:
                with Clock() as clock:
                    wl.run(out)
            except Exception:
                errors.append(traceback.format_exc())
            else:
                clocks.append(clock)
                outs.append(out)
            if time.perf_counter() >= deadline:
                break
    return clocks, outs, attempted, rss.peak


def measure(args, work: str, spec: dict) -> dict:
    from spans import Tracer, attribute_actions
    from workloads import WORKLOADS, dir_size

    errors: list[str] = []
    wl = WORKLOADS[args.workload](args.seed, work)
    wl.generate()
    # the session starts after generation, so nothing competes with it
    with Clock() as start:
        spark = wl.spark = _start_session(work)
    start_s = start.s
    try:
        tracer = Tracer(spark) if args.trace else None
        with Clock() as warm, tracer.span("session") if tracer else contextlib.nullcontext():
            wl.warm()
        warm_s = warm.s

        if not args.trace:
            clocks, outs, attempted, peak = _timed_runs(wl, work, args.seconds, errors)
            problems = [p for p in map(wl.check, outs) if p]
            errors.extend(problems)
            failed = attempted - len(outs) + len(problems)
            if not clocks:
                raise RuntimeError("no run completed:\n" + "\n".join(errors))
            times = [c.s for c in clocks]
            run_s = statistics.median(times)
            print(f"run wall median {statistics.median(c.wall for c in clocks):.3f} s, "
                  f"steal {statistics.median(c.steal for c in clocks):.1%} of busy CPU; "
                  f"setup wall {start.wall + warm.wall:.3f} s")
            return _result(spec["end_to_end"], attempted, failed, errors, times, {
                "setup_s": start_s + warm_s,
                "run_s": run_s,
                "docs_per_s": wl.n_docs / run_s,
                "peak_rss_mb": peak,
                "out_bytes_per_doc": statistics.median(dir_size(o)[0] for o in outs) / wl.n_docs,
            })

        # traced run: the same first run of the JVM as the timed run
        out = os.path.join(work, "traced")
        with tracer.span("run"), attribute_actions(tracer):
            wl.run(out)
        problems = [wl.check(out)]
        try:
            counts = wl.replay(tracer, out)
        except AssertionError as e:
            problems.append(str(e))
            counts = {}
        problems = [p for p in problems if p]
        errors.extend(problems)
        # the raw spans, for reading where a change moved time
        t_first = min((s.start for s in tracer.spans), default=0.0)
        print(json.dumps({"spans": [
            [s.name, s.parent, round(s.start - t_first, 4), round(s.dur, 4)] for s in tracer.spans
        ]}), file=sys.stderr)
        return _result(spec["per_layer"], 2, len(problems), errors, [tracer.durations()["run"]],
                       _layer_metrics(spec, spark, tracer, counts, out, start_s, warm_s))
    finally:
        _stop_session(spark)


def _layer_metrics(spec, spark, tracer, counts, out, start_s, warm_s) -> dict:
    from spans import coverage, self_times
    from workloads import dir_size

    dur = tracer.durations()
    self_t = self_times(tracer.spans)
    groups = tracer.group_counters()

    def grp(layer: str, key: str) -> float:
        return sum(
            c.get(key, 0.0) for g, c in groups.items()
            if g == layer or g.startswith(layer + ".")
        )

    write_bytes, write_files = dir_size(os.path.join(out, "curated"))
    m = {
        "session.start_s": start_s,
        "session.worker_warm_s": warm_s,
        "scan.s": dur.get("scan", 0.0),
        "scan.input_mb": grp("scan", "input_mb"),
        "repartition.s": dur.get("repartition", 0.0),
        "repartition.shuffle_mb": grp("repartition", "shuffle_mb"),
        "score.s": dur.get("score", 0.0),
        "verdict.s": dur.get("verdict", 0.0),
        "scrub.s": dur.get("scrub", 0.0),
        "write.s": dur.get("write", 0.0),
        "write.mb": write_bytes / 1e6,
        "write.files": write_files,
        "urlfilter.s": dur.get("urlfilter", 0.0),
        "robotsmeta.s": dur.get("robotsmeta", 0.0),
        "extract.s": dur.get("extract", 0.0),
        "mojibake.s": dur.get("mojibake", 0.0),
        "boilerplate.s": dur.get("boilerplate", 0.0),
        "dedup.minhash_s": dur.get("dedup.minhash", 0.0),
        "dedup.band_join_s": max(0.0, dur.get("dedup.lsh", 0.0) - dur.get("dedup.minhash", 0.0)),
        "dedup.cc_s": dur.get("dedup.cc", 0.0),
        "dedup.shuffle_mb": grp("dedup", "shuffle_mb"),
        "curate.s": self_t.get("curate", 0.0),
        "checkpoint.s": self_t.get("checkpoint", 0.0),
        "reports.s": self_t.get("reports", 0.0),
        "reports.jobs": grp("reports", "jobs"),
        "reports.scan_mb": grp("reports", "input_mb"),
        "normalize.s": self_t.get("normalize", 0.0),
        "normalize.metric_rows": _count_rows(spark, os.path.join(out, "metrics")),
        "checks.s": self_t.get("checks", 0.0),
        "checks.exceptions": _count_rows(spark, os.path.join(out, "exceptions")),
        "drift.s": dur.get("drift", 0.0),
        "render.s": self_t.get("render", 0.0),
        "trace.coverage": coverage(tracer.spans, "run"),
        "trace.overhead_s": tracer.overhead_s,
        "trace.run_s": dur["run"],
    }
    for d in spec["per_layer"]:
        name = d["name"]
        layer, _, key = name.rpartition(".")
        if key in ("gc_s", "spill_mb", "failed_tasks"):
            m[name] = grp(layer, key)
        elif name not in m:
            m[name] = counts.get(name, 0.0)
    return m


def _result(declared, attempted, failed, errors, times, values) -> dict:
    names = [d["name"] for d in declared]
    extra = set(values) - set(names)
    if extra:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(extra)}")
    for e in errors:
        print(e, file=sys.stderr)
    n = len(times)
    # highest percentile with at least ten samples beyond it
    tail = f"p{100 * (n - 10) // n} {sorted(times)[n - 11]:.3f} s" if n > 10 else "none (n <= 10)"
    print(f"runs: {n} timed, run_s median {statistics.median(times):.3f} s, highest percentile {tail}")
    print(f"error_rate: {failed}/{attempted} = {failed / attempted:.4f}")
    metrics = {}
    for d in declared:
        v = float(values[d["name"]])
        metrics[d["name"]] = {"value": v, "unit": d["unit"]}
        print(f"{d['name']}: {v:.6g} {d['unit']}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG}/ package beside {HERE}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    sys.path[:0] = [HERE, ROOT]
    try:
        result = measure(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
