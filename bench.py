"""Benchmark harness (driver contract).

Default run: executes the headline query suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] plus the
flagship curation-pipeline throughput (pages → score → rules → verdict
→ scrub), and prints ONE JSON line (SPARK_GRAFT_CPUS defaults to the
CPUs this process may run on):

    {"metric": "...", "value": N, "unit": "sec",
     "queries": {...}, "sf": ..., "curation_docs_per_sec": ...}

Scaling evidence (north rule: ≥0.8 throughput scaling efficiency from
N to 4N executors, evidenced in-sandbox as local[8] vs local[32] on
the SAME input):

    python bench.py --scaling     # runs both levels, writes BENCH.md

Every query is forced end-to-end with the noop sink (full computation,
no driver materialization of wide text columns).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

HEADLINE = [
    "pricing_summary",
    "join_revenue_by_nation",
    "cont_stats_quantity",
    "npct_returnflag",
    "window_latest_event",
    "dash_window_counts",
    "dedup_exact",
    "ngram_jaccard_pairs",
    "ngram_jaccard_capped",
    "minhash_lsh_pairs",
    "embedding_topk",
    "embedding_dup_pairs",
    "embedding_dup_pairs_lsh",
    "embedding_dup_pairs_multiseed",
    "ivf_topk",
    "span_dedup",
    "span_dedup_cdc",
    "url_filter",
    "extract_text",
    "extract_text_lines",
    "line_dedup",
    "c4_line_filter",
    "c4_sentence_dedup",
    "url_canonicalize",
    "domain_temperature_sample",
    "domain_cap",
    "vocab_stats",
    "dedup_against_snapshot",
    "boilerplate_lines",
    "mojibake_fix",
    "robots_meta",
    "ccnet_quality_buckets",
    "gopher_repetition",
    "scrub_hit_stats",
    "language_mix",
    "domain_dist_documents",
    "dup_cluster_stats",
    "decontaminate_remove",
    "verdict_documents",
    "scrub_full",
    "langid_heuristic",
    "topgram_repetition",
    "decontaminate",
]

BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "100000"))
PAGES_CACHE = os.environ.get(
    "SPARK_GRAFT_PAGES_CACHE", "/tmp/spark_graft_bench"
)


def _sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()
    # release operator-attached caches (embedding-LSH/multiseed and
    # url_filter persist ids-only frames for multi-action callers; a
    # bench query is done with them after its one action). One-shot
    # drivers that skip this — e.g. the correctness harness — only
    # defer release to ContextCleaner, which is safe, just lazier.
    from pcornet_data_curation_spark.operators.dedup import unpersist_deps

    unpersist_deps(df)


def prepare_pages(spark, n_docs: int) -> str:
    """Materialize the deterministic pages fixture ONCE; both scaling
    levels read the identical parquet input."""
    from pcornet_data_curation_spark.datagen.pages import pages_df

    path = os.path.join(PAGES_CACHE, f"pages_{n_docs}.parquet")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        pages_df(spark, n_docs, partitions=64).write.mode("overwrite").parquet(path)
    return path


def run_curation(spark, pages_path: str) -> tuple[float, int]:
    """Time the full row-level curation chain (stages 0-5) end-to-end,
    steady-state: a small warm-up run first spins up the Python UDF
    workers + JIT (on a real cluster executors/workers are long-lived;
    cold worker startup is a fixed ~6-9 s wall cost that would otherwise
    dominate the measurement and is not what the north rule's
    throughput-scaling criterion is about)."""
    from pcornet_data_curation_spark.config import PipelineConfig
    from pcornet_data_curation_spark.plans.pipeline import curate

    # 256 (bucket, salt) partitions: ~8 waves on 32 cores — fine enough
    # that per-doc cost variance doesn't leave straggler tails (32
    # partitions = one wave measured ~2× slower at local[32])
    cfg = PipelineConfig(
        output_root="/tmp/spark_graft_bench_out", n_buckets=64, salt_factor=4
    )
    pages = spark.read.parquet(pages_path)
    n = pages.count()
    _sink(curate(pages.limit(2000), cfg))  # warm-up: workers + codegen
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))
    best = float("inf")
    for _ in range(max(repeats, 1)):
        t0 = time.perf_counter()
        _sink(curate(pages, cfg))
        best = min(best, time.perf_counter() - t0)
    return best, n


def run_curation_full(spark, pages_path: str) -> float:
    """The EVERY-STAGE-ON production stack: noindex politeness filter,
    missing-text extraction, mojibake repair, boilerplate removal,
    exact dedup in drop mode — the configuration a real webtext run
    would ship with. Measured next to the default-config pass so the
    marginal cost of the full stack is a datum, not a guess."""
    from pcornet_data_curation_spark.config import PipelineConfig
    from pcornet_data_curation_spark.plans.pipeline import curate

    cfg = PipelineConfig(
        output_root="/tmp/spark_graft_bench_out", n_buckets=64, salt_factor=4,
        respect_noindex=True, extract_missing_text=True,
        fix_mojibake=True, remove_boilerplate=True, dedup="drop",
    )
    pages = spark.read.parquet(pages_path)
    _sink(curate(pages.limit(2000), cfg))  # warm-up
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        _sink(curate(pages, cfg))
        best = min(best, time.perf_counter() - t0)
    return best


def run_reports(n_docs: int) -> int:
    """Cross-run drift/staleness/trend cost at bench scale (r4 verdict
    task #8): run the full pipeline twice over the same corpus — the
    second run with prior_run_root pointing at the first — and time
    (a) both end-to-end runs and (b) the isolated drift-family
    computation over the two normalized metrics tables. The claim
    'cross-run report cost is independent of corpus size' (drift joins
    METRIC rows, never fact rows) gets a measured number."""
    import shutil

    from pcornet_data_curation_spark.config import PipelineConfig
    from pcornet_data_curation_spark.operators.checks import DEFAULT_CHECKS
    from pcornet_data_curation_spark.operators.drift import (
        drift_metrics,
        trend_metrics,
    )
    from pcornet_data_curation_spark.plans.pipeline import run_pipeline
    from pcornet_data_curation_spark.session import get_spark

    spark = get_spark(app_name="bench-reports")
    pages_path = prepare_pages(spark, n_docs)
    pages = spark.read.parquet(pages_path)
    root = "/tmp/spark_graft_bench_reports"
    shutil.rmtree(root, ignore_errors=True)
    out1, out2 = os.path.join(root, "run1"), os.path.join(root, "run2")

    t0 = time.perf_counter()
    run_pipeline(spark, pages, PipelineConfig(output_root=out1, n_buckets=64))
    run1_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    run_pipeline(
        spark, pages,
        PipelineConfig(output_root=out2, n_buckets=64, prior_run_root=out1),
    )
    run2_s = time.perf_counter() - t0

    # isolated drift-family cost over the two metrics tables
    now = spark.read.parquet(os.path.join(out2, "metrics"))
    prior = spark.read.parquet(os.path.join(out1, "metrics"))
    fo = lambda m: m.where(~m.dc_name.startswith("drift|"))  # noqa: E731
    t0 = time.perf_counter()
    d = drift_metrics(fo(now), fo(prior))
    tr = trend_metrics(DEFAULT_CHECKS, fo(now), fo(prior))
    drift_rows = d.count() + tr.count()
    drift_s = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "metric": "cross_run_reports",
                "unit": "sec",
                "docs": n_docs,
                "run1_sec": round(run1_s, 2),
                "run2_with_prior_sec": round(run2_s, 2),
                "drift_family_sec": round(drift_s, 2),
                "drift_rows": int(drift_rows),
                "metrics_rows": int(now.count()),
            }
        )
    )
    spark.stop()
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true", help="local[8] vs local[32] run")
    ap.add_argument("--reports", action="store_true", help="cross-run drift cost")
    ap.add_argument("--curation-only", action="store_true")
    ap.add_argument("--docs", type=int, default=None)
    args = ap.parse_args()

    if args.reports:
        return run_reports(args.docs or BENCH_DOCS)
    if args.scaling:
        # scaling needs a large enough job that per-core work dominates
        # the parallelism-independent residue (shuffle setup, driver
        # scheduling): ≥600k docs measured ≥0.79 efficiency, 100k ~0.67
        return run_scaling(args.docs or max(BENCH_DOCS, 600_000))
    args.docs = args.docs or BENCH_DOCS

    from pcornet_data_curation_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    load_start = os.getloadavg()
    spark = get_spark(app_name="bench", cores=cpus)

    timings: dict[str, float] = {}

    if not args.curation_only:
        from pcornet_data_curation_spark import queries as Q

        qs = Q.queries()
        spark.range(0, 10_000_000, 1, cpus).selectExpr("sum(id)").collect()
        # best-of-2 per query: this shared sandbox shows 2-3x noisy-
        # neighbor swings between runs; min is the capability number
        for name in HEADLINE:
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                _sink(qs[name](spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 3)
            # isolate entries from each other: with 40+ queries in one
            # JVM, leaked cache blocks + garbage from earlier entries'
            # collect_list/broadcast state inflate later entries ~2x
            # (measured: topgram 5.9 s in-suite vs 3.1 s isolated on
            # the same quiet window). Clear + GC returns each entry to
            # near-isolated conditions without per-entry sessions.
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()

    pages_path = prepare_pages(spark, args.docs)
    cur_s, n_docs = run_curation(spark, pages_path)
    timings["curation_pipeline"] = round(cur_s, 3)
    docs_per_sec = round(n_docs / cur_s, 1)
    timings["curation_pipeline_full"] = round(
        run_curation_full(spark, pages_path), 3
    )

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "curation_docs": n_docs,
        "curation_docs_per_sec": docs_per_sec,
    }
    # the scaling harness spawns many --curation-only subprocesses; the
    # ceiling probes are measured once by run_scaling itself there
    out.update(window_evidence(load_start, ceilings=not args.curation_only))
    print(json.dumps(out))
    spark.stop()
    return 0


def window_evidence(
    load_start: tuple[float, float, float], ceilings: bool = True
) -> dict:
    """Live contention evidence stamped INTO the emitted JSON so the
    per-round artifact is self-interpreting (r4 verdict task #2: a
    contended window inflated BENCH_r04 vs the clean-window prose in
    BENCH.md; per-entry numbers should carry their own weather
    report). load_avg is (start, end) 1-min loadavg around the suite;
    the two ceilings are the measured 8→32-process scaling of a
    CPU-bound and a memory-bandwidth-bound probe on THIS host at
    measurement time — the brackets any single-box scaling reading
    must be placed between (see BASELINE.md)."""
    probe = ceilings and (os.cpu_count() or 0) >= 32
    return {
        "load_avg": {
            "start_1min": round(load_start[0], 2),
            "end_1min": round(os.getloadavg()[0], 2),
        },
        "cpu_ceiling": machine_ceiling() if probe else None,
        "membw_ceiling": machine_membw_ceiling() if probe else None,
    }


def _burn(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def machine_ceiling() -> float:
    """Raw 8→32-process CPU scaling of THIS host (no Spark): the upper
    bound any job can reach. Single-box 8-vs-32 shares memory bandwidth
    and thermal/frequency budget, unlike N vs 4N separate executors, so
    the pipeline's efficiency is also reported normalized to this."""
    import multiprocessing as mp

    burn = _burn
    times = {}
    for procs in (8, 32):
        with mp.Pool(procs) as p:
            p.map(burn, [100_000] * procs)  # warm pool
            t0 = time.perf_counter()
            p.map(burn, [3_000_000] * 128)
            times[procs] = time.perf_counter() - t0
    return round(times[8] / times[32] / 4.0, 3)


_TRIAD_BUFS = None
_TRIAD_N = 8_000_000  # 3 × 64 MB per worker → ~6 GB peak at 32 procs


def _triad_init() -> None:
    """Pool initializer: allocate (and touch) the buffers BEFORE the
    timed region — warm-up via map() does not guarantee every worker
    pulls a task, and a mid-measurement 192 MB page-zeroing allocation
    is exactly the artifact that swings the ratio."""
    import numpy as _np

    global _TRIAD_BUFS
    a = _np.ones(_TRIAD_N)
    b = _np.ones(_TRIAD_N)
    c = _np.zeros(_TRIAD_N)
    _TRIAD_BUFS = (a, b, c)


def _triad(n: int) -> float:
    if _TRIAD_BUFS is None:  # direct call outside a pool
        _triad_init()
    import numpy as _np

    a, b, c = _TRIAD_BUFS
    t0 = time.perf_counter()
    for _ in range(n):
        _np.multiply(b, 1.01, out=c)
        c += a
    return time.perf_counter() - t0


def machine_membw_ceiling() -> float:
    """Raw 8→32-process scaling of a STREAM-triad (memory-BANDWIDTH
    bound) workload on THIS host. Single-box bandwidth is a shared
    fixed resource: on this sandbox 8 processes already saturate it
    (measured ratio ~0.26), so any byte-moving stage of the pipeline
    is capped by THIS number on one box — while on N→4N separate
    executors every node brings its own memory controllers. Reported
    alongside the CPU ceiling so a single-box efficiency reading can
    be placed between the two."""
    import multiprocessing as mp

    times = {}
    for procs in (8, 32):
        with mp.Pool(procs, initializer=_triad_init) as p:
            p.map(_triad, [1] * procs)  # warm numpy/jit, buffers preallocated
            t0 = time.perf_counter()
            p.map(_triad, [4] * 64)
            times[procs] = time.perf_counter() - t0
    return round(times[8] / times[32] / 4.0, 3)


def run_scaling(n_docs: int) -> int:
    """Same job, same input, two parallelism levels → scaling efficiency.

    efficiency = (docs/sec at 32 cores) / (4 × docs/sec at 8 cores)
    """
    # INTERLEAVED rounds (8,32,8,32,...), best-of per level: the two
    # levels must see the SAME noisy-neighbor environment or the ratio
    # is garbage — a sequential [8×N then 32×N] design measured 0.55
    # and 0.93 on the same code depending on which phase the neighbor
    # load landed in. Min-of-interleaved is the honest capability pair.
    #
    # CPU PINNING (taskset -c 0-(N-1)): in local[N] mode the Python
    # UDF workers run OUTSIDE the N-thread JVM budget, so an unpinned
    # "local[8]" run borrows up to 8 extra cores whenever JVM and
    # Python sides overlap — inflating the N-level baseline and
    # understating N→4N efficiency (measured: unpinned local[8] hit
    # 12.6k docs/s on a quiet 32-core box — more than an 8-core
    # machine can do). A real N-core executor cgroups BOTH sides onto
    # N cores; pinning reproduces that.
    rounds = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "2"))
    # pinning needs the cores it names; on a smaller host fall back to
    # unpinned (taskset to nonexistent CPUs errors out the subprocess)
    pin = (
        os.environ.get("SPARK_GRAFT_SCALING_PIN", "1") != "0"
        and (os.cpu_count() or 0) >= 32
    )
    results: dict[int, dict] = {}
    for _ in range(rounds):
        for cpus in (8, 32):
            env = dict(
                os.environ,
                SPARK_GRAFT_CPUS=str(cpus),
                SPARK_GRAFT_BENCH_REPEATS="1",
            )
            cmd = [sys.executable, os.path.join(REPO, "bench.py"),
                   "--curation-only", "--docs", str(n_docs)]
            if pin:
                cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
            out = subprocess.run(
                cmd,
                env=env,
                capture_output=True,
                text=True,
                check=True,
            )
            line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
            r = json.loads(line)
            if (
                cpus not in results
                or r["curation_docs_per_sec"] > results[cpus]["curation_docs_per_sec"]
            ):
                results[cpus] = r
    tp8 = results[8]["curation_docs_per_sec"]
    tp32 = results[32]["curation_docs_per_sec"]
    eff = round(tp32 / (4.0 * tp8), 3)
    ceiling = machine_ceiling()
    summary = {
        "metric": "scaling_efficiency_8_to_32",
        "value": eff,
        "unit": "ratio",
        "docs": n_docs,
        "docs_per_sec": {"local[8]": tp8, "local[32]": tp32},
        "curation_sec": {
            "local[8]": results[8]["queries"]["curation_pipeline"],
            "local[32]": results[32]["queries"]["curation_pipeline"],
        },
        "host_cpu_scaling_ceiling": ceiling,
        # an 8-vs-32-process probe (and its ~6 GB of touched buffers)
        # is meaningless and OOM-prone on a sub-32-core host
        "host_membw_scaling_ceiling": (
            machine_membw_ceiling() if (os.cpu_count() or 0) >= 32 else None
        ),
        "efficiency_vs_host_ceiling": round(eff / ceiling, 3) if ceiling else None,
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
