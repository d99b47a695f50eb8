"""Reporting tail of a curation run: reports, metrics, checks,
completeness and REPORT.md from a few exact aggregation passes.

Mirrors the reference's split between the query run
(data_curation_tables.sas) and the downstream normalization + EDC
report (normalization.sas / edc_report.sas):

* query run — three passes over the curated table, projected once
  (operators/reports.py): per (bucket, dim, key) additive counts, sums,
  min/max and countDistinct(url), and the rows stored outside their
  url's bucket (`checkpoint.bucket_col`, checked per row); the global
  non-additive distincts and exact percentiles; the top-N hosts plus
  totals (plus the url pre-filter's counts when it ran). Each figure
  is computed once: what one aggregate fixes (a column's NULLs are n
  minus its count) is derived here, not aggregated again. Every frame
  brought to the driver is bounded by buckets x categories, months,
  windows or top-N, never by hosts or urls.
* marks — the bucket pass's dim 'all' rows are also each bucket's
  manifest mark (rows, kept): the buckets this run wrote are marked
  done right after that pass, so a bucket is counted once and is done
  only once it has been counted.
* downstream — on the driver, over a few hundred rows: the reports,
  the metrics melt, staleness, drift/trend against a prior run
  (`prior_run_root`, read with pyarrow), checks, completeness and
  REPORT.md. Each output is written once as a single parquet file
  (sources.tables.write_small_table). Only the optional CSV export
  starts Spark jobs after the passes.

Every report keeps the schema and values it had when each was its own
Spark plan: sums are NULL when all their inputs are (Spark `sum`),
percentages use the same floor / HALF_UP arithmetic, and the schemas
below are the Spark schemas the reports were written with.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pcornet_data_curation_spark.config import PipelineConfig
from pcornet_data_curation_spark.operators import reports as rp
from pcornet_data_curation_spark.operators import rules as R
from pcornet_data_curation_spark.operators.checks import (
    COMPLETENESS_DDL,
    DEFAULT_CHECKS,
    EXCEPTIONS_DDL,
    evaluate_checks,
    expected_reports_check,
)
from pcornet_data_curation_spark.operators.drift import drift_rows, staleness_rows, trend_rows
from pcornet_data_curation_spark.operators.normalize import (
    METRICS_SCHEMA,
    arrow_schema,
    melt_report,
    rows_table,
    spark_round,
)
from pcornet_data_curation_spark.operators.report_render import render_run_report
from pcornet_data_curation_spark.plans.checkpoint import Manifest, bucket_col
from pcornet_data_curation_spark.plans.lineage import LINEAGE_SCHEMA, LineageTracker
from pcornet_data_curation_spark.sources.tables import (
    append_small_table,
    export_csv,
    write_small_table,
)

LANG_VALUESET = ["en", "de", "fr", "es", "it", "pt", "nl"]
DOMAIN_TOP_N = 20

# expected-output registry (the reference's dc_tables expected-dataset
# list, data_curation_base.sas:3093-3105): every run must produce
# exactly these reports; completeness_check flags any gap
EXPECTED_REPORTS = [
    "rule_summary",
    "pages_tag",
    "lang_dist",
    "warc_ym_dist",
    "tokens_by_keep",
    "ppl_stats",
    "warc_minmax",
    "verdict_summary",
    "url_unique",
    "scrub_summary",
    "run_metadata",
    "extraction_summary",
    "dash_activity",
    "referential_summary",
    "domain_dist",
    "domain_summary",
    "dedup_summary",
]

_PCTS = "p05 double, p25 double, p50 double, p75 double, p95 double"
# report -> (Spark schema, id columns of its metrics melt)
REPORTS: dict[str, tuple[str, list[str]]] = {
    "rule_summary": (
        "bucket int, records bigint, rule_id string, fail_records bigint, fail_pct double",
        ["bucket", "rule_id"],
    ),
    "pages_tag": (
        "dataset string, tag string, all_n bigint, distinct_n bigint, null_n bigint, "
        "valid_n bigint, valid_distinct_n bigint",
        ["dataset", "tag"],
    ),
    "lang_dist": (
        "category string, ord int, record_n bigint, record_pct double, distinct_n bigint",
        ["category"],
    ),
    "warc_ym_dist": ("ym string, record_n bigint", ["ym"]),
    "tokens_by_keep": (
        f"keep boolean, n bigint, nmiss bigint, min bigint, mean double, max bigint, {_PCTS}",
        ["keep"],
    ),
    "ppl_stats": (
        f"n bigint, nmiss bigint, min double, mean double, max double, {_PCTS}", [],
    ),
    "warc_minmax": (
        "variable string, n bigint, nmiss bigint, min_ym string, max_ym string, "
        "implausible_n bigint, future_n bigint",
        ["variable"],
    ),
    "verdict_summary": ("records bigint, kept bigint, keep_pct double", []),
    "url_unique": ("url_n bigint, url_distinct_n bigint, dup_url_n bigint", []),
    "run_metadata": ("meta_key string, meta_value string", ["meta_key"]),
    "dash_activity": ("window string, record_n bigint, distinct_n bigint", ["window"]),
    # cross_bucket_dup_url_n: rows stored outside their url's bucket
    # (the bucket pass's `misplaced` sum); a url split across buckets
    # always has one
    "referential_summary": (
        "records bigint, kept_null_scrub_n bigint, null_url_n bigint, "
        "lang_nonvalueset_n bigint, kept_mean_tokens double, dropped_mean_tokens double, "
        "cross_bucket_dup_url_n bigint, drop_keep_token_ratio double",
        [],
    ),
    "domain_dist": ("host string, record_n bigint, kept_n bigint, record_pct double", ["host"]),
    "domain_summary": (
        "hosts_n bigint, records bigint, null_host_n bigint, top1_share_pct double, "
        f"top{DOMAIN_TOP_N}_share_pct double",
        [],
    ),
    "dedup_summary": (
        "mode string, method string, records bigint, dup_n bigint, dup_pct double", ["mode"],
    ),
    "url_filter_summary": ("records bigint, dropped_n bigint, dropped_pct double", []),
    "scrub_summary": ("records bigint, scrub_hits bigint, scrub_pct double", []),
    "extraction_summary": ("records bigint, mismatch_n bigint, mismatch_pct double", []),
}

# derived metric families: never compared across runs (drift of drift)
_DERIVED = ("threshold_trend", "report_staleness")


def _first_order(dc_name: str | None) -> bool:
    return dc_name is not None and not dc_name.startswith("drift|") and dc_name not in _DERIVED


# -- merging per-bucket partials with Spark's aggregate semantics --------


def _count(rows: list[dict], c: str) -> int:
    return sum(r[c] for r in rows)


def _sum(rows: list[dict], c: str, n: str | None = None):
    """Spark `sum` of the partials: NULL when no partial has a value
    (a partial is valid when its count column `n` is > 0)."""
    vals = [r[c] for r in rows if (r[c] is not None if n is None else r[n] > 0)]
    return sum(vals) if vals else None


def _min(rows: list[dict], c: str, n: str):
    vals = [r[c] for r in rows if r[n] > 0]
    return min(vals) if vals else None


def _max(rows: list[dict], c: str, n: str):
    vals = [r[c] for r in rows if r[n] > 0]
    return max(vals) if vals else None


def _mean(rows: list[dict], c: str, n: str):
    count = _count(rows, n)
    return _sum(rows, c, n) / count if count else None


def _nulls(rows: list[dict], n: str):
    """Spark `sum(isnull(x))` of the partials, from `count(x)` in `n`:
    count(*) - count(x), NULL when there is no row."""
    return _count(rows, "n") - _count(rows, n) if rows else None


def _pct_values(p) -> list:
    """The percentile array of a group (NULL when it had no values)."""
    return [None] * len(rp.DEFAULT_PCTS) if p is None else [float(x) for x in p]


def _months(lo: str, hi: str) -> list[str]:
    """Dense 'yyyy_MM' sequence from lo to hi (reference dense YM fill,
    data_curation_base.sas:1699-1785)."""
    y, m = int(lo[:4]), int(lo[5:])
    out = []
    while f"{y:04d}_{m:02d}" <= hi:
        out.append(f"{y:04d}_{m:02d}")
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    return out


def build_reports(
    by_bucket: list[dict],
    overall: dict,
    hosts: list[dict],
    url_counts: dict | None,
    cfg: PipelineConfig,
    flag_cols: list[str],
    windows: list[tuple],
    spark_version: str,
) -> dict[str, list[tuple]]:
    """Every report's rows from the passes' outputs, in write order."""
    dims: dict[str, list[dict]] = {}
    for r in sorted(by_bucket, key=lambda r: r["bucket"]):
        dims.setdefault(r["dim"], []).append(r)
    every = dims.get("all", [])

    def keyed(dim: str) -> dict:
        out: dict = {}
        for r in dims.get(dim, []):
            out.setdefault(r["key"], []).append(r)
        return out

    records = _count(every, "n")
    out: dict[str, list[tuple]] = {}

    out["rule_summary"] = [
        (
            r["bucket"], r["n"], c[5:], r[c],
            None if r[c] is None else spark_round(r[c] * 100.0 / r["n"], 2),
        )
        for r in every
        for c in flag_cols
    ]

    url_valid = dims.get("url_valid", [])
    text_n = _count(every, "text_n")
    out["pages_tag"] = [
        ("curated", "url", _count(every, "url_n"), _count(every, "url_distinct"),
         _nulls(every, "url_n"), _count(url_valid, "n") if every else None,
         _count(url_valid, "url_distinct")),
        ("curated", "lang", _count(every, "lang_n"), overall["lang_distinct"],
         _nulls(every, "lang_n"), _sum(every, "lang_valid_n"),
         overall["lang_valid_distinct"]),
        ("curated", "scrubbed_text", text_n, overall["text_distinct"],
         _nulls(every, "text_n"), text_n, overall["text_distinct"]),
    ]

    langs = keyed("lang")
    cats = [*LANG_VALUESET, rp.NULL_CATEGORY, rp.OVERFLOW_CATEGORY]
    lang_counts = [
        (c, i, _count(langs.get(c, []), "n"), _count(langs.get(c, []), "url_distinct"))
        for i, c in enumerate(cats)
    ]
    lang_total = sum(n for _, _, n, _ in lang_counts)
    out["lang_dist"] = [(c, i, n, rp.floor_pct(n, lang_total), d) for c, i, n, d in lang_counts]

    ym = {k: _count(v, "n") for k, v in keyed("ym").items()}
    out["warc_ym_dist"] = [(m, ym.get(m, 0)) for m in (_months(min(ym), max(ym)) if ym else [])]

    keeps = keyed("keep")
    keep_of = {"true": True, "false": False, None: None}
    out["tokens_by_keep"] = [
        (
            keep_of[key], _count(rows, "tok_n"), _nulls(rows, "tok_n"),
            _min(rows, "tok_min", "tok_n"), _mean(rows, "tok_sum", "tok_n"),
            _max(rows, "tok_max", "tok_n"), *_pct_values(overall[f"tok_p_{key}"]),
        )
        for key, rows in sorted(keeps.items(), key=lambda kv: (kv[0] is None, kv[0] or ""))
    ]
    out["ppl_stats"] = [(
        _count(every, "ppl_n"), _nulls(every, "ppl_n"), _min(every, "ppl_min", "ppl_n"),
        _mean(every, "ppl_sum", "ppl_n"), _max(every, "ppl_max", "ppl_n"),
        *_pct_values(overall["ppl_p"]),
    )]

    out["warc_minmax"] = [(
        "warc_ts", _count(every, "ts_n"), _nulls(every, "ts_n"),
        _min(every, "min_ym", "ts_n"), _max(every, "max_ym", "ts_n"),
        _sum(every, "implausible_n"), _sum(every, "future_n"),
    )]

    kept, keep_n = _sum(every, "kept"), _count(every, "keep_n")
    out["verdict_summary"] = [
        (records, kept, spark_round(kept / keep_n * 100.0, 2) if keep_n else None)
    ]

    url_n, url_distinct = _count(every, "url_n"), _count(every, "url_distinct")
    out["url_unique"] = [(url_n, url_distinct, url_n - url_distinct)]

    # run-level metadata (reference XTBL_L3_METADATA / DATAMART_ALL,
    # data_curation_tables.sas:46-497): engine + config + freshness
    out["run_metadata"] = [
        ("spark_version", spark_version),
        ("run_date", cfg.run_date.isoformat()),
        ("lookback_years", str(cfg.lookback_years)),
        ("lookback_cutoff", cfg.lookback_cutoff.isoformat()),
        ("n_buckets", str(cfg.n_buckets)),
        ("output_root", cfg.output_root),
    ]

    wins = keyed("window")
    out["dash_activity"] = [
        (name, _count(wins[name], "n"), _count(wins[name], "url_distinct"))
        for name, _, _ in windows
        if name in wins
    ]

    # orphan/integrity family (reference EDC orphan-record checks): kept
    # rows must carry text, a row lives in its url's bucket, dropped docs
    # averaging LONGER than kept ones suggests an inverted predicate
    kept_mean = _mean(keeps.get("true", []), "tok_sum", "tok_n")
    dropped_mean = _mean(keeps.get("false", []), "tok_sum", "tok_n")
    nonvalueset = _count(langs.get(rp.OVERFLOW_CATEGORY, []), "n") if every else None
    out["referential_summary"] = [(
        records, _sum(every, "kept_null_scrub_n"), _nulls(every, "url_n"),
        nonvalueset, kept_mean, dropped_mean, _sum(every, "misplaced"),
        (dropped_mean or 0.0) / kept_mean if kept_mean is not None and kept_mean > 0 else 0.0,
    )]

    dist, summary = rp.domain_tables(hosts, DOMAIN_TOP_N)
    out["domain_dist"] = dist
    out["domain_summary"] = [tuple(summary.values())]

    # content-duplicate profile (dedup stage mode recorded so the reader
    # knows whether dup_n was measured or the stage was off)
    method = cfg.dedup_method if cfg.dedup != "off" else "n/a"
    dup_n = _sum(every, "dup_n")
    out["dedup_summary"] = [
        (cfg.dedup, method, records, dup_n, rp.floor_pct(dup_n, records, 4))
    ]

    if url_counts is not None:
        n, dropped = url_counts["records"], url_counts["dropped_n"]
        out["url_filter_summary"] = [(n, dropped, rp.floor_pct(dropped, n))]
    hits, bad = _sum(every, "scrub_hits"), _sum(every, "mismatch_n")
    out["scrub_summary"] = [(records, hits, rp.floor_pct(hits, records))]
    out["extraction_summary"] = [(records, bad, rp.floor_pct(bad, records))]
    return out


def _drift_rows(prior_root: str, now: list[tuple]) -> list[tuple]:
    """drift|* and threshold_trend rows against a prior run's metrics
    (first-order rows on both sides); none on a first refresh."""
    path = os.path.join(prior_root, "metrics")
    try:
        table = pq.read_table(path, columns=METRICS_SCHEMA.names)
    except FileNotFoundError:
        return []  # first refresh: drift/trend report n/a
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"prior run metrics {path} cannot be read ({e})") from e
    prior = [tuple(r.values()) for r in table.to_pylist() if _first_order(r["dc_name"])]
    now = [r for r in now if _first_order(r[0])]
    return drift_rows(now, prior) + trend_rows(DEFAULT_CHECKS, now, prior)


def run_report_tail(
    spark: SparkSession,
    cur: DataFrame,
    cfg: PipelineConfig,
    manifest: Manifest,
    tracker: LineageTracker,
    url_flagged: DataFrame | None,
    pending: list[int],
) -> dict[str, str]:
    """Report over the buckets in `cur` and write every output under
    cfg.output_root. Returns the output paths.

    `cur` holds the done buckets plus the `pending` ones this run just
    wrote. Right after the bucket pass, each pending bucket is marked
    done in `manifest` with its `rows`/`kept` from that pass (dim
    'all'; a bucket with no rows gets (0, 0)), before any other pass:
    the pass is the only place a bucket is counted. The report_staleness
    `stale` rows are read from `manifest` before that first mark, so
    they describe the store as the run loaded it."""
    out = cfg.output_root
    # `stale` does not depend on the clock, hence the 0.0
    stale_rows = [r for r in staleness_rows(manifest.data, 0.0) if r[3] == "stale"]
    flag_cols = [R.flag_name(r) for r in R.active_rules(cfg.rule_overrides)]
    # run-date-parameterized trailing windows (reference %dash: 1-5 yr
    # spans ending run_date - 3 months, data_curation_base.sas:49-55)
    windows = rp.dash_windows(
        cfg.run_date, [(f"last_{y}y", {"years": y}) for y in (1, 2, 3, 4, 5)]
    )
    # valid_exprs = the reference %tag's _n vs valid distinction
    # (data_curation_base.sas:600-660)
    url_valid = F.col("url").rlike("^https?://[^ \\t\\n\\r\\f]+$")
    lang_valid = F.col("lang").rlike("^[a-z]{2}(-[A-Za-z]{2})?$")
    rep = cur.select(
        "bucket", "url", "lang", "warc_ts", "lang_pred", "n_tokens", "ppl", "keep",
        "scrub_hit", "extraction_ok", "exact_dup", "scrubbed_text", *flag_cols,
        (bucket_col(cfg.n_buckets) != F.col("bucket")).alias("misplaced"),
    )

    with tracker.stage("report_bucket_pass"):
        by_bucket = rp.bucket_pass(
            rep, flag_cols, LANG_VALUESET, cfg.run_date, windows, url_valid, lang_valid
        )
    counted = {r["bucket"]: (r["n"], r["kept"]) for r in by_bucket if r["dim"] == "all"}
    for b in pending:
        manifest.mark_done(b, *counted.get(b, (0, 0)))
    manifest.save()
    with tracker.stage("report_global_pass"):
        overall = rp.global_pass(rep, lang_valid)
    with tracker.stage("report_host_pass"):
        hosts = rp.host_pass(rep, DOMAIN_TOP_N)
    url_counts = None
    if url_flagged is not None:
        with tracker.stage("report_url_filter_pass"):
            url_counts = rp.url_filter_pass(url_flagged)

    with tracker.stage("report_build"):
        rows = build_reports(
            by_bucket, overall, hosts, url_counts, cfg,
            flag_cols, windows, spark.version,
        )
        tables = {
            name: rows_table(r, arrow_schema(REPORTS[name][0])) for name, r in rows.items()
        }

    reports_path = os.path.join(out, "reports")
    with tracker.stage("report_write"):
        for name, table in tables.items():
            path = os.path.join(reports_path, name)
            write_small_table(table, path)
            if cfg.export_csv:
                # reference &_csv=YES gate (data_curation_print.sas:121-150);
                # reports are small aggregates, so a single CSV file each
                export_csv(spark.read.parquet(path), os.path.join(out, "csv", name))
            manifest.mark_report(name)
        manifest.save()

    with tracker.stage("normalize_metrics"):
        metrics = [
            m for name, t in tables.items() for m in melt_report(t, name, REPORTS[name][1])
        ]
        # staleness has TWO questions with different frames of reference:
        # `stale` (reports older than curated data — the died-mid-report
        # inconsistency) is only observable on the manifest as the run
        # loaded it, because this run repairs it; `age_sec` (check
        # 12.02) is ≈ 0 here by construction — the meaningful
        # evaluation is the standalone `check` command, which recomputes
        # staleness from the live manifest over an existing store.
        metrics += stale_rows
        metrics += [r for r in staleness_rows(manifest.data, time.time()) if r[3] == "age_sec"]
    if cfg.prior_run_root:
        # cross-run families compare FIRST-ORDER metrics only (a prior
        # run's own drift/trend/staleness rows are excluded on both sides)
        with tracker.stage("drift_metrics"):
            metrics += _drift_rows(cfg.prior_run_root, metrics)
    metrics_path = os.path.join(out, "metrics")
    with tracker.stage("normalize_write"):
        write_small_table(rows_table(metrics, METRICS_SCHEMA), metrics_path)

    with tracker.stage("data_checks"):
        exceptions = rows_table(
            evaluate_checks(metrics, DEFAULT_CHECKS), arrow_schema(EXCEPTIONS_DDL)
        )
        exceptions_path = os.path.join(out, "exceptions")
        write_small_table(exceptions, exceptions_path)

    with tracker.stage("completeness_check"):
        # expected-vs-produced registry (reference edc_prep.sas:80-125)
        completeness = rows_table(
            expected_reports_check(list(tables), EXPECTED_REPORTS), arrow_schema(COMPLETENESS_DDL)
        )
        completeness_path = os.path.join(out, "completeness")
        write_small_table(completeness, completeness_path)

    lineage_path = os.path.join(out, "lineage")
    with tracker.stage("render"):
        # the columns the stage table shows, which every lineage file
        # written so far has, whatever else it holds
        earlier = (
            pq.read_table(lineage_path, columns=["stage", "elapsed_sec", "status"]).to_pylist()
            if os.path.isdir(lineage_path)
            else []
        )
        report_md = render_run_report(
            out,
            {**tables, "exceptions": exceptions, "completeness": completeness},
            earlier + rows_table(tracker.rows, LINEAGE_SCHEMA).to_pylist(),
        )
    append_small_table(rows_table(tracker.rows, LINEAGE_SCHEMA), lineage_path)
    return {
        "reports": reports_path,
        "metrics": metrics_path,
        "exceptions": exceptions_path,
        "completeness": completeness_path,
        "lineage": lineage_path,
        "report_md": report_md,
    }
