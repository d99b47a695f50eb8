"""Cross-run metric families: distribution shift, report staleness,
threshold-trend — the check inputs the reference EDC derives by
comparing the current refresh against the previous one
(edc_report.sas: the 'DC' previous-refresh columns joined throughout
:5644-5704 and the trend plots :9000+), recast as metric ROWS so the
same data-driven check registry (operators.checks) evaluates them.

All three are plain functions over metric-row tuples (dc_name,
variable, category, statistic, resultc, resultn) on the driver, the
rows the run appends to its metrics table:

* drift_rows(now, prior) — per shared (dc_name, variable, category,
  statistic): `<stat>__absdelta` (|now-prior|, natural for percentage
  stats) and `<stat>__relpct` (|now-prior|/max(|prior|,1) ×100,
  natural for counts), under dc_name 'drift|<orig dc_name>'.
* staleness_rows(manifest) — per report: stale flag (report written
  before the newest curated bucket — a resume that recomputed data but
  died before reporting) and age in seconds, under 'report_staleness'.
* trend_rows(checks, now, prior) — per registered threshold check:
  approaching=1 when the current observation sits within 20% of the
  threshold AND moved toward it since the prior run, under
  'threshold_trend' (category = check_id|metric category).

The inputs are the (already aggregated) metrics tables, a few hundred
rows each, so cost is independent of corpus size. Values follow
Spark's double semantics (NaN sorts above every other value), the
semantics these rows had when they were Spark joins.
`drift_metrics`/`trend_metrics` are the same functions behind a
DataFrame interface.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame

from pcornet_data_curation_spark.operators.checks import Check, _breach, _spark_order
from pcornet_data_curation_spark.operators.normalize import (
    METRICS_DDL,
    METRICS_SCHEMA,
    spark_double_str,
)


def _at_least_one(x: float) -> float:
    """Spark's `greatest(x, 1.0)` (NaN is larger than every double)."""
    return max(x, 1.0, key=_spark_order)


def drift_rows(now: list[tuple], prior: list[tuple]) -> list[tuple]:
    """Distribution-shift rows: every (now, prior) pair of numeric rows
    with the same (dc_name, variable, category, statistic) — an inner
    join, so a NULL key never matches and duplicate keys multiply —
    gives abs/relative deltas as new metric rows (dc_name
    'drift|<orig>'). Rows numeric on only one side (schema drift) are
    skipped — the completeness family flags missing reports
    separately."""
    by_key: dict[tuple, list[float]] = defaultdict(list)
    for *key, _, p in prior:
        if p is not None and None not in key:
            by_key[tuple(key)].append(p)
    out = []
    for dc_name, variable, category, statistic, _, n in now:
        if n is None:
            continue
        for p in by_key.get((dc_name, variable, category, statistic), []):
            absdelta = abs(n - p)
            relpct = absdelta / _at_least_one(abs(p)) * 100.0
            for suffix, v in (("__absdelta", absdelta), ("__relpct", relpct)):
                out.append((f"drift|{dc_name}", variable, category, statistic + suffix,
                            spark_double_str(v), v))
    return out


def staleness_rows(manifest_data: dict, now_ts: float) -> list[tuple]:
    """Per-report staleness metric rows from the checkpoint manifest: a
    report is STALE when it was last written before the newest curated
    bucket finished (possible only on a resumed run that recomputed data
    and died before re-reporting). Also records each report's age."""
    buckets = manifest_data.get("buckets", {})
    newest_bucket = max(
        (v.get("finished_at", 0.0) for v in buckets.values()), default=0.0
    )
    rows = []
    for name, info in manifest_data.get("reports", {}).items():
        ts = float(info.get("finished_at", 0.0))
        rows.append((name, "stale", 1.0 if ts < newest_bucket else 0.0))
        rows.append((name, "age_sec", max(0.0, now_ts - ts)))
    if not rows:
        rows = [("__none__", "stale", 0.0)]
    return [("report_staleness", "", name, stat, str(val), val) for name, stat, val in rows]


def trend_rows(
    checks: tuple[Check, ...],
    now: list[tuple],
    prior: list[tuple],
    near_frac: float = 0.2,
) -> list[tuple]:
    """Threshold-crossing trend rows: for every registered check and
    every numeric (now, prior) pair of its metric — now rows matched by
    the check's (dc_name, statistic, optional category), prior rows by
    (dc_name, statistic) and a null-safe category, `variable` ignored —
    approaching=1 iff the current value is within `near_frac` of the
    threshold (relative to max(|threshold|,1)) and moved TOWARD the
    breach side since the prior run. Purely data-driven from the same
    check registry evaluate_checks uses — adding a check automatically
    adds its trend watch."""
    now_by: dict[tuple, list[tuple]] = defaultdict(list)
    for dc_name, _, category, statistic, _, n in now:
        if n is not None:
            now_by[(dc_name, statistic)].append((category, n))
    prior_by: dict[tuple, list[float]] = defaultdict(list)
    for dc_name, _, category, statistic, _, p in prior:
        if p is not None:
            prior_by[(dc_name, statistic, category)].append(p)
    out = []
    for c in checks:
        t = float(c.threshold)
        # the direction of a move toward breach: up for gt/ge, down for lt/le
        toward_op = {"ge": "gt", "le": "lt"}.get(c.op, c.op)
        for category, n in now_by.get((c.dc_name, c.statistic), []):
            if c.category is not None and c.category != category:
                continue
            near = _breach("le", abs(n - t), near_frac * _at_least_one(abs(t)))
            # a check already tripped is an exception, not a trend warning
            breached = _breach(c.op, n, t)
            cat = f"{c.check_id}|{'NULL' if category is None else category}"
            for p in prior_by.get((c.dc_name, c.statistic, category), []):
                v = 1.0 if near and _breach(toward_op, n, p) and not breached else 0.0
                out.append(("threshold_trend", "", cat, "approaching", str(v), v))
    return out


def _rows(df: DataFrame) -> list[tuple]:
    return [tuple(r) for r in df.select(*METRICS_SCHEMA.names).collect()]


def drift_metrics(now: DataFrame, prior: DataFrame) -> DataFrame:
    """DataFrame form of `drift_rows` (metrics tables are small by
    construction: both are collected to the driver)."""
    return now.sparkSession.createDataFrame(drift_rows(_rows(now), _rows(prior)), METRICS_DDL)


def trend_metrics(
    checks: tuple[Check, ...],
    now: DataFrame,
    prior: DataFrame,
    near_frac: float = 0.2,
) -> DataFrame:
    """DataFrame form of `trend_rows`."""
    rows = trend_rows(checks, _rows(now), _rows(prior), near_frac)
    return now.sparkSession.createDataFrame(rows, METRICS_DDL)
