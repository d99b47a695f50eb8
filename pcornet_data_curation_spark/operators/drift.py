"""Cross-run metric families: distribution shift, report staleness,
threshold-trend — the check inputs the reference EDC derives by
comparing the current refresh against the previous one
(edc_report.sas: the 'DC' previous-refresh columns joined throughout
:5644-5704 and the trend plots :9000+), recast as metric ROWS so the
same data-driven check registry (operators.checks) evaluates them.

All three emit rows in the normalized METRICS_SCHEMA shape and are
appended to the run's metrics table (staleness as driver-side rows,
drift and trend as DataFrames over the metrics tables):

* drift_metrics(now, prior)  — per shared (dc_name, variable,
  category, statistic): `<stat>__absdelta` (|now-prior|, natural for
  percentage stats) and `<stat>__relpct` (|now-prior|/max(|prior|,1)
  ×100, natural for counts), under dc_name 'drift|<orig dc_name>'.
* staleness_rows(manifest) — per report: stale flag (report written
  before the newest curated bucket — a resume that recomputed data but
  died before reporting) and age in seconds, under 'report_staleness'.
* trend_metrics(checks, now, prior) — per registered threshold check:
  approaching=1 when the current observation sits within 20% of the
  threshold AND moved toward it since the prior run, under
  'threshold_trend' (category = check_id|metric category).

Everything is a join/Column computation over the (tiny, already
aggregated) metrics tables — no fact-table access, so cost is
independent of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pcornet_data_curation_spark.operators.checks import Check
from pcornet_data_curation_spark.operators.normalize import METRICS_DDL

_KEYS = ["dc_name", "variable", "category", "statistic"]


def drift_metrics(now: DataFrame, prior: DataFrame) -> DataFrame:
    """Distribution-shift rows: inner-join the two normalized metrics
    tables on the full metric key and emit abs/relative deltas as new
    metric rows (dc_name 'drift|<orig>'). Rows numeric on only one
    side (schema drift) are skipped — the completeness family flags
    missing reports separately."""
    n = now.where(F.col("resultn").isNotNull()).select(
        *_KEYS, F.col("resultn").alias("_now")
    )
    p = prior.where(F.col("resultn").isNotNull()).select(
        *_KEYS, F.col("resultn").alias("_prior")
    )
    j = n.join(p, _KEYS)
    absdelta = F.abs(F.col("_now") - F.col("_prior"))
    relpct = absdelta / F.greatest(F.abs(F.col("_prior")), F.lit(1.0)) * 100.0
    rows = j.select(
        F.concat(F.lit("drift|"), F.col("dc_name")).alias("dc_name"),
        "variable",
        "category",
        F.explode(
            F.array(
                F.struct(
                    F.concat(F.col("statistic"), F.lit("__absdelta")).alias("statistic"),
                    absdelta.alias("resultn"),
                ),
                F.struct(
                    F.concat(F.col("statistic"), F.lit("__relpct")).alias("statistic"),
                    relpct.alias("resultn"),
                ),
            )
        ).alias("_s"),
    )
    return rows.select(
        "dc_name",
        "variable",
        "category",
        F.col("_s.statistic").alias("statistic"),
        F.col("_s.resultn").cast("string").alias("resultc"),
        F.col("_s.resultn").alias("resultn"),
    )


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


def staleness_metrics(manifest_data: dict, now_ts: float, spark) -> DataFrame:
    """DataFrame form of `staleness_rows`."""
    return spark.createDataFrame(staleness_rows(manifest_data, now_ts), METRICS_DDL)


def trend_metrics(
    checks: tuple[Check, ...],
    now: DataFrame,
    prior: DataFrame,
    near_frac: float = 0.2,
) -> DataFrame:
    """Threshold-crossing trend rows: for every registered check whose
    metric exists in BOTH runs, approaching=1 iff the current value is
    within `near_frac` of the threshold (relative to max(|threshold|,1))
    and moved TOWARD the breach side since the prior run. Purely
    data-driven from the same check registry run_checks evaluates —
    adding a check automatically adds its trend watch."""
    spark = now.sparkSession
    reg = spark.createDataFrame(
        [
            (c.check_id, c.dc_name, c.statistic, c.op, float(c.threshold), c.category)
            for c in checks
        ],
        "check_id string, dc_name string, statistic string, op string, "
        "threshold double, category string",
    )
    n = now.where(F.col("resultn").isNotNull()).select(
        "dc_name", "statistic", F.col("category").alias("m_category"),
        F.col("resultn").alias("_now"),
    )
    p = prior.where(F.col("resultn").isNotNull()).select(
        F.col("dc_name").alias("p_dc"), F.col("statistic").alias("p_stat"),
        F.col("category").alias("p_category"), F.col("resultn").alias("_prior"),
    )
    j = (
        F.broadcast(reg)
        .join(
            n,
            (reg.dc_name == n.dc_name)
            & (reg.statistic == n.statistic)
            & (F.col("category").isNull() | (F.col("category") == F.col("m_category"))),
        )
        .join(
            p,
            (reg.dc_name == F.col("p_dc"))
            & (reg.statistic == F.col("p_stat"))
            & (F.col("m_category").eqNullSafe(F.col("p_category"))),
        )
    )
    near = F.abs(F.col("_now") - F.col("threshold")) <= (
        F.lit(near_frac) * F.greatest(F.abs(F.col("threshold")), F.lit(1.0))
    )
    toward_breach = (
        F.when(F.col("op").isin("gt", "ge"), F.col("_now") > F.col("_prior"))
        .when(F.col("op").isin("lt", "le"), F.col("_now") < F.col("_prior"))
        .otherwise(F.lit(False))
    )
    # a check already tripped is an exception, not a trend warning
    breached = (
        F.when(F.col("op") == "gt", F.col("_now") > F.col("threshold"))
        .when(F.col("op") == "ge", F.col("_now") >= F.col("threshold"))
        .when(F.col("op") == "lt", F.col("_now") < F.col("threshold"))
        .when(F.col("op") == "le", F.col("_now") <= F.col("threshold"))
        .otherwise(F.lit(False))
    )
    approaching = (near & toward_breach & ~breached).cast("double")
    return j.select(
        F.lit("threshold_trend").alias("dc_name"),
        F.lit("").alias("variable"),
        F.concat_ws(
            "|", F.col("check_id"), F.coalesce(F.col("m_category"), F.lit("NULL"))
        ).alias("category"),
        F.lit("approaching").alias("statistic"),
        approaching.cast("string").alias("resultc"),
        approaching.alias("resultn"),
    )
