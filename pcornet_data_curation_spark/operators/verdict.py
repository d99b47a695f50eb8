"""Stages 3-5 — rule flags, scrub, keep/drop verdict, violations table.

Reference analog:
* flags + "bad" rows: potential_code_errors.sas:320-344 — a record is
  emitted to bad_* iff any flag is 1; here the verdict row carries
  keep = NOT any(drop flag) plus the full flag struct.
* violations long table ≅ the per-table bad_* datasets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pcornet_data_curation_spark.functions.scrub import scrub_column
from pcornet_data_curation_spark.operators import rules as R

def with_verdict(scored: DataFrame, overrides: dict | None = None) -> DataFrame:
    """scored (stats appended) → + flag_* booleans, keep boolean,
    scrubbed_text. All pure Column algebra + one JVM regex chain."""
    flagged = R.with_flags(scored, overrides)
    drop_flags = [R.flag_name(r) for r in R.drop_rules(overrides)]
    keep = ~F.greatest(*[F.coalesce(F.col(c), F.lit(False)) for c in drop_flags])
    return flagged.withColumn("keep", keep).withColumn(
        "scrubbed_text", scrub_column(F.col("text"))
    )


def verdict_table(verdicts: DataFrame, overrides: dict | None = None) -> DataFrame:
    """The per-url output contract: (url, keep, flags struct, scrubbed_text)."""
    flag_cols = [R.flag_name(r) for r in R.active_rules(overrides)]
    return verdicts.select(
        "url",
        "keep",
        F.struct(*[F.col(c) for c in flag_cols]).alias("flags"),
        "scrubbed_text",
    )


def violations(verdicts: DataFrame, overrides: dict | None = None) -> DataFrame:
    """Long-format (url, rule_id, severity) — one row per fired rule
    (reference bad_* datasets). Built with a single explode of a
    filtered literal array: no UDF, no per-rule scans."""
    entries = [
        F.when(
            F.coalesce(F.col(R.flag_name(r)), F.lit(False)),
            F.struct(F.lit(r.rule_id).alias("rule_id"), F.lit(r.severity).alias("severity")),
        )
        for r in R.active_rules(overrides)
    ]
    arr = F.filter(F.array(*entries), lambda x: x.isNotNull())
    return (
        verdicts.select("url", F.explode(arr).alias("v"))
        .select("url", F.col("v.rule_id").alias("rule_id"), F.col("v.severity").alias("severity"))
    )
