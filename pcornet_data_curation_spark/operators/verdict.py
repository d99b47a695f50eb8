"""Stages 3-5 — rule flags, scrub, keep/drop verdict.

Reference analog: flags + "bad" rows, potential_code_errors.sas:320-344
— a record is emitted to bad_* iff any flag is 1; here the verdict row
carries keep = NOT any(drop flag) plus every flag column.
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

