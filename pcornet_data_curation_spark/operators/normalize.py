"""Metrics normalization — melt every report into one long table.

Reference analog: normalization.sas (%_recordn, :261-404; final
assembly :945-961) un-pivots ~330 query outputs into a single
`dc_norm` dataset (dc_name, table, variable, category, statistic,
resultc/resultn) that the data-check report consumes.

Reports are small Arrow tables on the driver (a few hundred rows in
all), so the melt is a plain loop over their rows: no Spark plan, no
union. Values are stringified exactly as Spark's `cast(x as string)`
would, so `resultc` reads the same as when the melt ran in Spark.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa

_ARROW_TYPES = {
    "string": pa.string(), "double": pa.float64(), "boolean": pa.bool_(),
    "bigint": pa.int64(), "int": pa.int32(),
}


def arrow_schema(ddl: str) -> pa.Schema:
    """Arrow schema of a flat Spark DDL string ('a bigint, b string'),
    so a driver-written parquet file reads back with that Spark schema."""
    return pa.schema([(n, _ARROW_TYPES[t]) for n, t in (c.split() for c in ddl.split(","))])


def rows_table(rows: list[tuple], schema: pa.Schema) -> pa.Table:
    return pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)


METRICS_DDL = (
    "dc_name string, variable string, category string, statistic string, "
    "resultc string, resultn double"
)
METRICS_SCHEMA = arrow_schema(METRICS_DDL)


def spark_double_str(x: float) -> str:
    """`cast(x as string)` for a Spark double (Java's Double.toString):
    shortest round-trip digits, plain notation for 1e-3 <= |x| < 1e7,
    otherwise `d.dddE<exp>`. Java 17 prints a longer, still
    round-tripping digit string for a few doubles (6 in 10^4 random bit
    patterns, nearly all beyond 1e16, plus subnormals); there the two
    strings differ but parse to the same value."""
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    if x == 0:
        return "-0.0" if math.copysign(1.0, x) < 0 else "0.0"
    sign = "-" if x < 0 else ""
    _, digits, exp = Decimal(repr(abs(x))).as_tuple()
    digits = list(digits)
    while len(digits) > 1 and digits[-1] == 0:
        digits.pop()
        exp += 1
    s = "".join(map(str, digits))
    e = len(s) + exp - 1  # x = d.ddd * 10^e
    if 1e-3 <= abs(x) < 1e7:
        if e >= 0:
            return f"{sign}{s[: e + 1].ljust(e + 1, '0')}.{s[e + 1:] or '0'}"
        return f"{sign}0.{'0' * (-e - 1)}{s}"
    return f"{sign}{s[0]}.{s[1:] or '0'}E{e}"


def spark_round(x: float | None, scale: int) -> float | None:
    """Spark's `round(x, scale)` on a double: HALF_UP on the decimal
    string Java prints for x (not half-even on the binary value)."""
    if x is None or math.isnan(x) or math.isinf(x):
        return x
    q = Decimal(1).scaleb(-scale)
    return float(Decimal(spark_double_str(x)).quantize(q, rounding=ROUND_HALF_UP))


def spark_str(value, dtype: pa.DataType) -> str | None:
    """`cast(value as string)` for a value of Arrow type `dtype`."""
    if value is None:
        return None
    if pa.types.is_boolean(dtype):
        return "true" if value else "false"
    if pa.types.is_floating(dtype):
        return spark_double_str(float(value))
    return str(value)


def _numeric(dtype: pa.DataType) -> bool:
    return pa.types.is_integer(dtype) or pa.types.is_floating(dtype) or pa.types.is_boolean(dtype)


def melt_report(
    report: pa.Table,
    dc_name: str,
    id_cols: list[str],
    variable: str = "",
) -> list[tuple]:
    """Unpivot every non-id column of `report` into metric rows
    (dc_name, variable, category, statistic, resultc, resultn).

    `category` = the id-column values '|'-joined, NULL spelled 'NULL'
    (the reference's cross-category keys); numeric and boolean values
    land in resultn, everything in resultc (reference stringifies
    counts then parses back, data_curation_base.sas:1109 /
    normalization.sas:337-349 — we keep both representations).
    """
    types = {f.name: f.type for f in report.schema}
    value_cols = [c for c in report.column_names if c not in id_cols]
    out = []
    for row in report.to_pylist():
        category = "|".join(
            "NULL" if row[c] is None else spark_str(row[c], types[c]) for c in id_cols
        )
        for c in value_cols:
            v, t = row[c], types[c]
            resultn = None if v is None or not _numeric(t) else float(v)
            out.append((dc_name, variable, category, c, spark_str(v, t), resultn))
    return out


def extraction_consistent_col(html_col="html", text_col="text"):
    """Boolean Column: the stored text plausibly came from the stored
    html (stage-1 extraction check, SURVEY §7). Tag-stripped, whitespace-
    normalized html must contain the first 64 chars of the normalized
    text. NULL html or NULL/empty text → consistent (nothing to check).
    Pure Column algebra — decode + two regex passes, no UDF."""
    from pyspark.sql import functions as F

    ws = "[ \\t\\n\\r\\f\\x0B]+"
    norm_text = F.trim(F.regexp_replace(F.col(text_col), ws, " "))
    stripped_html = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.decode(F.col(html_col), "UTF-8"), "<[^>]*>", " "),
            ws,
            " ",
        )
    )
    probe = F.substring(norm_text, 1, 64)
    return (
        F.col(html_col).isNull()
        | F.col(text_col).isNull()
        | (F.length(norm_text) == 0)
        | stripped_html.contains(probe)
    )
