"""Conformance / value-distribution report family.

Re-expresses the reference's six parameterized summary macros
(data_curation_base.sas) as parameterized DataFrame transforms:

| here                | reference                | file:line |
|---------------------|--------------------------|-----------|
| tag_profile         | %tag                     | data_curation_base.sas:549-795 |
| n_pct               | %n_pct (valueset superpop)| data_curation_base.sas:798-1311 |
| n_pct_noref         | %n_pct_noref             | data_curation_base.sas:2236-2701 |
| cont_stats          | %cont / %t_cont          | data_curation_base.sas:121-546 |
| minmax_profile      | %minmax                  | data_curation_base.sas:2704-2782 |
| ym_dense_fill       | dense YM fill            | data_curation_base.sas:1699-1785 |
| crosstab            | %n_pct_multilev          | data_curation_base.sas:1315-2233 |

Contractual semantics preserved from the reference:
* reports ALWAYS emit the full category domain — valueset categories
  zero-filled, plus explicit 'NULL or missing' and 'Values outside of
  CDM specifications' rows (dummy-path invariant,
  data_curation_base.sas:140-158, 837-846, 1201-1264);
* distinct counts are EXACT (countDistinct, never approx — reference
  outputs are compared verbatim, SURVEY §7);
* percentiles are EXACT (SQL `percentile`, PROC MEANS parity) — use
  cont_stats(approx=True) only on unchecked hot paths.

Scale notes: every function aggregates first (one shuffle) and joins
the tiny aggregate onto a generated domain frame afterwards, so the
super-population join never touches the fact table. Grand totals come
from a window over the *aggregated* frame (bounded by |domain|), not a
second scan.

The pipeline's own reports do not call these per report: the last
section holds its three exact passes (bucket_pass, global_pass,
host_pass) whose small results plans/report_tail.py turns into the
same reports on the driver.
"""

from __future__ import annotations

import math
import string

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

NULL_CATEGORY = "NULL or missing"
OVERFLOW_CATEGORY = "Values outside of CDM specifications"


def _pct_expr(n_col, total_col):
    """Percentage with 2 decimals as floor(n*10000.0/total)/100.

    Deliberately floor-of-basis-points, NOT round(x, 2): Spark's round
    goes through BigDecimal.valueOf (decimal-string HALF_UP) while
    DuckDB/Postgres round doubles half-away-from-zero on the binary
    value, so round() results can differ in the last digit between
    engines. floor over the identical IEEE expression tree is
    bit-reproducible everywhere — the driver's DuckDB oracle hash
    matches exactly. SQL equivalent:
        floor(n * 10000.0 / total) / 100.0
    """
    return F.when(
        total_col > 0, F.floor(n_col * 10000.0 / total_col) / 100.0
    ).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# %tag — per-column conformance profile
# ---------------------------------------------------------------------------


def tag_profile(
    df: DataFrame,
    cols: list[str],
    dataset: str = "",
    valid_exprs: dict[str, object] | None = None,
    approx: bool = False,
) -> DataFrame:
    """One row per column: all_n, distinct_n, null_n, valid_n,
    valid_distinct_n (reference %tag, data_curation_base.sas:549-795).

    Single aggregation job for ALL columns (one scan, map-side partial
    aggregation); the wide agg row is unpivoted with `stack`.
    valid_exprs maps column -> boolean Column defining validity; absent
    columns get valid_n = all_n semantics of the reference's _n tag.
    approx=True switches distinct counts to HyperLogLog
    (approx_count_distinct) — the 10^12-row path where per-key exact
    shuffles aren't worth it and the value isn't oracle-compared;
    default is EXACT (reference outputs are compared verbatim, SURVEY §7).
    """
    valid_exprs = valid_exprs or {}
    cd = F.approx_count_distinct if approx else F.countDistinct
    aggs = []
    for c in cols:
        v = valid_exprs.get(c)
        aggs += [
            F.count(F.col(c)).alias(f"{c}__all_n"),
            cd(F.col(c)).alias(f"{c}__distinct_n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__null_n"),
            (
                F.sum(F.when(v, 1).otherwise(0)).alias(f"{c}__valid_n")
                if v is not None
                else F.count(F.col(c)).alias(f"{c}__valid_n")
            ),
            (
                cd(F.when(v, F.col(c))).alias(f"{c}__valid_distinct_n")
                if v is not None
                else cd(F.col(c)).alias(f"{c}__valid_distinct_n")
            ),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `{c}__all_n`, `{c}__distinct_n`, `{c}__null_n`, `{c}__valid_n`, `{c}__valid_distinct_n`"
        for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) as (tag, all_n, distinct_n, null_n, valid_n, valid_distinct_n)"
    ).select(F.lit(dataset).alias("dataset"), "*")


# ---------------------------------------------------------------------------
# %n_pct — categorical frequency with reference valueset super-population
# ---------------------------------------------------------------------------


def n_pct(
    df: DataFrame,
    col: str,
    valueset: list[str],
    distinct_col: str | None = None,
    include_overflow: bool = True,
    distinct_cols: dict[str, str] | None = None,
    approx: bool = False,
) -> DataFrame:
    """Counts + pct per category, super-populated over `valueset` with
    forced NULL + overflow rows (reference %n_pct completetypes /
    preloadfmt semantics, data_curation_base.sas:837-846, 905-912).
    approx=True switches the distinct counts to HyperLogLog for the
    10^12-row path (default EXACT — oracle-compared verbatim).

    Output: (category, ord, record_n, record_pct[, distinct_n][, extra
    distinct columns]); ord is the valueset order with NULL and
    overflow forced last (sentinel-sort parity,
    data_curation_base.sas:1298-1300).

    distinct_cols maps output_name -> source column for ADDITIONAL
    exact distinct counts per category — the reference's optional
    distinct patid / patid_1 / visit / elig-record counts
    (data_curation_base.sas:947-1074), all computed in the same single
    aggregation pass.
    """
    spark = df.sparkSession
    distinct_cols = dict(distinct_cols or {})
    if distinct_col:
        distinct_cols = {"distinct_n": distinct_col, **distinct_cols}
    cat = (
        F.when(F.col(col).isNull(), F.lit(NULL_CATEGORY))
        .when(F.col(col).cast("string").isin(valueset), F.col(col).cast("string"))
        .otherwise(F.lit(OVERFLOW_CATEGORY))
    )
    sel = [cat.alias("category")] + [
        F.col(src).alias(f"_d_{name}") for name, src in distinct_cols.items()
    ]
    cd = F.approx_count_distinct if approx else F.countDistinct
    aggs = [F.count(F.lit(1)).alias("record_n")] + [
        cd(f"_d_{name}").alias(name) for name in distinct_cols
    ]
    counts = df.select(*sel).groupBy("category").agg(*aggs)

    domain_rows = [(v, i) for i, v in enumerate(valueset)]
    domain_rows.append((NULL_CATEGORY, len(valueset)))
    if include_overflow:
        domain_rows.append((OVERFLOW_CATEGORY, len(valueset) + 1))
    domain = spark.createDataFrame(domain_rows, "category string, ord int")

    fill = {"record_n": 0, **{name: 0 for name in distinct_cols}}
    out = domain.join(counts, "category", "left").na.fill(fill)
    # single-partition window is INTENTIONAL and bounded: it runs over
    # the already-aggregated frame (|valueset|+2 rows, never the fact
    # table), so the WindowExec single-partition warning is a false
    # alarm here — the data is domain-sized by construction
    total = F.sum("record_n").over(Window.partitionBy())
    out = out.withColumn("record_pct", _pct_expr(F.col("record_n"), total))
    cols_out = ["category", "ord", "record_n", "record_pct", *distinct_cols]
    return out.select(*cols_out).orderBy("ord")


def n_pct_noref(
    df: DataFrame,
    col: str,
    distinct_col: str | None = None,
    force_null_row: bool = True,
) -> DataFrame:
    """Frequency of observed values + forced NULL row (reference
    %n_pct_noref, data_curation_base.sas:2236-2701).

    Output: (category, record_n, record_pct[, distinct_n]), NULL last.
    """
    cat = F.coalesce(F.col(col).cast("string"), F.lit(NULL_CATEGORY))
    sel = [cat.alias("category")] + ([F.col(distinct_col).alias("_d")] if distinct_col else [])
    aggs = [F.count(F.lit(1)).alias("record_n")]
    if distinct_col:
        aggs.append(F.countDistinct("_d").alias("distinct_n"))
    counts = df.select(*sel).groupBy("category").agg(*aggs)
    if force_null_row:
        spark = df.sparkSession
        nullrow = spark.createDataFrame([(NULL_CATEGORY,)], "category string")
        counts = (
            counts.join(nullrow, "category", "full")
            .na.fill({"record_n": 0, **({"distinct_n": 0} if distinct_col else {})})
        )
    # single-partition window is INTENTIONAL and bounded: it runs over
    # the already-aggregated frame (|valueset|+2 rows, never the fact
    # table), so the WindowExec single-partition warning is a false
    # alarm here — the data is domain-sized by construction
    total = F.sum("record_n").over(Window.partitionBy())
    out = counts.withColumn("record_pct", _pct_expr(F.col("record_n"), total))
    # NULL category forced last, then alpha (reference sentinel sort).
    return out.orderBy(
        F.when(F.col("category") == NULL_CATEGORY, 1).otherwise(0), F.col("category")
    )


# ---------------------------------------------------------------------------
# %cont / %t_cont — continuous stats (exact percentiles)
# ---------------------------------------------------------------------------

DEFAULT_PCTS = (0.05, 0.25, 0.50, 0.75, 0.95)
# the reference's full %t_cont percentile ladder
# (data_curation_base.sas:204-546: p1 p5 p10 p25 median p75 p90 p95 p99)
REFERENCE_PCTS = (0.01, 0.05, 0.10, 0.25, 0.50, 0.75, 0.90, 0.95, 0.99)


def cont_stats(
    df: DataFrame,
    col: str,
    group: list[str] | None = None,
    pcts: tuple[float, ...] = DEFAULT_PCTS,
    approx: bool = False,
    force_null_group: bool = True,
    side_counts: dict[str, object] | None = None,
) -> DataFrame:
    """n/nmiss/min/mean/max + exact percentiles, optionally per group
    (reference %cont / %t_cont, data_curation_base.sas:121-546).

    Exact SQL `percentile` by default (PROC MEANS parity); approx=True
    switches to percentile_approx for unchecked hot paths. With a
    group, a NULL-group row is still emitted (groupBy keeps null keys —
    the reference forces this row explicitly, :350-398).

    side_counts maps output_name -> boolean Column; each adds a
    conditional count to the same aggregation pass — the reference's
    per-group invalid/implausible/future/pre-period tallies
    (data_curation_base.sas:216-235). Use pcts=REFERENCE_PCTS for the
    full p1..p99 ladder.
    """
    pct_fn = "approx_percentile" if approx else "percentile"
    arr = ", ".join(repr(p) for p in pcts)
    aggs = [
        F.count(F.col(col)).alias("n"),
        F.sum(F.col(col).isNull().cast("long")).alias("nmiss"),
        F.min(col).alias("min"),
        F.avg(col).alias("mean"),
        F.max(col).alias("max"),
        F.expr(f"{pct_fn}(`{col}`, array({arr}))").alias("_p"),
    ] + [
        F.sum(F.when(cond, 1).otherwise(0).cast("long")).alias(name)
        for name, cond in (side_counts or {}).items()
    ]
    g = df.groupBy(*[F.col(c) for c in group]) if group else df.groupBy()
    out = g.agg(*aggs)
    for i, p in enumerate(pcts):
        out = out.withColumn(f"p{int(round(p * 100)):02d}", F.col("_p")[i])
    return out.drop("_p")


# ---------------------------------------------------------------------------
# %minmax — date/timestamp profile
# ---------------------------------------------------------------------------


def minmax_profile(
    df: DataFrame,
    date_col: str,
    future_after: str | None = None,
    implausible_before: str = "1900-01-01",
) -> DataFrame:
    """n, nmiss, min/max rendered yyyy_MM, future_n, implausible_n
    (reference %minmax, data_curation_base.sas:2704-2782; future/
    implausible flags :225-231)."""
    c = F.col(date_col)
    aggs = [
        F.count(c).alias("n"),
        F.sum(c.isNull().cast("long")).alias("nmiss"),
        F.date_format(F.min(c), "yyyy_MM").alias("min_ym"),
        F.date_format(F.max(c), "yyyy_MM").alias("max_ym"),
        F.sum((c < F.lit(implausible_before).cast("timestamp")).cast("long")).alias(
            "implausible_n"
        ),
    ]
    if future_after is not None:
        aggs.append(
            F.sum((c > F.lit(future_after).cast("timestamp")).cast("long")).alias("future_n")
        )
    return df.agg(*aggs).select(F.lit(date_col).alias("variable"), "*")


# ---------------------------------------------------------------------------
# Dense year-month fill
# ---------------------------------------------------------------------------


def ym_dense_fill(counts: DataFrame, ym_col: str = "ym", fill_cols: tuple[str, ...] = ("record_n",)) -> DataFrame:
    """Left-join monthly counts onto the dense month sequence between
    min and max observed ym ('yyyy_MM' strings), zero-filling gaps
    (reference dense YM fill, data_curation_base.sas:1699-1785).

    `counts` is already aggregated (small); the sequence explode is
    driver-scale, never fact-table-scale.
    """
    rng = counts.where(F.col(ym_col).isNotNull()).agg(
        F.min(ym_col).alias("mn"), F.max(ym_col).alias("mx")
    )
    months = rng.where(F.col("mn").isNotNull()).select(
        F.explode(
            F.sequence(
                F.to_date(F.concat(F.col("mn"), F.lit("_01")), "yyyy_MM_dd"),
                F.to_date(F.concat(F.col("mx"), F.lit("_01")), "yyyy_MM_dd"),
                F.expr("interval 1 month"),
            )
        ).alias("_m")
    ).select(F.date_format("_m", "yyyy_MM").alias(ym_col))
    return (
        months.join(counts, ym_col, "left")
        .na.fill({c: 0 for c in fill_cols})
        .orderBy(ym_col)
    )


# ---------------------------------------------------------------------------
# DASH trailing-window classification
# ---------------------------------------------------------------------------


def dash_windows(
    run_date,
    spans: list[tuple[str, dict]],
    skew_months: int = 3,
) -> list[tuple[str, "dt.date", "dt.date"]]:
    """Run-date-parameterized trailing windows (reference %dash setup,
    data_curation_base.sas:49-55, 2868-2891: windows end at the run
    date minus 3 months and reach back 1-5 years).

    spans: [(name, {"years": n} | {"months": n} | {"days": n}), ...]
    Returns [(name, start_date, end_date)] with end = run_date shifted
    back skew_months calendar months (day clamped to month length) and
    start = end shifted back by the span.
    """
    import calendar
    import datetime as dt

    def minus_months(d: dt.date, m: int) -> dt.date:
        y, mo = divmod((d.year * 12 + d.month - 1) - m, 12)
        return dt.date(y, mo + 1, min(d.day, calendar.monthrange(y, mo + 1)[1]))

    end = minus_months(run_date, skew_months)
    out = []
    for name, span in spans:
        if "years" in span:
            start = minus_months(end, 12 * int(span["years"]))
        elif "months" in span:
            start = minus_months(end, int(span["months"]))
        elif "days" in span:
            start = end - dt.timedelta(days=int(span["days"]))
        else:
            raise ValueError(f"span needs years/months/days: {span}")
        out.append((name, start, end))
    return out


def dash_window_counts(
    df: DataFrame,
    ts_col: str,
    windows: list[tuple[str, object, object]],
    distinct_col: str | None = None,
) -> DataFrame:
    """Per-window record (+ optional distinct) counts: each row
    explodes into the trailing windows containing its timestamp (a
    1→0-N fan-out, SURVEY §2.2 DASH), then one grouped agg. The
    window list is tiny and becomes array literals — no join."""
    entries = F.array(
        *[
            F.when(
                (F.col(ts_col) >= F.lit(str(start)).cast("timestamp"))
                & (F.col(ts_col) <= F.lit(str(end)).cast("timestamp")),
                F.lit(name),
            )
            for name, start, end in windows
        ]
    )
    arr = F.filter(entries, lambda x: x.isNotNull())
    sel = [F.explode(arr).alias("window")] + (
        [F.col(distinct_col)] if distinct_col else []
    )
    aggs = [F.count(F.lit(1)).alias("record_n")]
    if distinct_col:
        aggs.append(F.countDistinct(distinct_col).alias("distinct_n"))
    return df.select(*sel).groupBy("window").agg(*aggs)


# ---------------------------------------------------------------------------
# %n_pct_multilev — multi-level crosstab with optional full domain
# ---------------------------------------------------------------------------


def crosstab(
    df: DataFrame,
    levels: list[str],
    domains: dict[str, list[str]] | None = None,
    distinct_col: str | None = None,
    pct_within: str | None = None,
) -> DataFrame:
    """2/3-level categorical crosstab (reference %n_pct_multilev,
    data_curation_base.sas:1315-2233). When `domains` provides the
    category lists, the output is super-populated over their full
    cross-product (completetypes); otherwise observed-only.

    pct_within=<level>: record_pct is taken within each value of that
    level instead of the grand total — the reference's per-var1
    percentage special case (ENC_L3_LOS_DIST,
    data_curation_base.sas:1577-1607).

    The cross-product frame is built from tiny in-memory domains and
    joined onto the aggregate — never a fact-table cross join.
    """
    spark = df.sparkSession
    cats = [
        F.coalesce(F.col(c).cast("string"), F.lit(NULL_CATEGORY)).alias(c) for c in levels
    ]
    sel = cats + ([F.col(distinct_col).alias("_d")] if distinct_col else [])
    aggs = [F.count(F.lit(1)).alias("record_n")]
    if distinct_col:
        aggs.append(F.countDistinct("_d").alias("distinct_n"))
    counts = df.select(*sel).groupBy(*levels).agg(*aggs)
    if domains:
        # build the cross-product driver-side: domains are valueset-
        # sized by definition (a few dozen rows), and one single-
        # partition createDataFrame avoids the task explosion of
        # chained crossJoins (k default-parallelism frames → p^k task
        # combinations for 72 output rows)
        import itertools

        combos = list(
            itertools.product(
                *[list(domains.get(c, [])) + [NULL_CATEGORY] for c in levels]
            )
        )
        schema = ", ".join(f"`{c}` string" for c in levels)
        domain_df = spark.createDataFrame(combos, schema).coalesce(1)
        fill = {"record_n": 0}
        if distinct_col:
            fill["distinct_n"] = 0
        # no broadcast hint on the LEFT of a left join (unsupported —
        # Spark would warn and ignore); AQE broadcasts the aggregated
        # right side on its own
        counts = domain_df.join(counts, levels, "left").na.fill(fill)
    # bounded: the window runs over the aggregated cross-product frame
    # (product of domain sizes), never the input — single-partition is fine
    w = Window.partitionBy(pct_within) if pct_within else Window.partitionBy()
    total = F.sum("record_n").over(w)
    return counts.withColumn(
        "record_pct", _pct_expr(F.col("record_n"), total)
    ).orderBy(*levels)


AUTHORITY_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)"


def host_col(url_col):
    """Lowercased hostname of a url, NULL when unparsable.

    Three explicit steps instead of one clever regex (a combined
    pattern with an optional userinfo group BACKTRACKS on
    'https://alice@[::1]/' and reports the userinfo as the host):
    1. authority = everything between :// and /?#;
    2. strip one userinfo prefix (through the FIRST @ — host can't
       contain a raw @);
    3. host = the run before the first ':' — rejected outright when it
       starts with '[' so bracketed IPv6 literals land in the NULL
       row rather than a phantom host. Userinfo/port/case variants of
       one host therefore count as ONE host (concentration checks
       can't be evaded by url decoration), and userinfo strings
       (potential credentials) never surface as hostnames."""
    authority = F.regexp_extract(url_col, AUTHORITY_RE, 1)
    after_user = F.regexp_replace(authority, "^[^@]*@", "")
    host_raw = F.regexp_extract(after_user, "^([^:\\[][^:]*)", 1)
    # an ASCII host (as many chars as bytes) lowers by A-Z -> a-z alone,
    # which spares the JVM's first `lower()` its ICU case-map load (over
    # a second on a 4-core VM); any other host still goes through `lower`
    ascii_lower = F.translate(host_raw, string.ascii_uppercase, string.ascii_lowercase)
    lowered = F.when(
        F.length(host_raw) == F.octet_length(host_raw), ascii_lower
    ).otherwise(F.lower(host_raw))
    return F.when(host_raw == "", F.lit(None)).otherwise(lowered)


def domain_dist(
    df: "DataFrame",
    url_col: str = "url",
    top_n: int = 20,
) -> "DataFrame":
    """Per-host volume report with a top-N + OTHER rollup — the
    long-tail-domain distribution the north-star's skew handling is
    about, shaped like the reference's %n_pct category report
    (data_curation_base.sas %n_pct) but over an open-ended domain
    (hosts), so the category set is data-driven with the tail rolled
    into one OTHER row.

    Scale shape for 10^8+ hosts: groupBy(host) — partial aggregation
    absorbs the hot hosts map-side, so a 10^9-row domain never skews a
    task; the top-N is TakeOrderedAndProject over the aggregated frame
    (never a global sort of rows); the OTHER rollup is one left_anti
    join against the broadcast 20-row top list plus a single agg.
    Unparsable urls land in the NULL host row (reference NULL-category
    convention). The pipeline builds the same report on the driver from
    `host_pass` (see `domain_tables`)."""
    counts = df.groupBy(host_col(F.col(url_col)).alias("host")).agg(
        F.count(F.lit(1)).alias("record_n"),
        F.sum(F.col("keep").cast("long")).alias("kept_n"),
    )
    top = counts.orderBy(F.col("record_n").desc(), F.asc_nulls_last("host")).limit(top_n)
    top_hosts = top.select(F.col("host").alias("_th"))
    other = (
        # null-safe anti join: the NULL-host row must be able to HOLD a
        # top slot (a plain anti join would silently sweep it into OTHER)
        counts.join(
            F.broadcast(top_hosts),
            F.col("host").eqNullSafe(F.col("_th")),
            "left_anti",
        )
        .agg(
            F.count(F.lit(1)).alias("_hosts"),
            F.coalesce(F.sum("record_n"), F.lit(0)).alias("record_n"),
            F.coalesce(F.sum("kept_n"), F.lit(0)).alias("kept_n"),
        )
        .where(F.col("_hosts") > 0)
        .select(F.lit("OTHER").alias("host"), "record_n", "kept_n")
    )
    ranked = top.unionByName(other)
    total = F.sum("record_n").over(Window.partitionBy())  # tiny frame (≤ top_n+1 rows)
    return (
        ranked.withColumn("record_pct", _pct_expr(F.col("record_n"), total))
        .orderBy(F.col("record_n").desc(), F.asc_nulls_last("host"))
    )


# ---------------------------------------------------------------------------
# Reporting-tail passes: the pipeline's reports come from these three
# exact aggregations over the curated table. Each brings a frame bounded
# by buckets x categories / months / windows, or by top-N, to the
# driver, where the reports are assembled.
# ---------------------------------------------------------------------------


def _collect(df: DataFrame) -> list[dict]:
    """Rows of a small aggregate frame."""
    return [r.asDict() for r in df.collect()]


def floor_pct(n: int | None, total: int, digits: int = 2) -> float | None:
    """Driver-side `_pct_expr`: floor(n * 100 * 10^digits / total) /
    10^digits, 0.0 when total is 0 — the same IEEE operations as the
    Spark expression, so the same double."""
    if not total > 0:
        return 0.0
    if n is None:
        return None
    return math.floor(n * (100.0 * 10**digits) / total) / 10**digits


def bucket_pass(
    rep: DataFrame,
    flag_cols: list[str],
    lang_valueset: list[str],
    run_date,
    windows: list[tuple[str, object, object]],
    url_valid,
    lang_valid,
) -> list[dict]:
    """Every additive count, sum and min/max of the reports, per
    (bucket, dim, key), in one grouped aggregation.

    Each row fans out to the groups it belongs to: dim 'all' (key NULL),
    'lang' (the n_pct category of lang_pred), 'ym' (month of a plausible
    warc_ts), 'keep', 'window' (each trailing window containing
    warc_ts) and 'url_valid' (valid urls only). All groups carry the
    same aggregates; the driver reads each from the dim it needs, and
    derives what another aggregate fixes: a column's NULLs are n minus
    its count, the valid urls are the n of dim 'url_valid', the
    off-valueset langs that of the lang dim's overflow key, and the
    kept/dropped token sums those of the keep dim's keys.

    countDistinct(url) per group is exact across buckets: bucket is a
    hash of url, so a url lives in one bucket and the per-bucket counts
    add up. It is the only distinct aggregate, so Spark plans it without
    an Expand. `rep` also carries `misplaced` (row stored outside its
    url's bucket), whose sum checks that premise.
    """
    url, lang, keep, text = F.col("url"), F.col("lang"), F.col("keep"), F.col("scrubbed_text")
    ts, tok, ppl = F.col("warc_ts"), F.col("n_tokens"), F.col("ppl")
    run_ts = F.lit(run_date.isoformat()).cast("timestamp")
    pre_1900 = F.lit("1900-01-01").cast("timestamp")
    lang_cat = (
        F.when(F.col("lang_pred").isNull(), F.lit(NULL_CATEGORY))
        .when(F.col("lang_pred").isin(lang_valueset), F.col("lang_pred"))
        .otherwise(F.lit(OVERFLOW_CATEGORY))
    )

    def dim(name, key=None, where=None):
        d = F.struct(
            F.lit(name).alias("dim"),
            (F.lit(None).cast("string") if key is None else key).alias("key"),
        )
        return d if where is None else F.when(where, d)

    dims = F.filter(
        F.array(
            dim("all"),
            dim("lang", lang_cat),
            dim("ym", F.date_format(ts, "yyyy_MM"), (ts >= pre_1900) & (ts <= run_ts)),
            dim("keep", keep.cast("string")),
            *[
                dim("window", F.lit(name), (ts >= F.lit(str(start)).cast("timestamp"))
                    & (ts <= F.lit(str(end)).cast("timestamp")))
                for name, start, end in windows
            ],
            dim("url_valid", where=url_valid),
        ),
        lambda d: d.isNotNull(),
    )

    def nsum(c):
        return F.sum(c.cast("long"))

    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.count(url).alias("url_n"),
        F.countDistinct(url).alias("url_distinct"),
        F.count(lang).alias("lang_n"),
        F.sum(F.when(lang_valid, 1).otherwise(0)).alias("lang_valid_n"),
        F.count(text).alias("text_n"),
        *[nsum(F.col(c)).alias(c) for c in flag_cols],
        nsum(keep).alias("kept"),
        F.count(keep).alias("keep_n"),
        nsum(F.col("scrub_hit")).alias("scrub_hits"),
        nsum(~F.col("extraction_ok")).alias("mismatch_n"),
        nsum(F.col("exact_dup")).alias("dup_n"),
        F.count(ts).alias("ts_n"),
        F.date_format(F.min(ts), "yyyy_MM").alias("min_ym"),
        F.date_format(F.max(ts), "yyyy_MM").alias("max_ym"),
        nsum(ts < pre_1900).alias("implausible_n"),
        nsum(ts > run_ts).alias("future_n"),
        F.count(tok).alias("tok_n"),
        F.min(tok).alias("tok_min"),
        F.sum(tok).alias("tok_sum"),
        F.max(tok).alias("tok_max"),
        F.count(ppl).alias("ppl_n"),
        F.min(ppl).alias("ppl_min"),
        F.sum(ppl).alias("ppl_sum"),
        F.max(ppl).alias("ppl_max"),
        nsum(keep & text.isNull()).alias("kept_null_scrub_n"),
        nsum(F.col("misplaced")).alias("misplaced"),
    ]
    exploded = rep.select("*", F.explode(dims).alias("_d")).select(
        "*", F.col("_d.dim").alias("dim"), F.col("_d.key").alias("key")
    )
    return _collect(exploded.groupBy("bucket", "dim", "key").agg(*aggs))


def global_pass(rep: DataFrame, lang_valid) -> dict:
    """The figures that do not add up across buckets, in one global
    aggregation: the distinct counts of lang and scrubbed_text (not
    functions of url), and the exact percentiles of ppl and of n_tokens
    per keep value (`tok_p_<key>`, keyed like the bucket pass's keep
    dim). Spark expands each row once for all of them."""
    lang = F.col("lang")
    arr = ", ".join(repr(p) for p in DEFAULT_PCTS)
    keep_where = {"true": "keep", "false": "NOT keep", None: "keep IS NULL"}
    return _collect(
        rep.agg(
            F.countDistinct(lang).alias("lang_distinct"),
            F.countDistinct(F.when(lang_valid, lang)).alias("lang_valid_distinct"),
            F.countDistinct("scrubbed_text").alias("text_distinct"),
            *[
                F.expr(f"percentile(n_tokens, array({arr})) FILTER (WHERE {where})")
                .alias(f"tok_p_{key}")
                for key, where in keep_where.items()
            ],
            F.expr(f"percentile(ppl, array({arr}))").alias("ppl_p"),
        )
    )[0]


def host_pass(rep: DataFrame, top_n: int = 20, url_col: str = "url") -> list[dict]:
    """One query over groupBy(host): the top-N hosts by records (ties by
    host, NULL last) plus one totals row (`total` true) carrying
    hosts_n, the record/kept sums and the NULL-host records. Enough to
    build domain_dist and domain_summary on the driver (`domain_tables`);
    the host list itself never leaves the cluster."""
    counts = rep.groupBy(host_col(F.col(url_col)).alias("host")).agg(
        F.count(F.lit(1)).alias("record_n"),
        F.sum(F.col("keep").cast("long")).alias("kept_n"),
    )
    top = counts.orderBy(F.col("record_n").desc(), F.asc_nulls_last("host")).limit(top_n)
    none = F.lit(None).cast("long")
    totals = counts.agg(
        F.lit(True).alias("total"),
        F.lit(None).cast("string").alias("host"),
        F.sum("record_n").alias("record_n"),
        F.sum("kept_n").alias("kept_n"),
        F.count(F.lit(1)).alias("hosts_n"),
        F.coalesce(F.sum(F.when(F.col("host").isNull(), F.col("record_n"))), F.lit(0))
        .alias("null_host_n"),
    )
    rows = top.select(
        F.lit(False).alias("total"), "host", "record_n", "kept_n",
        none.alias("hosts_n"), none.alias("null_host_n"),
    ).unionByName(totals)
    return _collect(rows)


def domain_tables(host_rows: list[dict], top_n: int = 20) -> tuple[list[tuple], dict]:
    """From `host_pass` output: the domain_dist rows (host, record_n,
    kept_n, record_pct) — the top-N hosts plus an OTHER row for the
    rest, ordered by record_n desc then host — and the domain_summary
    row, the scalar concentration stats the 14.x checks anchor on
    (hostnames are dynamic): hosts_n, records, null_host_n,
    top1_share_pct, top<N>_share_pct."""
    tot = next(r for r in host_rows if r["total"])
    top = sorted(
        (r for r in host_rows if not r["total"]),
        key=lambda r: (-r["record_n"], r["host"] is None, r["host"] or ""),
    )
    ranked = [(r["host"], r["record_n"], r["kept_n"]) for r in top]
    if tot["hosts_n"] > len(top):
        top_kept = sum(r["kept_n"] for r in top if r["kept_n"] is not None)
        other_kept = 0 if tot["kept_n"] is None else tot["kept_n"] - top_kept
        ranked.append(("OTHER", tot["record_n"] - sum(r[1] for r in ranked), other_kept))
    total = sum(r[1] for r in ranked)
    dist = sorted(
        [(h, n, k, floor_pct(n, total)) for h, n, k in ranked],
        key=lambda r: (-r[1], r[0] is None, r[0] or ""),
    )
    records = tot["record_n"]
    top1 = max((r["record_n"] for r in top), default=0)
    topn = sum(r["record_n"] for r in top)
    summary = {
        "hosts_n": tot["hosts_n"],
        "records": records,
        "null_host_n": tot["null_host_n"],
        "top1_share_pct": floor_pct(top1, records or 0, 4),
        f"top{top_n}_share_pct": floor_pct(topn, records or 0, 4),
    }
    return dist, summary


def url_filter_pass(flagged: DataFrame) -> dict:
    """records and dropped_n of the url pre-filter, one column-pruned
    aggregation over its flagged frame."""
    return _collect(
        flagged.agg(
            F.count(F.lit(1)).alias("records"),
            F.sum((~F.col("url_keep")).cast("long")).alias("dropped_n"),
        )
    )[0]
