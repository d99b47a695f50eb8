"""Report-family semantics: super-population, NULL/overflow categories,
dense YM fill, exact stats — differential-checked against DuckDB on the
driver's testdata where applicable (SURVEY §5)."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pcornet_data_curation_spark.operators.reports import (
    NULL_CATEGORY,
    OVERFLOW_CATEGORY,
    cont_stats,
    crosstab,
    minmax_profile,
    n_pct,
    n_pct_noref,
    tag_profile,
    ym_dense_fill,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


def test_tag_profile_vs_duckdb(spark, orders):
    got = (
        tag_profile(orders, ["o_orderstatus", "o_custkey"], dataset="orders")
        .toPandas()
        .set_index("tag")
    )
    for col in ["o_orderstatus", "o_custkey"]:
        want = duckdb.sql(
            f"select count({col}) a, count(distinct {col}) d, "
            f"sum(case when {col} is null then 1 else 0 end) n "
            f"from '{SF}/orders.parquet'"
        ).fetchone()
        assert got.loc[col, "all_n"] == want[0]
        assert got.loc[col, "distinct_n"] == want[1]
        assert got.loc[col, "null_n"] == (want[2] or 0)


def test_n_pct_superpopulation(spark, orders):
    vs = ["O", "F", "P", "ZZZ_NEVER"]  # ZZZ_NEVER must appear zero-filled
    got = n_pct(orders, "o_orderstatus", vs, distinct_col="o_custkey").toPandas()
    cats = got["category"].tolist()
    assert cats == vs + [NULL_CATEGORY, OVERFLOW_CATEGORY]
    assert got.loc[got.category == "ZZZ_NEVER", "record_n"].iloc[0] == 0
    assert got["record_n"].sum() == orders.count()
    assert abs(got["record_pct"].sum() - 100.0) < 0.5


def test_n_pct_empty_input_full_domain(spark):
    empty = spark.createDataFrame([], "x string, k string")
    got = n_pct(empty, "x", ["A", "B"], distinct_col="k").toPandas()
    assert got["category"].tolist() == ["A", "B", NULL_CATEGORY, OVERFLOW_CATEGORY]
    assert (got["record_n"] == 0).all() and (got["record_pct"] == 0.0).all()


def test_n_pct_noref_forced_null_row(spark, orders):
    got = n_pct_noref(orders, "o_orderpriority").toPandas()
    assert NULL_CATEGORY in got["category"].tolist()
    assert got["category"].tolist()[-1] == NULL_CATEGORY  # forced last
    want = duckdb.sql(
        f"select count(distinct o_orderpriority) from '{SF}/orders.parquet'"
    ).fetchone()[0]
    assert len(got) == want + 1


def test_cont_stats_exact_percentiles_vs_duckdb(spark, lineitem):
    got = cont_stats(lineitem, "l_quantity").toPandas().iloc[0]
    want = duckdb.sql(
        f"""select count(l_quantity), min(l_quantity), avg(l_quantity), max(l_quantity),
            quantile_cont(l_quantity, 0.05), quantile_cont(l_quantity, 0.25),
            quantile_cont(l_quantity, 0.50), quantile_cont(l_quantity, 0.75),
            quantile_cont(l_quantity, 0.95)
            from '{SF}/lineitem.parquet'"""
    ).fetchone()
    assert got["n"] == want[0]
    assert got["min"] == pytest.approx(want[1])
    assert got["mean"] == pytest.approx(want[2])
    assert got["max"] == pytest.approx(want[3])
    for i, p in enumerate(["p05", "p25", "p50", "p75", "p95"]):
        assert got[p] == pytest.approx(want[4 + i]), p


def test_cont_stats_grouped_null_group(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), (None, 5.0), (None, None)], "g string, v double"
    )
    got = cont_stats(df, "v", group=["g"]).toPandas().set_index("g")
    assert got.loc["a", "n"] == 2 and got.loc["a", "p50"] == 2.0
    # NULL group row present (reference forced NULL-group row)
    nullrow = got[got.index.isnull()]
    assert len(nullrow) == 1 and nullrow["nmiss"].iloc[0] == 1


def test_ym_dense_fill(spark):
    counts = spark.createDataFrame(
        [("2020_01", 5), ("2020_04", 2)], "ym string, record_n long"
    )
    got = ym_dense_fill(counts).toPandas()
    assert got["ym"].tolist() == ["2020_01", "2020_02", "2020_03", "2020_04"]
    assert got["record_n"].tolist() == [5, 0, 0, 2]


def test_ym_dense_fill_empty(spark):
    empty = spark.createDataFrame([], "ym string, record_n long")
    assert ym_dense_fill(empty).count() == 0


def test_minmax_profile(spark):
    df = spark.createDataFrame(
        [("2020-05-01",), ("1850-01-01",), ("2099-01-01",), (None,)], "d string"
    ).select(F.col("d").cast("timestamp").alias("d"))
    got = minmax_profile(df, "d", future_after="2026-01-01").toPandas().iloc[0]
    assert got["n"] == 3 and got["nmiss"] == 1
    assert got["implausible_n"] == 1 and got["future_n"] == 1
    assert got["min_ym"] == "1850_01" and got["max_ym"] == "2099_01"


def test_crosstab_full_domain(spark):
    df = spark.createDataFrame([("a", "x"), ("a", "y"), (None, "x")], "c1 string, c2 string")
    got = crosstab(df, ["c1", "c2"], domains={"c1": ["a", "b"], "c2": ["x", "y"]}).toPandas()
    # (a,b,NULL) x (x,y,NULL) = 9 cells, all present
    assert len(got) == 9
    assert got["record_n"].sum() == 3
    zero_cells = got[(got.c1 == "b")]
    assert (zero_cells["record_n"] == 0).all()


def test_crosstab_domains_empty_input_full_shape(spark):
    from pcornet_data_curation_spark.operators.reports import crosstab

    empty = spark.createDataFrame([], "a string, b string, k long")
    got = crosstab(
        empty, ["a", "b"], domains={"a": ["x", "y"], "b": ["p", "q", "r"]}, distinct_col="k"
    ).toPandas()
    # full (2+NULL) x (3+NULL) cross-product, zero-filled (dummy-path
    # invariant, data_curation_base.sas:140-158)
    assert len(got) == 3 * 4
    assert (got["record_n"] == 0).all() and (got["distinct_n"] == 0).all()
    assert (got["record_pct"] == 0.0).all()


def test_ym_dense_fill_bridges_gaps(spark):
    from pcornet_data_curation_spark.operators.reports import ym_dense_fill

    counts = spark.createDataFrame(
        [("2023_01", 5), ("2023_04", 2)], "ym string, record_n long"
    )
    got = ym_dense_fill(counts).toPandas()
    assert got["ym"].tolist() == ["2023_01", "2023_02", "2023_03", "2023_04"]
    assert got["record_n"].tolist() == [5, 0, 0, 2]


def test_cont_stats_null_group_row(spark):
    from pcornet_data_curation_spark.operators.reports import cont_stats

    df = spark.createDataFrame(
        [("a", 1.0), (None, 2.0), ("a", 3.0), (None, None)], "g string, x double"
    )
    got = cont_stats(df, "x", group=["g"]).toPandas()
    # NULL group is a real output row (reference forces it, :350-398)
    nullrow = got[got["g"].isna()]
    assert len(nullrow) == 1
    assert nullrow["n"].iloc[0] == 1 and nullrow["nmiss"].iloc[0] == 1


def test_tag_profile_approx_mode(spark, orders):
    from pcornet_data_curation_spark.operators.reports import tag_profile

    exact = tag_profile(orders, ["o_custkey"]).toPandas().iloc[0]
    approx = tag_profile(orders, ["o_custkey"], approx=True).toPandas().iloc[0]
    assert exact["all_n"] == approx["all_n"]
    # HLL within 5% of exact on this cardinality
    assert abs(approx["distinct_n"] - exact["distinct_n"]) <= 0.05 * exact["distinct_n"]


def test_n_pct_approx_mode(spark):
    """HLL escape hatch for 10^12-row distinct counts: same categories
    and record counts; distinct_n within HLL tolerance of exact."""
    from pcornet_data_curation_spark.operators.reports import n_pct

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    vs = ["click", "view", "purchase"]
    exact = n_pct(ev, "event_type", vs, distinct_col="user_id").toPandas()
    approx = n_pct(ev, "event_type", vs, distinct_col="user_id", approx=True).toPandas()
    assert exact["category"].tolist() == approx["category"].tolist()
    assert exact["record_n"].tolist() == approx["record_n"].tolist()
    for e, a in zip(exact["distinct_n"], approx["distinct_n"]):
        assert a == e == 0 or abs(a - e) / max(e, 1) < 0.1


def test_dash_windows_month_clamping():
    """Calendar arithmetic: shifting May 31 back 3 months clamps to
    Feb 28/29; spans subtract from the clamped end (reference derives
    windows as run date minus 3 months, data_curation_base.sas:49-55)."""
    import datetime as dt

    from pcornet_data_curation_spark.operators.reports import dash_windows

    w = dash_windows(dt.date(2025, 5, 31), [("w1", {"years": 1})], skew_months=3)
    [(name, start, end)] = w
    assert end == dt.date(2025, 2, 28)
    assert start == dt.date(2024, 2, 28)
    # leap year clamp
    [(_, s2, e2)] = dash_windows(dt.date(2024, 5, 31), [("w", {"months": 2})], skew_months=3)
    assert e2 == dt.date(2024, 2, 29) and s2 == dt.date(2023, 12, 29)
    # day spans are exact
    [(_, s3, e3)] = dash_windows(dt.date(2024, 3, 1), [("w", {"days": 1})], skew_months=0)
    assert e3 == dt.date(2024, 3, 1) and s3 == dt.date(2024, 2, 29)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        dash_windows(dt.date(2024, 1, 1), [("w", {"weeks": 1})])


def test_domain_dist_topn_other_rollup(spark):
    """Top-N + OTHER rollup over a skewed host distribution; unparsable
    urls land in the NULL host row; percentages cover the full corpus."""
    from pcornet_data_curation_spark.operators.reports import domain_dist

    rows = (
        [(f"https://hot.example.com/{i}", True) for i in range(50)]
        + [(f"https://warm.example.com/{i}", False) for i in range(30)]
        + [(f"https://site-{i}.example.com/x", True) for i in range(15)]
        + [("not a url", True)] * 5
    )
    df = spark.createDataFrame(rows, "url string, keep boolean")
    out = domain_dist(df, top_n=3).toPandas()
    assert out.iloc[0]["host"] == "hot.example.com" and out.iloc[0]["record_n"] == 50
    assert out.iloc[1]["host"] == "warm.example.com" and out.iloc[1]["kept_n"] == 0
    # the NULL host (5 unparsable urls) took the 3rd top slot; the 15
    # tail singletons rolled into OTHER, which presents above it by count
    import pandas as pd
    assert out.iloc[2]["host"] == "OTHER" and out.iloc[2]["record_n"] == 15
    assert pd.isna(out.iloc[3]["host"]) and out.iloc[3]["record_n"] == 5
    assert out["record_n"].sum() == 100
    assert abs(out["record_pct"].sum() - 100.0) < 0.01


def test_domain_summary_concentration(spark):
    from pcornet_data_curation_spark.operators.reports import domain_tables, host_pass

    rows = [("https://big.example.com/%d" % i, True) for i in range(70)] + [
        ("https://site-%d.example.com/x" % i, True) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "url string, keep boolean")
    _, s = domain_tables(host_pass(df, top_n=5), top_n=5)
    assert s["hosts_n"] == 31 and s["records"] == 100 and s["null_host_n"] == 0
    assert s["top1_share_pct"] == 70.0
    assert s["top5_share_pct"] == 74.0  # 70 + 4 tail singletons


def test_host_extraction_ignores_port_and_userinfo(spark):
    """One real host must count as one host regardless of port or
    userinfo decoration — otherwise the 14.x concentration checks can
    be evaded by url variation."""
    from pcornet_data_curation_spark.operators.reports import domain_tables, host_pass

    rows = [
        ("https://cdn.example.com/a", True),
        ("https://cdn.example.com:443/b", True),
        ("https://user@cdn.example.com/c", True),
        ("https://user:pw@cdn.example.com:8443/d", True),
        ("HTTPS://CDN.EXAMPLE.COM/e", True),     # case-folded
        ("https://other.example.net/x", True),
    ]
    df = spark.createDataFrame(rows, "url string, keep boolean")
    _, s = domain_tables(host_pass(df, top_n=5), top_n=5)
    assert s["hosts_n"] == 2
    assert s["top1_share_pct"] == pytest.approx(83.3333, abs=0.001)


def test_host_extraction_ipv6_lands_in_null_row(spark):
    from pcornet_data_curation_spark.operators.reports import domain_tables, host_pass

    rows = [
        ("https://[2001:db8::1]/x", True),
        ("https://[::1]:8443/y", True),
        ("https://real.example.com/z", True),
    ]
    df = spark.createDataFrame(rows, "url string, keep boolean")
    _, s = domain_tables(host_pass(df, top_n=5), top_n=5)
    # the two IPv6 urls are NULL-host (not a phantom '[' host)
    assert s["hosts_n"] == 2 and s["null_host_n"] == 2


def test_host_extraction_userinfo_with_ipv6_not_phantom(spark):
    """Backtracking regression: 'https://alice@[::1]/x' must NOT report
    the userinfo 'alice' as a host — it is an IPv6 origin (NULL row)."""
    from pcornet_data_curation_spark.operators.reports import domain_tables, host_pass

    rows = [
        ("https://alice@[2001:db8::1]/a", True),
        ("https://bob@[::1]:8443/b", True),
        ("https://carol@real.example.com/c", True),
    ]
    df = spark.createDataFrame(rows, "url string, keep boolean")
    _, s = domain_tables(host_pass(df, top_n=5), top_n=5)
    assert s["hosts_n"] == 2 and s["null_host_n"] == 2  # real host + NULL


def test_host_col_matches_lower_on_non_ascii(spark):
    """`host_col` lowers ASCII hosts without `lower()` and sends every
    other host through it: on mixed-case ASCII, German, Turkish and
    Greek hosts, with port and userinfo variants, it equals `F.lower`
    of the extracted raw host."""
    from pcornet_data_curation_spark.operators.reports import AUTHORITY_RE, host_col

    hosts = ["Cdn.Example.COM", "MÜNCHEN.de", "İSTANBUL.example", "ΣΟΦΙΑ.gr", "Straße.DE"]
    urls = [
        u
        for h in hosts
        for u in (f"https://{h}/a", f"HTTP://{h}:8080/b", f"https://User:Pw@{h}:443/c")
    ] + ["https://[::1]/x", "not a url", None]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    authority = F.regexp_extract("url", AUTHORITY_RE, 1)
    raw = F.regexp_extract(F.regexp_replace(authority, "^[^@]*@", ""), "^([^:\\[][^:]*)", 1)
    got = df.select(
        "url",
        host_col(F.col("url")).alias("host"),
        F.when(raw == "", None).otherwise(F.lower(raw)).alias("want"),
    ).collect()
    assert all(r["host"] == r["want"] for r in got), got
    assert {r["host"] for r in got} >= {"cdn.example.com", "münchen.de", "σοφια.gr"}
