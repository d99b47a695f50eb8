"""Driver-side pieces of the reporting tail: Spark-exact value
formatting and rounding, the host pass against the registry
domain_dist, check evaluation semantics, cross-run drift and trend
rows, and manifest and prior-metrics errors."""

import json
import math
import os

import pytest

from pcornet_data_curation_spark.operators.checks import DEFAULT_CHECKS, Check, evaluate_checks
from pcornet_data_curation_spark.operators.drift import (
    drift_metrics,
    drift_rows,
    trend_metrics,
    trend_rows,
)
from pcornet_data_curation_spark.operators.normalize import (
    METRICS_DDL,
    spark_double_str,
    spark_round,
)
from pcornet_data_curation_spark.plans.checkpoint import Manifest
from pcornet_data_curation_spark.plans.report_tail import _drift_rows

VALUES = [
    0.0, -0.0, 1.0, -1.5, 12.5, 60.4, 33.33333333333333, 1e-3, 9.99e-4, 1e-4, 1.5e-7,
    9999999.0, 1e7, 1.2345e8, 123456789.125, 1.7976931348623157e308,
    729.0000000000001, 85.15892399782744, 2.0 / 3.0, float("nan"), float("inf"),
    float("-inf"),
] + [k * 100.0 / n for n in (3, 7, 11, 793, 1499) for k in range(0, n + 1, max(1, n // 25))]


def test_spark_double_str_matches_cast(spark):
    df = spark.createDataFrame([(v,) for v in VALUES], "x double")
    got = [r[0] for r in df.selectExpr("cast(x as string)").collect()]
    assert got == [spark_double_str(v) for v in VALUES]


def test_spark_round_is_half_up_on_the_decimal_string(spark):
    vals = [v for v in VALUES if math.isfinite(v) and abs(v) < 1e15] + [1.005, 2.675, 0.125]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r[0] for r in df.selectExpr("round(x, 2)").collect()]
    assert got == [spark_round(v, 2) for v in vals]
    # 2.675 is 2.67499999... in binary: half-even on the binary value
    # gives 2.67, Spark's HALF_UP on the string "2.675" gives 2.68
    assert spark_round(2.675, 2) == 2.68 != round(2.675, 2)


def test_domain_tables_match_registry_domain_dist(spark):
    from pcornet_data_curation_spark.operators.reports import (
        domain_dist,
        domain_tables,
        host_pass,
    )

    rows = (
        [(f"https://hot.example.com/{i}", True) for i in range(50)]
        + [(f"https://warm.example.com/{i}", i % 2 == 0) for i in range(30)]
        + [(f"https://site-{i}.example.com/x", None) for i in range(15)]
        + [("not a url", True)] * 5
    )
    df = spark.createDataFrame(rows, "url string, keep boolean")
    for top_n in (1, 3, 30):
        want = [tuple(r) for r in domain_dist(df, top_n=top_n).collect()]
        dist, summary = domain_tables(host_pass(df, top_n=top_n), top_n=top_n)
        assert dist == want
        assert summary["hosts_n"] == 18 and summary["null_host_n"] == 5


def test_evaluate_checks_semantics_and_adapter():
    nan = float("nan")
    metrics = [
        ("ppl_stats", "", "", "mean", "NaN", nan),  # NaN sorts above all: 8.03 fires
        ("lang_dist", "", "en", "record_pct", "0.5", 0.5),  # 6.03 fires (lt)
        ("lang_dist", "", "de", "record_pct", "0.5", 0.5),  # 6.03 is en-only
        ("verdict_summary", "", "", "keep_pct", None, None),  # NULL: no exception
    ]
    rows = evaluate_checks(metrics)
    fired = {(r[0], r[4]) for r in rows if r[8]}
    assert fired == {("8.03", ""), ("6.03", "en")}
    one = [r for r in rows if r[0] == "1.01"]
    assert len(one) == 1 and one[0][7] is None and one[0][8] is False
    absent = [r for r in rows if r[0] == "1.03"]
    assert absent == [("1.03", "viability", "run produced no records", "verdict_summary",
                       None, "records", 1.0, None, False, "red")]
    ids = [(r[0], r[4] is not None, r[4] or "") for r in rows]
    assert ids == sorted(ids)


# Cross-run drift and trend. The pair covers non-zero deltas, a
# |prior| < 1 denominator, duplicate keys on both sides, NULL resultn,
# a NULL category (never a drift key, null-safe for trend), differing
# `variable` (trend ignores it), NaN and infinity on either side, a
# category-filtered check, checks that are approaching, already
# breached or of an unknown op. DRIFT and TREND are the rows Spark's
# inner-join plans emitted for this pair, sorted.
NAN, INF = float("nan"), float("inf")
# (dc_name, variable, category, statistic, resultc, resultn)
NOW = [
    ("verdict_summary", "", "", "keep_pct", "95.0", 95.0),
    ("verdict_summary", "", "", "records", "1500", 1500.0),
    ("verdict_summary", "", "", "kept", "3", 3.0),
    ("lang_dist", "", "en", "record_pct", "0.9", 0.9),
    ("lang_dist", "", "de", "record_pct", "0.5", 0.5),
    ("ppl_stats", "", "", "mean", "NaN", NAN),
    ("ppl_stats", "", "", "p95", "500.0", 500.0),
    ("ppl_stats", "", "", "max", "Infinity", INF),
    ("rule_summary", "", "0|min_len", "fail_pct", "10.0", 10.0),
    ("rule_summary", "", "0|min_len", "fail_pct", "12.0", 12.0),
    ("referential_summary", "", "", "kept_mean_tokens", "-3.0", -3.0),
    ("tokens_by_keep", "", None, "mean", "25.0", 25.0),
    ("warc_minmax", "v1", "warc_ts", "n", "40", 40.0),
    ("run_metadata", "", "spark_version", "meta_value", "4.1.2", None),
    ("verdict_summary", "", "", "only_now", "1.0", 1.0),
    ("scrub_summary", "", "", "scrub_pct", None, None),
    ("tokens_by_keep", "", "true", "mean", "33.0", 33.0),
    ("url_unique", "", "", "url_n", "100", 100.0),
]
PRIOR = [
    ("verdict_summary", "", "", "keep_pct", "90.0", 90.0),
    ("verdict_summary", "", "", "records", "500", 500.0),
    ("verdict_summary", "", "", "kept", "0.5", 0.5),
    ("lang_dist", "", "en", "record_pct", "1.2", 1.2),
    ("lang_dist", "", "de", "record_pct", "0.4", 0.4),
    ("ppl_stats", "", "", "mean", "250.0", 250.0),
    ("ppl_stats", "", "", "p95", "NaN", NAN),
    ("ppl_stats", "", "", "max", "Infinity", INF),
    ("rule_summary", "", "0|min_len", "fail_pct", "8.0", 8.0),
    ("rule_summary", "", "0|min_len", "fail_pct", "9.0", 9.0),
    ("referential_summary", "", "", "kept_mean_tokens", "-0.5", -0.5),
    ("tokens_by_keep", "", None, "mean", "28.0", 28.0),
    ("warc_minmax", "v2", "warc_ts", "n", "30", 30.0),
    ("run_metadata", "", "spark_version", "meta_value", "4.1.2", None),
    ("verdict_summary", "", "", "only_prior", "1.0", 1.0),
    ("scrub_summary", "", "", "scrub_pct", "3.0", 3.0),
    ("tokens_by_keep", "", "true", "mean", "NaN", NAN),
    ("url_unique", "", "", "url_n", "100", 100.0),
]
CHECKS = (
    Check("t.01", "keep rate high", "verdict_summary", "keep_pct", "gt", 99.5),
    Check("t.02", "keep rate low", "verdict_summary", "keep_pct", "lt", 10.0),
    Check("t.03", "english share low", "lang_dist", "record_pct", "le", 1.0, category="en"),
    Check("t.04", "perplexity high", "ppl_stats", "mean", "ge", 300.0),
    Check("t.05", "rule fail rate", "rule_summary", "fail_pct", "gt", 12.0),
    Check("t.06", "short kept docs", "tokens_by_keep", "mean", "lt", 30.0),
    Check("t.07", "timestamps", "warc_minmax", "n", "lt", 45.0, category="warc_ts"),
    Check("t.08", "unknown op", "verdict_summary", "records", "eq", 1500.0),
    Check("t.09", "scrub", "scrub_summary", "scrub_pct", "gt", 1.0),
    Check("t.10", "kept docs short", "tokens_by_keep", "mean", "lt", 30.0, category="true"),
    Check("t.11", "url count", "url_unique", "url_n", "gt", 110.0),
)

DRIFT = [
    ("drift|lang_dist", "", "de", "record_pct__absdelta", "0.09999999999999998", 0.09999999999999998),
    ("drift|lang_dist", "", "de", "record_pct__relpct", "9.999999999999998", 9.999999999999998),
    ("drift|lang_dist", "", "en", "record_pct__absdelta", "0.29999999999999993", 0.29999999999999993),
    ("drift|lang_dist", "", "en", "record_pct__relpct", "24.999999999999993", 24.999999999999993),
    ("drift|ppl_stats", "", "", "max__absdelta", "NaN", NAN),
    ("drift|ppl_stats", "", "", "max__relpct", "NaN", NAN),
    ("drift|ppl_stats", "", "", "mean__absdelta", "NaN", NAN),
    ("drift|ppl_stats", "", "", "mean__relpct", "NaN", NAN),
    ("drift|ppl_stats", "", "", "p95__absdelta", "NaN", NAN),
    ("drift|ppl_stats", "", "", "p95__relpct", "NaN", NAN),
    ("drift|referential_summary", "", "", "kept_mean_tokens__absdelta", "2.5", 2.5),
    ("drift|referential_summary", "", "", "kept_mean_tokens__relpct", "250.0", 250.0),
    ("drift|rule_summary", "", "0|min_len", "fail_pct__absdelta", "1.0", 1.0),
    ("drift|rule_summary", "", "0|min_len", "fail_pct__absdelta", "2.0", 2.0),
    ("drift|rule_summary", "", "0|min_len", "fail_pct__absdelta", "3.0", 3.0),
    ("drift|rule_summary", "", "0|min_len", "fail_pct__absdelta", "4.0", 4.0),
    ("drift|rule_summary", "", "0|min_len", "fail_pct__relpct", "11.11111111111111", 11.11111111111111),
    ("drift|rule_summary", "", "0|min_len", "fail_pct__relpct", "25.0", 25.0),
    ("drift|rule_summary", "", "0|min_len", "fail_pct__relpct", "33.33333333333333", 33.33333333333333),
    ("drift|rule_summary", "", "0|min_len", "fail_pct__relpct", "50.0", 50.0),
    ("drift|tokens_by_keep", "", "true", "mean__absdelta", "NaN", NAN),
    ("drift|tokens_by_keep", "", "true", "mean__relpct", "NaN", NAN),
    ("drift|url_unique", "", "", "url_n__absdelta", "0.0", 0.0),
    ("drift|url_unique", "", "", "url_n__relpct", "0.0", 0.0),
    ("drift|verdict_summary", "", "", "keep_pct__absdelta", "5.0", 5.0),
    ("drift|verdict_summary", "", "", "keep_pct__relpct", "5.555555555555555", 5.555555555555555),
    ("drift|verdict_summary", "", "", "kept__absdelta", "2.5", 2.5),
    ("drift|verdict_summary", "", "", "kept__relpct", "250.0", 250.0),
    ("drift|verdict_summary", "", "", "records__absdelta", "1000.0", 1000.0),
    ("drift|verdict_summary", "", "", "records__relpct", "200.0", 200.0),
]
TREND = [
    ("threshold_trend", "", "t.01|", "approaching", "1.0", 1.0),
    ("threshold_trend", "", "t.02|", "approaching", "0.0", 0.0),
    ("threshold_trend", "", "t.03|en", "approaching", "0.0", 0.0),
    ("threshold_trend", "", "t.04|", "approaching", "0.0", 0.0),
    ("threshold_trend", "", "t.05|0|min_len", "approaching", "1.0", 1.0),
    ("threshold_trend", "", "t.05|0|min_len", "approaching", "1.0", 1.0),
    ("threshold_trend", "", "t.05|0|min_len", "approaching", "1.0", 1.0),
    ("threshold_trend", "", "t.05|0|min_len", "approaching", "1.0", 1.0),
    ("threshold_trend", "", "t.06|NULL", "approaching", "0.0", 0.0),
    ("threshold_trend", "", "t.06|true", "approaching", "1.0", 1.0),
    ("threshold_trend", "", "t.07|warc_ts", "approaching", "0.0", 0.0),
    ("threshold_trend", "", "t.08|", "approaching", "0.0", 0.0),
    ("threshold_trend", "", "t.10|true", "approaching", "1.0", 1.0),
    ("threshold_trend", "", "t.11|", "approaching", "0.0", 0.0),
]


def _canon(rows) -> list[tuple]:
    """Rows sorted, NaN made comparable."""
    rows = [tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r) for r in rows]
    return sorted(rows, key=lambda r: [(v is None, str(v)) for v in r])


def test_drift_and_trend_rows_match_spark_join():
    assert _canon(drift_rows(NOW, PRIOR)) == _canon(DRIFT)
    assert _canon(trend_rows(CHECKS, NOW, PRIOR)) == _canon(TREND)


def test_drift_and_trend_dataframe_adapters(spark):
    now = spark.createDataFrame(NOW, METRICS_DDL)
    prior = spark.createDataFrame(PRIOR, METRICS_DDL)
    for df, want in ((drift_metrics(now, prior), DRIFT), (trend_metrics(CHECKS, now, prior), TREND)):
        assert df.schema == spark.createDataFrame([], METRICS_DDL).schema
        assert _canon(tuple(r) for r in df.collect()) == _canon(want)


def test_prior_metrics_missing_is_first_refresh_corrupt_raises(tmp_path):
    import pyarrow.parquet as pq

    from pcornet_data_curation_spark.operators.normalize import METRICS_SCHEMA, rows_table

    assert _drift_rows(str(tmp_path / "no_such_run"), NOW) == []
    path = tmp_path / "prior" / "metrics"
    path.mkdir(parents=True)
    pq.write_table(rows_table(PRIOR, METRICS_SCHEMA), str(path / "part-00000.parquet"))
    assert _canon(_drift_rows(str(tmp_path / "prior"), NOW)) == \
        _canon(drift_rows(NOW, PRIOR) + trend_rows(DEFAULT_CHECKS, NOW, PRIOR))
    data = (path / "part-00000.parquet").read_bytes()
    (path / "part-00000.parquet").write_bytes(data[: len(data) // 2])  # a write cut off
    with pytest.raises(ValueError, match="cannot be read") as e:
        _drift_rows(str(tmp_path / "prior"), NOW)
    assert str(path) in str(e.value)


def test_manifest_corrupt_json_raises_value_error(tmp_path):
    root = str(tmp_path / "out")
    m = Manifest.load_or_init(root, 4)
    m.mark_done(0, 10, 7)
    m.save()
    with open(m.path) as f:
        text = f.read()
    with open(m.path, "w") as f:
        f.write(text[: len(text) // 2])  # a write cut off mid-file
    with pytest.raises(ValueError, match="start a fresh output_root") as e:
        Manifest.load_or_init(root, 4)
    assert os.path.join(root, Manifest.FILENAME) in str(e.value)
    assert isinstance(e.value.__cause__, json.JSONDecodeError)


def test_write_small_table_replaces_a_spark_table(spark, tmp_path):
    import pyarrow as pa

    from pcornet_data_curation_spark.sources.tables import write_small_table

    path = str(tmp_path / "t")
    spark.range(100).repartition(4).write.parquet(path)  # several part files + _SUCCESS
    open(os.path.join(path, ".left-by-a-crash.parquet"), "w").close()
    write_small_table(pa.table({"id": pa.array([7, 8], pa.int64())}), path)
    assert os.listdir(path) == ["part-00000.parquet"]
    df = spark.read.parquet(path)
    assert df.schema.simpleString() == "struct<id:bigint>"
    assert sorted(r["id"] for r in df.collect()) == [7, 8]


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-12 * max(abs(a), abs(b))
    return a == b


def _rows_close(got: list[tuple], want: list[tuple]) -> bool:
    key = lambda r: [(v is None, str(v)) for v in r]  # noqa: E731
    got, want = sorted(got, key=key), sorted(want, key=key)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w)) for g, w in zip(got, want)
    )


def test_tail_reports_match_registry_operators(spark, tmp_path):
    """The tail's reports over a hand-built store equal the registry's
    per-report operators (DuckDB-oracled, no code shared with the
    passes). The store holds NULL url, lang, warc_ts, n_tokens, ppl,
    scrubbed_text and keep values, which a pipeline run never writes
    for `keep`; urls repeat, so per-bucket url distincts must add up."""
    import datetime as dt
    import random

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from pcornet_data_curation_spark.config import PipelineConfig
    from pcornet_data_curation_spark.operators import reports as rp
    from pcornet_data_curation_spark.operators import rules as R
    from pcornet_data_curation_spark.plans.checkpoint import bucket_col
    from pcornet_data_curation_spark.plans.lineage import LineageTracker
    from pcornet_data_curation_spark.plans.report_tail import LANG_VALUESET, run_report_tail

    n_buckets = 4
    cfg = PipelineConfig(output_root=str(tmp_path / "out"), n_buckets=n_buckets)
    flag_cols = [R.flag_name(r) for r in R.active_rules(cfg.rule_overrides)]
    rnd = random.Random(18)

    def some(values, null_share=0.15):
        return None if rnd.random() < null_share else rnd.choice(values)

    stamps = [dt.datetime(y, m, 15, 6) for y in (1850, 2019, 2021, 2022, 2024, 2025, 2027)
              for m in (1, 6, 11)]
    rows = [
        (
            some([f"https://h{i % 7}.example.com/{i % 40}", f"ftp://x/{i % 5}", "no url"]),
            some(["en", "de", "de-AT", "EN", "english", "fr"]),
            some(stamps),
            some(LANG_VALUESET + ["zz", "xx"]),
            some(list(range(0, 400, 7))),
            some([1.5, 2.25, 10.0, 55.5, 300.125, 1e4 / 3]),
            some([True, False]),
            rnd.random() < 0.3,
            rnd.random() < 0.9,
            rnd.random() < 0.1,
            some([f"doc {i % 50}", "boilerplate"]),
            *[rnd.random() < 0.2 for _ in flag_cols],
        )
        for i in range(400)
    ]
    ddl = (
        "url string, lang string, warc_ts timestamp, lang_pred string, n_tokens bigint, "
        "ppl double, keep boolean, scrub_hit boolean, extraction_ok boolean, "
        "exact_dup boolean, scrubbed_text string, " + ", ".join(f"{c} boolean" for c in flag_cols)
    )
    rep = spark.createDataFrame(rows, ddl).withColumn("bucket", bucket_col(n_buckets))
    assert rep.select("bucket").distinct().count() == n_buckets
    run_report_tail(
        spark, rep, cfg, Manifest.load_or_init(cfg.output_root, n_buckets), LineageTracker(),
        None, list(range(n_buckets)),
    )

    def report(name):
        table = pq.read_table(os.path.join(cfg.output_root, "reports", name))
        return [tuple(r.values()) for r in table.to_pylist()]

    def ref(df):
        return [tuple(r) for r in df.collect()]

    url_valid = F.col("url").rlike("^https?://[^ \\t\\n\\r\\f]+$")
    lang_valid = F.col("lang").rlike("^[a-z]{2}(-[A-Za-z]{2})?$")
    windows = rp.dash_windows(
        cfg.run_date, [(f"last_{y}y", {"years": y}) for y in (1, 2, 3, 4, 5)]
    )
    want = {
        "pages_tag": rp.tag_profile(
            rep, ["url", "lang", "scrubbed_text"], "curated",
            valid_exprs={"url": url_valid, "lang": lang_valid},
        ),
        "lang_dist": rp.n_pct(rep, "lang_pred", LANG_VALUESET, distinct_col="url"),
        "tokens_by_keep": rp.cont_stats(rep, "n_tokens", group=["keep"]),
        "ppl_stats": rp.cont_stats(rep, "ppl"),
        "warc_minmax": rp.minmax_profile(rep, "warc_ts", future_after=cfg.run_date.isoformat()),
        "dash_activity": rp.dash_window_counts(rep, "warc_ts", windows, "url"),
    }
    for name, df in want.items():
        assert _rows_close(report(name), ref(df)), name
    assert len(report("tokens_by_keep")) == 3  # true, false and NULL keep
    assert len(report("dash_activity")) == 5

    # referential_summary from one plain aggregation
    tok, keep = F.col("n_tokens"), F.col("keep")
    lang_pred = F.col("lang_pred")
    (records, kept_null_scrub, null_url, nonvalueset, kept_mean, dropped_mean), = ref(rep.agg(
        F.count(F.lit(1)),
        F.sum((keep & F.col("scrubbed_text").isNull()).cast("long")),
        F.sum(F.col("url").isNull().cast("long")),
        F.sum((lang_pred.isNotNull() & ~lang_pred.isin(LANG_VALUESET)).cast("long")),
        F.avg(F.when(keep, tok)),
        F.avg(F.when(~keep, tok)),
    ))
    assert _rows_close(report("referential_summary"), [(
        records, kept_null_scrub, null_url, nonvalueset, kept_mean, dropped_mean, 0,
        dropped_mean / kept_mean,
    )])
