"""Driver-side pieces of the reporting tail: Spark-exact value
formatting and rounding, the host pass against the registry
domain_dist, check evaluation semantics, and manifest errors."""

import json
import math
import os

import pytest

from pcornet_data_curation_spark.operators.checks import evaluate_checks, run_checks
from pcornet_data_curation_spark.operators.normalize import (
    METRICS_DDL,
    spark_double_str,
    spark_round,
)
from pcornet_data_curation_spark.plans.checkpoint import Manifest

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


def test_evaluate_checks_semantics_and_adapter(spark):
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
    via_spark = run_checks(spark.createDataFrame(metrics, METRICS_DDL)).collect()
    assert [tuple(r) for r in via_spark if r["check_id"] != "8.03"] == \
        [r for r in rows if r[0] != "8.03"]


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
