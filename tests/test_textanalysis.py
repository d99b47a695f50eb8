"""JVM-side text analysis vs DuckDB SQL oracles (dialect parity)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from pcornet_data_curation_spark.operators.textanalysis import (
    fingerprint,
    langid_heuristic,
    quality_score,
    with_token_stats,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_token_count_vs_duckdb(spark, docs):
    got = (
        with_token_stats(docs)
        .select("doc_id", "n_tokens_sql")
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    want = duckdb.sql(
        f"""select doc_id,
            case when length(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) = 0
                 then 0
                 else len(string_split(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' '))
            end n
            from '{SF}/documents.parquet' order by doc_id"""
    ).df().set_index("doc_id")
    assert got["n_tokens_sql"].tolist() == want["n"].tolist()


def test_langid_heuristic(spark):
    rows = [
        (1, "the cat and the dog of the house"),
        (2, "der hund und die katze und der vogel"),
        (3, "le chat et les chiens et le merle"),
        (4, "zzz qqq xxx"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = langid_heuristic(df).toPandas().set_index("doc_id")["lang_guess"]
    assert got[1] == "en" and got[2] == "de" and got[3] == "fr"
    assert got[4] == "und" and got[5] == "und"


def test_quality_score_range_and_order(spark, docs):
    q = quality_score(docs).toPandas()
    assert ((q["quality"] >= 0) & (q["quality"] <= 1)).all()
    # longer, sentence-rich docs score higher than tiny ones on average
    rich = q[q.n_tokens >= 50]["quality"].mean()
    tiny = q[q.n_tokens < 10]["quality"].mean()
    if len(q[q.n_tokens < 10]):
        assert rich > tiny


def test_fingerprint_normalization(spark):
    rows = [
        (1, "Hello  World"),
        (2, "hello world"),
        (3, "hello\tworld\n"),
        (4, "different entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = fingerprint(df).toPandas().set_index("doc_id")["fingerprint"]
    assert fp[1] == fp[2] == fp[3] != fp[4]


def test_bpe_token_count_behaviour(spark):
    from pcornet_data_curation_spark.operators.textanalysis import with_bpe_token_count

    rows = [
        (1, "hello world"),          # 2 word tokens
        (2, "it's fine"),            # it + 's + fine
        (3, "abc123!?"),             # letters + digits + symbols
        (4, ""),                     # empty
        (5, None),                   # null-as-empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["bpe_tokens"] for r in with_bpe_token_count(df).collect()}
    assert got[1] == 2
    assert got[2] == 3
    assert got[3] == 3
    assert got[4] == 0 and got[5] == 0


def test_dup_line_metrics_shapes_identical(spark):
    """The linear explode+groupBy twin must be row/value-identical to
    the zero-shuffle array-HOF default (both feed the same SQL oracle);
    fixture includes multi-dup lines, blank lines, null and empty
    docs."""
    from pcornet_data_curation_spark.operators.textanalysis import (
        dup_line_metrics,
        dup_line_metrics_exploded,
    )

    rows = [
        (1, "nav\ncontent a\nnav\nfooter\nnav"),
        (2, "only\nunique\nlines here"),
        (3, "x\n\n  \nx\n\nx"),
        (4, None),
        (5, ""),
        (6, "same\nsame\nsame\nsame"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = dup_line_metrics(df).toPandas().sort_values("doc_id").reset_index(drop=True)
    b = (
        dup_line_metrics_exploded(df)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pd_testing = __import__("pandas.testing", fromlist=["assert_frame_equal"])
    pd_testing.assert_frame_equal(a, b, check_dtype=True)
    # sanity on the fixture: doc 1 has 3 'nav' dups, doc 6 is all-dup
    r1 = a[a.doc_id == 1].iloc[0]
    assert r1["lines_n"] == 5 and r1["dup_line_chars"] == 9
    assert a[a.doc_id == 6].iloc[0]["dup_line_frac"] == 1.0


def test_dup_line_metrics_auto_routes_long_docs(spark):
    """The dispatch wrapper must send a 20k-line doc down the linear
    exploded path (the HOF default would be 4×10⁸ comparisons in one
    task) and still agree value-for-value with the exploded twin on
    every doc — short, long, null, empty."""
    from pcornet_data_curation_spark.operators.textanalysis import (
        dup_line_metrics_auto,
        dup_line_metrics_exploded,
    )

    long_doc = "\n".join(f"line {i % 500}" for i in range(20_000))  # 20k lines, heavy dups
    rows = [
        (1, "nav\ncontent a\nnav\nfooter\nnav"),
        (2, long_doc),
        (3, None),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = (
        dup_line_metrics_auto(df, max_hof_lines=1000)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    b = (
        dup_line_metrics_exploded(df)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pd_testing = __import__("pandas.testing", fromlist=["assert_frame_equal"])
    pd_testing.assert_frame_equal(a, b, check_dtype=True)
    r2 = a[a.doc_id == 2].iloc[0]
    assert r2["lines_n"] == 20_000 and r2["distinct_lines_n"] == 500
    assert r2["dup_line_frac"] == 1.0


def test_compression_ratio_bit_identical_to_zlib(spark):
    """The DEFLATE quality signal has no SQL oracle (registry
    rows-only); its value evidence is THIS twin: bit-identical to
    python zlib at the same level on every doc class, with the
    repetitive-vs-prose ordering the signal exists to detect."""
    import zlib

    import pandas as pd

    from pcornet_data_curation_spark.operators.textanalysis import compression_ratio

    rows = [
        (1, "spam " * 2000),                                  # hyper-repetitive
        (2, "The quick brown fox jumps over the lazy dog. "
            "Pack my box with five dozen liquor jugs. "
            "Sphinx of black quartz, judge my vow."),          # prose
        (3, ""),                                               # empty
        (4, None),                                             # NULL
        (5, "café ſtraße Kelvin — unicode ❄ content"),    # multibyte
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = compression_ratio(df).toPandas().set_index("doc_id").sort_index()

    for did, text in rows:
        r = got.loc[did]
        if not text:
            assert r["n_bytes"] == 0 and r["compressed_bytes"] == 0
            assert pd.isna(r["compression_ratio"])
            continue
        b = text.encode("utf-8")
        assert r["n_bytes"] == len(b)
        assert r["compressed_bytes"] == len(zlib.compress(b, 6))
        assert r["compression_ratio"] == len(zlib.compress(b, 6)) / len(b)
    # the signal's point: boilerplate compresses far better than prose
    assert got.loc[1, "compression_ratio"] < 0.05
    assert got.loc[2, "compression_ratio"] > 0.5
