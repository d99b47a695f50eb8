"""Flagship fidelity gate: Spark verdicts vs pandas reference labels.

BASELINE.json metric: keep/drop F1 ≥ 0.99 + byte-identical scrubbed
text per url. Here both must be exact (1.0 / zero mismatches) because
the distributed path and the oracle share the scoring core — any
divergence is an engine bug.
"""

import pandas as pd

from pcornet_data_curation_spark.config import PipelineConfig
from pcornet_data_curation_spark.datagen.pages import pages_df, pages_pdf
from pcornet_data_curation_spark.operators.score import with_doc_stats
from pcornet_data_curation_spark.operators.verdict import with_verdict
from pcornet_data_curation_spark.oracle.pandas_ref import reference_verdicts
from pcornet_data_curation_spark.plans.pipeline import curate

N = 1500


def _f1(tp, fp, fn):
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    return 2 * p * r / (p + r) if p + r else 0.0


def test_keep_f1_and_scrub_byte_identity(spark):
    got = (
        with_verdict(with_doc_stats(pages_df(spark, N, partitions=5)))
        .select("url", "keep", "scrubbed_text")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    ref = reference_verdicts(pages_pdf(N)).sort_values("url").reset_index(drop=True)
    m = got.merge(ref, on="url", suffixes=("_s", "_r"))
    assert len(m) == N
    tp = int(((m.keep_s) & (m.keep_r)).sum())
    fp = int(((m.keep_s) & (~m.keep_r)).sum())
    fn = int(((~m.keep_s) & (m.keep_r)).sum())
    assert _f1(tp, fp, fn) >= 0.99
    assert (m.keep_s == m.keep_r).all()  # stronger: exact agreement
    s = m.scrubbed_text_s.fillna("\x00")
    r = m.scrubbed_text_r.fillna("\x00")
    assert (s == r).all(), m[s != r].head()


def test_flags_match_oracle(spark):
    v = with_verdict(with_doc_stats(pages_df(spark, 400, partitions=3)))
    got = v.toPandas().sort_values("url").reset_index(drop=True)
    ref = reference_verdicts(pages_pdf(400)).sort_values("url").reset_index(drop=True)
    flag_cols = [c for c in ref.columns if c.startswith("flag_")]
    for c in flag_cols:
        assert (got[c].astype(bool) == ref[c].astype(bool)).all(), c


def test_empty_input_schema_stable(spark):
    from pcornet_data_curation_spark.datagen.pages import PAGES_DDL

    cfg = PipelineConfig(output_root="/tmp/unused")
    out = curate(spark.createDataFrame([], PAGES_DDL), cfg)
    assert out.count() == 0
    assert out.columns == curate(pages_df(spark, 50, partitions=2), cfg).columns


def test_generator_spark_pandas_identity(spark):
    got = pages_df(spark, 300, partitions=4).toPandas().sort_values("url").reset_index(drop=True)
    want = pages_pdf(300).sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["url", "text", "lang"]], want[["url", "text", "lang"]]
    )
    assert got["warc_ts"].isna().equals(want["warc_ts"].isna())
    assert (got["warc_ts"].dropna() == want["warc_ts"].dropna()).all()
