"""Structured Streaming lift of the curation transforms: a drained
stream must equal the batch pipeline's row-level output."""

import os

from pyspark.sql import functions as F

from pcornet_data_curation_spark.config import PipelineConfig
from pcornet_data_curation_spark.datagen.pages import pages_df
from pcornet_data_curation_spark.plans.pipeline import curate
from pcornet_data_curation_spark.streaming import run_stream_once


def test_stream_matches_batch(spark, tmp_path):
    indir = str(tmp_path / "pages_in")
    pages = pages_df(spark, 300, partitions=3)
    pages.write.parquet(indir)

    cfg = PipelineConfig(output_root=str(tmp_path / "out"), n_buckets=4)
    sink = run_stream_once(spark, indir, cfg)

    got = (
        spark.read.parquet(sink)
        .select("url", "keep", "scrubbed_text")
        .orderBy("url")
        .toPandas()
        .reset_index(drop=True)
    )
    want = (
        curate(spark.read.parquet(indir), cfg)
        .select("url", "keep", "scrubbed_text")
        .orderBy("url")
        .toPandas()
        .reset_index(drop=True)
    )
    assert got.equals(want)
    # a stream has no AQE: each bucket is scored and written by a task
    # of its own, so every sink file holds exactly one bucket
    per_file = (
        spark.read.parquet(sink)
        .groupBy(F.input_file_name())
        .agg(F.countDistinct("bucket").alias("n"))
    )
    assert {r["n"] for r in per_file.collect()} == {1}
    # checkpoint exists → exactly-once restart metadata present
    assert os.path.isdir(os.path.join(cfg.output_root, "stream_checkpoint"))

    # one more input: noindex, both repairs and dedup=flag — the stream
    # must drop the noindex page and fingerprint the repaired text, as
    # batch does
    repair_in = str(tmp_path / "repair_in")
    _write_noindex_mojibake_pages(spark, repair_in)
    cfg = PipelineConfig(
        output_root=str(tmp_path / "out_repair"), n_buckets=4, respect_noindex=True,
        fix_mojibake=True, remove_boilerplate=True, dedup="flag",
    )
    cols = ["url", "keep", "exact_dup", "scrubbed_text"]
    sink = run_stream_once(spark, repair_in, cfg)
    got = spark.read.parquet(sink).select(*cols).orderBy("url").toPandas()
    want = curate(spark.read.parquet(repair_in), cfg).select(*cols).orderBy("url").toPandas()
    assert got.equals(want)
    assert got["url"].tolist() == [
        "https://ex.com/clean", "https://ex.com/mojibake", "https://ex.com/repaired",
    ]
    assert got["exact_dup"].tolist() == [False, False, True]


def _write_noindex_mojibake_pages(spark, indir):
    """One parquet file (one micro-batch), one warc_ts (so the stream's
    first-seen survivor is the batch stage's min url): a noindex page,
    a clean page, a cp1252-mojibake page and its repaired twin."""
    import datetime as dt

    t = dt.datetime(2026, 1, 1, 12, 0, 0)
    para = (
        "The village council met in the old library on a cold evening "
        "and agreed that the bridge over the river would be repaired "
        "before the harvest festival, with the work paid for by the town."
    )
    accented = (
        "At the café beside the harbour the naïve painter showed his "
        "sketches of the façade to a crowd of visitors who had come "
        "for the première of the new play at the theatre that week."
    )
    broken = accented.encode("utf-8").decode("cp1252")
    assert broken != accented

    def page(body, robots=""):
        paras = "".join(f"<p>{line}</p>" for line in body.split("\n"))
        return f"<html><head>{robots}</head><body>{paras}</body></html>".encode()

    clean = "\n".join([para] * 3)
    twin = "\n".join([accented, para, accented])
    moji = "\n".join([broken, para, broken])
    hidden = "\n".join([para.replace("village", "county")] * 3)
    rows = [
        ("https://ex.com/noindex", t,
         page(hidden, '<meta name="robots" content="noindex">'), hidden, "en"),
        ("https://ex.com/clean", t, page(clean), clean, "en"),
        ("https://ex.com/mojibake", t, page(twin), moji, "en"),
        ("https://ex.com/repaired", t, page(twin), twin, "en"),
    ]
    ddl = "url string, warc_ts timestamp, html binary, text string, lang string"
    spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(indir)


def test_stream_metrics_observed_per_batch(spark, tmp_path):
    """observe() metrics: one row per micro-batch in stream_metrics,
    whose sums equal the sink's actual record/keep/scrub counts — the
    streaming analog of verdict_summary."""
    import os

    indir = str(tmp_path / "pages_in")
    # 4 input files at maxFilesPerTrigger=8 -> at least one batch;
    # write in two chunks to encourage multiple batches
    pages_df(spark, 200, partitions=2).write.parquet(indir)
    pages_df(spark, 200, partitions=2).write.mode("append").parquet(indir)

    cfg = PipelineConfig(output_root=str(tmp_path / "out"), n_buckets=4)
    sink = run_stream_once(spark, indir, cfg)
    got = spark.read.parquet(sink)
    metrics = spark.read.parquet(os.path.join(cfg.output_root, "stream_metrics")).toPandas()
    assert len(metrics) >= 1
    assert metrics["records"].sum() == got.count()
    assert metrics["kept"].sum() == got.where("keep").count()
    assert metrics["scrub_hits"].sum() == got.where("scrub_hit").count()
    # batch ids are unique (exactly-once accounting)
    assert metrics["batch_id"].is_unique

    # exact dedup is now stream-supported (stateful first-seen,
    # test_stream_curate_with_dedup_flag_and_drop); only NEAR-dup mode
    # remains batch-only: clear error, not silent wrong data
    import pytest as _pytest

    from pcornet_data_curation_spark.streaming import curate_stream
    with _pytest.raises(ValueError, match="stream_neardup_flag_batch"):
        curate_stream(spark, indir, PipelineConfig(
            output_root=str(tmp_path / "x"), dedup="flag", dedup_method="near"))


def test_stream_curate_with_dedup_flag_and_drop(spark, tmp_path):
    """cfg.dedup wired into the stream (r3 task #8): the stateful
    first-seen operator flags duplicate content across micro-batches;
    'drop' additionally folds the flag into keep inside curate — the
    batch stage's downstream semantics with a first-seen survivor."""
    import datetime as dt
    import time

    import pytest
    from pyspark.sql.streaming import StreamingQueryListener

    from pcornet_data_curation_spark.operators.dedup import content_fp_col
    from pcornet_data_curation_spark.streaming.curate_stream import curate_stream

    t = dt.datetime(2026, 1, 1, 12, 0, 0)
    body = ("genuinely substantive sentence " * 30).strip()
    rows1 = [
        (f"https://ex.com/a", t, None, body, "en"),
        (f"https://ex.com/b", t, None, body + " variant two distinct", "en"),
    ]
    rows2 = [
        (f"https://ex.com/c", t, None, body, "en"),          # dup of /a, later batch
        (f"https://ex.com/d", t, None, "tiny.", "en"),       # unique, fails rules
    ]
    ddl = "url string, warc_ts timestamp, html binary, text string, lang string"
    indir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    class StateRows(StreamingQueryListener):
        """The dedup state's numRowsTotal of every micro-batch."""

        def __init__(self):
            self.rows, self.terminated = [], False

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.rows += [op.numRowsTotal for op in event.progress.stateOperators]

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated = True

    def drain(rows, cfg):
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode("append").parquet(indir)
        listener.terminated = False
        q = (
            curate_stream(spark, indir, cfg)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener events arrive asynchronously; progress precedes
        # termination
        deadline = time.monotonic() + 30.0
        while not listener.terminated and time.monotonic() < deadline:
            time.sleep(0.1)

    cfg = PipelineConfig(output_root=str(tmp_path / "o"), n_buckets=4, dedup="drop")
    listener = StateRows()
    spark.streams.addListener(listener)
    try:
        drain(rows1, cfg)
        drain(rows2, cfg)
    finally:
        spark.streams.removeListener(listener)
    # one state row per distinct fingerprint: the stateful operator
    # runs once per micro-batch
    fps = spark.createDataFrame(rows1 + rows2, ddl).select(content_fp_col()).distinct()
    assert listener.rows[-1] == fps.count()

    got = spark.read.parquet(out).toPandas().set_index("url")
    assert not got.loc["https://ex.com/a", "exact_dup"]      # first seen survives
    assert got.loc["https://ex.com/c", "exact_dup"]          # cross-batch duplicate
    assert not got.loc["https://ex.com/b", "exact_dup"]
    assert not got.loc["https://ex.com/d", "exact_dup"]
    assert not got.loc["https://ex.com/c", "keep"]           # drop folds into keep
    # the survivor's verdict matches the batch pipeline's rule verdict
    # for the same content (dedup never changes a survivor's keep)
    batch = (
        curate(
            spark.createDataFrame(rows1 + rows2, ddl),
            PipelineConfig(output_root=str(tmp_path / "b"), n_buckets=4),
        )
        .toPandas()
        .set_index("url")
    )
    assert got.loc["https://ex.com/a", "keep"] == batch.loc["https://ex.com/a", "keep"]

    # near-dup mode on a stream is refused loudly
    with pytest.raises(ValueError, match="stream_neardup_flag_batch"):
        curate_stream(
            spark, indir,
            PipelineConfig(output_root=str(tmp_path / "o2"), n_buckets=4,
                           dedup="drop", dedup_method="near"),
        )


def test_stream_neardup_flag_batch_store(spark, tmp_path):
    """Streaming near-dedup recipe (r4 verdict task #3): per-batch
    MinHash banding against a persisted signature store inside
    foreachBatch. Batch 2's near-duplicate of a batch-1 doc is flagged
    (cross-batch, store probe); a within-batch near-dup pair flags the
    larger id; unrelated docs never flag; a replayed batch_id is
    idempotent (no self-matching against its own store partition)."""
    from pcornet_data_curation_spark.operators.dedup import unpersist_deps
    from pcornet_data_curation_spark.streaming.neardup_stream import (
        stream_neardup_flag_batch,
    )

    store = str(tmp_path / "store")
    base = ("the quick brown fox jumps over the lazy dog near the old river "
            "bank while autumn leaves drift slowly down onto the cold water "
            "surface in the pale morning light of early november ") * 3
    ddl = "url string, text string"

    def run(rows, bid):
        bdf = spark.createDataFrame(rows, ddl)
        out = stream_neardup_flag_batch(bdf, bid, store, threshold=0.7)
        pdf = out.toPandas().set_index("url")
        unpersist_deps(out)
        return pdf

    b1 = run(
        [
            ("https://ex.com/a", base),
            ("https://ex.com/b", "completely different content about pyspark "
                                 "partitioning strategies and shuffle behavior "
                                 "at terabyte scale with adaptive execution " * 4),
            # within-batch near-dup pair: /a survives (min id), /a2 flags
            ("https://ex.com/a2", base + " tiny trailing addition"),
        ],
        0,
    )
    assert not b1.loc["https://ex.com/a", "near_dup"]
    assert b1.loc["https://ex.com/a2", "near_dup"]        # within-batch
    assert not b1.loc["https://ex.com/b", "near_dup"]

    b2 = run(
        [
            ("https://ex.com/c", base + " slightly changed tail words"),  # near-dup of /a
            ("https://ex.com/d", "yet another unrelated document on duckdb "
                                 "oracle construction and value hash parity "
                                 "checks across engines and dialects " * 4),
        ],
        1,
    )
    assert b2.loc["https://ex.com/c", "near_dup"]          # cross-batch via store
    assert not b2.loc["https://ex.com/d", "near_dup"]

    # replay batch 1 (failure recovery): identical result, no
    # self-match against its own partially-written store partition
    b2r = run(
        [
            ("https://ex.com/c", base + " slightly changed tail words"),
            ("https://ex.com/d", "yet another unrelated document on duckdb "
                                 "oracle construction and value hash parity "
                                 "checks across engines and dialects " * 4),
        ],
        1,
    )
    assert b2r["near_dup"].to_dict() == b2["near_dup"].to_dict()

    # store holds only survivors: /a2 and /c (flagged) never entered
    import os as _os

    sigs = spark.read.parquet(_os.path.join(store, "sigs")).toPandas()
    assert set(sigs["_id"]) == {
        "https://ex.com/a", "https://ex.com/b", "https://ex.com/d",
    }
