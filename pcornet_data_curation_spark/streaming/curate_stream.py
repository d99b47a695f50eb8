"""Streaming curation: the batch row-level plan run on each micro-batch
of a Structured Streaming file source (`foreachBatch`, where a
micro-batch is a batch frame with AQE on): `prepare_pages`,
`with_exact_dup_flag`, `finish_curation`. Only the cross-batch
first-seen check is stream-specific.

Exact dedup: within a micro-batch the minimum url of each fingerprint
survives (the batch rule); across micro-batches the earlier batch
survives, since an emitted row is never rewritten. A row is also
flagged if its fingerprint is in `<output>/stream_fingerprints`, a flat
parquet directory of `(_fp long, batch long)` rows: each micro-batch
appends one file with the fingerprints of its unflagged rows and
probes only rows with `batch < batch_id`, so a replay never matches
its own earlier attempt. The store grows with history (SCALE.md §7).

Output: `<output>/stream_curated/batch_id=<id>`, written with dynamic
partition overwrite, so a replay rewrites only its own partition;
checkpoint `<output>/stream_checkpoint`. Each micro-batch's records /
kept / scrub_hits come from a batch `Observation` and land in
`<output>/stream_metrics`, one driver-written row per batch id (a
replayed batch replaces its row).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pcornet_data_curation_spark.config import PipelineConfig
from pcornet_data_curation_spark.datagen.pages import PAGES_DDL
from pcornet_data_curation_spark.operators.dedup import content_fp_col
from pcornet_data_curation_spark.operators.normalize import arrow_schema, rows_table
from pcornet_data_curation_spark.plans.pipeline import (
    finish_curation,
    prepare_pages,
    with_exact_dup_flag,
)
from pcornet_data_curation_spark.sources.tables import write_small_table
from pcornet_data_curation_spark.streaming.neardup_stream import path_exists

STREAM_METRICS_DDL = (
    "batch_id bigint, records bigint, kept bigint, scrub_hits bigint"
)
FINGERPRINT_DDL = "_fp long, batch long"


def _first_seen_flag(df: DataFrame, store: str, batch_id: int) -> DataFrame:
    """`df` plus `exact_dup` and `_fp`: the batch rule within the
    micro-batch, OR'd with membership of `_fp` in the store's rows from
    earlier batches. The store is semi-joined to the micro-batch's
    fingerprints first, so only matching store rows reach the distinct
    (a distinct over a 10^6-row store cost about 1 s per micro-batch
    more, 4 cores)."""
    df = with_exact_dup_flag(df).withColumn("_fp", content_fp_col())
    if not path_exists(df.sparkSession, store):
        return df
    seen = (
        df.sparkSession.read.schema(FINGERPRINT_DDL)
        .parquet(store)
        .where(F.col("batch") < batch_id)
        .join(df.select("_fp"), "_fp", "left_semi")
        .select("_fp")
        .distinct()
        .withColumn("_seen", F.lit(True))
    )
    return (
        df.join(seen, "_fp", "left")
        .withColumn("exact_dup", F.col("exact_dup") | F.col("_seen").isNotNull())
        .drop("_seen")
    )


def run_stream_once(
    spark: SparkSession, input_dir: str, cfg: PipelineConfig
) -> str:
    """Drain all available input once (Trigger.AvailableNow), one
    micro-batch of at most 8 files at a time, into
    `<output>/stream_curated` (same columns as the batch curated table,
    plus the `batch_id` partition); returns that path.

    Near-dup mode stays batch-only: MinHash banding + connected
    components need corpus-wide self-joins (for streams, see
    `streaming.neardup_stream`). The url blocklist pre-filter is not
    wired into the stream."""
    if cfg.url_blocklist:
        raise ValueError(
            "url_blocklist pre-filter is batch-only; filter the source "
            "with operators.urlfilter.url_filter before streaming, or "
            "run the batch pipeline"
        )
    if cfg.dedup != "off" and cfg.dedup_method == "near":
        raise ValueError(
            "dedup_method='near' is not wired into run_stream_once (the "
            "batch operator's corpus-wide LSH banding + connected "
            "components has no unbounded-stream equivalent); use "
            "dedup_method='exact' here, and for streaming near-dup "
            "flagging use streaming.neardup_stream."
            "stream_neardup_flag_batch inside foreachBatch — per-batch "
            "MinHash banding against a persisted signature store "
            "(recipe: SCALE.md 'Streaming near-dedup')"
        )
    out = os.path.join(cfg.output_root, "stream_curated")
    legacy = os.path.join(out, "_spark_metadata")
    if path_exists(spark, legacy):
        raise ValueError(
            f"{legacy} exists: this output root was written by the older "
            "file-sink stream, whose dedup state cannot be carried over; "
            "start the stream in a fresh output root"
        )
    store = os.path.join(cfg.output_root, "stream_fingerprints")
    rows: list[tuple[int, int, int, int]] = []

    def on_batch(pages: DataFrame, batch_id: int) -> None:
        df = prepare_pages(pages, cfg)
        if cfg.dedup != "off":
            # persisted across the sink write and the store append
            df = _first_seen_flag(df, store, batch_id).persist()
        else:
            df = df.withColumn("exact_dup", F.lit(False))
        obs = Observation()
        try:
            (
                finish_curation(df, cfg)
                .observe(
                    obs,
                    F.count(F.lit(1)).alias("records"),
                    F.sum(F.col("keep").cast("long")).alias("kept"),
                    F.sum(F.col("scrub_hit").cast("long")).alias("scrub_hits"),
                )
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(out)
            )
            if cfg.dedup != "off":
                (
                    df.where(~F.col("exact_dup"))
                    .select("_fp", F.lit(batch_id).cast("long").alias("batch"))
                    .coalesce(1)
                    .write.mode("append")
                    .parquet(store)
                )
        finally:
            df.unpersist()
        m = obs.get
        rows.append((batch_id, m["records"], m["kept"] or 0, m["scrub_hits"] or 0))

    (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", os.path.join(cfg.output_root, "stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    # a replayed batch_id replaces its earlier row: one row per batch,
    # so the table's sums match the sink
    path = os.path.join(cfg.output_root, "stream_metrics")
    schema = arrow_schema(STREAM_METRICS_DDL)
    if os.path.isdir(path):
        ran = {r[0] for r in rows}
        earlier = pq.read_table(path, schema=schema).to_pylist()
        rows += [tuple(r.values()) for r in earlier if r["batch_id"] not in ran]
    write_small_table(rows_table(sorted(rows), schema), path)
    return out
