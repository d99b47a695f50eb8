"""Streaming curation: the batch row-level plan over a Structured
Streaming file source.

The stream runs the batch stage order: `plans.pipeline.prepare_pages`
(lookback and noindex filters, scan projection, text repair), the dedup
flag (here the stateful `streaming.stateful.stream_dedup_flag`), then
`plans.pipeline.finish_curation` (salted repartition, scoring, verdict,
scrub, drop-mode keep fold). Checkpointing is Spark's own exactly-once
file-sink checkpoint — the batch pipeline's manifest is not used here.

Observability: the curated stream carries `observe()` metrics
(records / kept / scrub_hits per micro-batch) — the streaming analog
of the batch pipeline's verdict_summary — captured by a
StreamingQueryListener and appended to <output>/stream_metrics as one
driver-written parquet file per drain.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from pcornet_data_curation_spark.config import PipelineConfig
from pcornet_data_curation_spark.datagen.pages import PAGES_DDL
from pcornet_data_curation_spark.operators.normalize import arrow_schema, rows_table
from pcornet_data_curation_spark.plans.pipeline import finish_curation, prepare_pages
from pcornet_data_curation_spark.sources.tables import append_small_table
from pcornet_data_curation_spark.streaming.stateful import stream_dedup_flag

OBSERVATION_NAME = "curation"
STREAM_METRICS_DDL = (
    "batch_id bigint, records bigint, kept bigint, scrub_hits bigint"
)


def curate_stream(
    spark: SparkSession, input_dir: str, cfg: PipelineConfig
) -> DataFrame:
    """readStream over a parquet directory of pages → curated stream
    (same columns as the batch curated table), built from the batch
    plan's two halves: `prepare_pages`, then the dedup flag, then
    `finish_curation`.

    cfg.dedup on a stream: the batch stage's corpus-wide groupBy+join
    cannot run on an unbounded stream, so the flag is computed by the
    stateful first-seen operator instead (stream_dedup_flag: survivor =
    first arrival rather than the batch stage's global min url — see
    its docstring); 'drop' folds it into keep in `finish_curation`, as
    in batch. Near-dup mode stays batch-only: MinHash banding +
    connected components need corpus-wide self-joins with no
    bounded-state streaming equivalent.
    """
    if cfg.url_blocklist:
        # the distinct-host suffix optimization is batch-only; a
        # stream can apply operators.urlfilter.url_filter semantics via
        # a stream-static join on exploded host suffixes, but that path
        # is not wired — refuse loudly rather than silently skip
        raise ValueError(
            "url_blocklist pre-filter is batch-only; filter the source "
            "with operators.urlfilter.url_filter before streaming, or "
            "run the batch pipeline"
        )
    if cfg.dedup != "off" and cfg.dedup_method == "near":
        raise ValueError(
            "dedup_method='near' is not wired into curate_stream (the "
            "batch operator's corpus-wide LSH banding + connected "
            "components has no unbounded-stream equivalent); use "
            "dedup_method='exact' here, and for streaming near-dup "
            "flagging use streaming.neardup_stream."
            "stream_neardup_flag_batch inside foreachBatch — per-batch "
            "MinHash banding against a persisted signature store "
            "(recipe: SCALE.md 'Streaming near-dedup')"
        )
    stream = (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    df = prepare_pages(stream, cfg)
    if cfg.dedup != "off":
        df = stream_dedup_flag(df)
    else:
        df = df.withColumn("exact_dup", F.lit(False))
    return finish_curation(df, cfg)


class _MetricsListener(StreamingQueryListener):
    """Collects the observe() metrics of every micro-batch. Driver-side
    list of one small row per batch — O(batches), never row data."""

    def __init__(self) -> None:
        self.rows: list[tuple[int, int, int, int]] = []
        self.terminated = False

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        om = event.progress.observedMetrics
        if OBSERVATION_NAME in om:
            m = om[OBSERVATION_NAME]
            self.rows.append(
                (
                    event.progress.batchId,
                    int(m["records"] or 0),
                    int(m["kept"] or 0),
                    int(m["scrub_hits"] or 0),
                )
            )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self.terminated = True


def run_stream_once(
    spark: SparkSession, input_dir: str, cfg: PipelineConfig
) -> str:
    """Drain all available input once (Trigger.AvailableNow) into a
    parquet sink with an exactly-once checkpoint; returns sink path.
    Per-micro-batch observe() metrics land in <output>/stream_metrics."""
    out = os.path.join(cfg.output_root, "stream_curated")
    ckpt = os.path.join(cfg.output_root, "stream_checkpoint")
    observed = curate_stream(spark, input_dir, cfg).observe(
        OBSERVATION_NAME,
        F.count(F.lit(1)).alias("records"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
        F.sum(F.col("scrub_hit").cast("long")).alias("scrub_hits"),
    )
    listener = _MetricsListener()
    spark.streams.addListener(listener)
    try:
        q = (
            observed.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Python listener events are delivered ASYNCHRONOUSLY — progress
        # rows can land after awaitTermination returns. Event order is
        # guaranteed (progress before terminated), so waiting for the
        # termination event means every batch's metrics have arrived.
        import time as _time

        deadline = _time.monotonic() + 30.0
        while not listener.terminated and _time.monotonic() < deadline:
            _time.sleep(0.1)
        if not listener.terminated:
            import logging

            logging.getLogger(__name__).warning(
                "stream_metrics may be INCOMPLETE: the listener's "
                "termination event did not arrive within 30s of "
                "awaitTermination; %d batch rows captured so far",
                len(listener.rows),
            )
    finally:
        spark.streams.removeListener(listener)
    append_small_table(
        rows_table(listener.rows, arrow_schema(STREAM_METRICS_DDL)),
        os.path.join(cfg.output_root, "stream_metrics"),
    )
    return out
