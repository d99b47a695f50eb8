"""Streaming near-dedup: per-micro-batch MinHash banding against a
persisted signature STORE (flag-only) — the bounded-per-batch-state
recipe the r4 verdict asked for (run_stream_once refuses
dedup_method='near' because the batch operator's corpus-wide self-join
has no unbounded-stream equivalent; this module is the operational
answer for streams).

Reference analog: the incremental append-accumulate discipline
(`proc append` result accumulation, data_curation_base.sas:699-701) —
each micro-batch's surviving signatures append to a durable store the
next batch probes.

Design (per micro-batch, inside foreachBatch):
1. signatures: the batch's MinHash signatures minus the shingle-less
   sentinel docs (operators/dedup.signature_rows, band_rows and
   est_jaccard — the batch operator's own kernels, so a stream-flagged
   corpus agrees with a batch re-run);
2. within-batch candidates: operators/dedup.verified_band_pairs, the
   batch operator's own band self-join and signature check at
   micro-batch size; the min id of each verified pair survives;
3. cross-batch candidates: ids-only band equi-join against the STORE's
   (id, band, bhash) rows, signature-verified against the store's
   (id, minhash) rows — any verified hit flags the new doc (the stored
   doc was emitted in an earlier batch and cannot be retro-flagged —
   first-seen survivor, the same rule as the exact flag of
   streaming.curate_stream);
4. append ONLY the batch's surviving docs' band + signature rows to
   the store, under a batch={batch_id} partition written with
   overwrite — a foreachBatch replay after failure rewrites the same
   partition instead of duplicating it (idempotent, exactly-once).

State shape at 10^12 docs: per-batch memory is bounded by the batch;
the store is an on-disk, append-only, batch-partitioned parquet table
(bands: 3×8-byte columns × `bands` rows/doc; sigs: num_perm longs/doc)
— the same asset a batch LSH pass builds, never held in executor
memory (the probe is a plain equi-join the planner sizes from runtime
stats). Compact it offline (rewrite survivors-only) when batches
accumulate; est_jaccard verification keeps band-collision false
positives out regardless of store size.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pcornet_data_curation_spark.operators.dedup import (
    band_rows,
    est_jaccard,
    signature_rows,
    verified_band_pairs,
)

BANDS_SUBDIR = "bands"
SIGS_SUBDIR = "sigs"


def path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the configured Hadoop FileSystem — the
    store lives on distributed storage in production (hdfs:// / s3a://)
    where a driver-local os.path.exists is always False and would
    silently disable cross-batch dedup (every batch would then flag
    within-batch only while still writing the store — no error
    anywhere). Resolving the path against the session's Hadoop conf
    covers local paths too."""
    jvm = spark._jvm
    hp = jvm.org.apache.hadoop.fs.Path(path)
    fs = hp.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hp))


def next_batch_id(spark: SparkSession, store_path: str) -> int:
    """The store partition a new batch should write: max(stored batch)
    + 1, or 0 for a new store. A fixed default would overwrite an
    existing batch partition and skip its signatures in the probe."""
    sigs = os.path.join(store_path, SIGS_SUBDIR)
    if not path_exists(spark, sigs):
        return 0
    # an all-empty seed batch commits a store dir with no data files
    # (schema inference raises) or zero rows (max -> NULL) — both mean
    # the same thing: treat it like a fresh store
    try:
        mx = spark.read.parquet(sigs).agg(F.max("batch")).first()[0]
    except AnalysisException:
        return 0
    return 0 if mx is None else mx + 1


def stream_neardup_flag_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    text_col: str = "text",
    id_col: str = "url",
    num_perm: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Flag near-duplicates in one micro-batch against all earlier
    batches (via the store) and within the batch itself; append the
    survivors' signatures to the store. Returns the batch with a
    `near_dup` boolean column (flag-only — rows are never dropped
    here; fold the flag downstream exactly like exact_dup).

    Call from foreachBatch — and release the two per-batch caches
    after the write, or a long-running stream accumulates cached
    signature/flag blocks until ContextCleaner GC:

        from pcornet_data_curation_spark.operators.dedup import unpersist_deps

        def on_batch(bdf, bid):
            flagged = stream_neardup_flag_batch(bdf, bid, store)
            flagged.write.mode("append").parquet(out)
            unpersist_deps(flagged)

    Within-batch survivor = min id of a verified pair; cross-batch
    survivor = the stored (earlier) doc. A batch replay overwrites its
    own store partition (idempotent).
    """
    spark = batch_df.sparkSession
    sigged = signature_rows(batch_df, text_col, id_col, num_perm, k, seed).persist()
    banded = band_rows(sigged, num_perm, bands)

    # -- within-batch: verified pairs, min id survives --
    intra = verified_band_pairs(sigged, banded, num_perm, threshold).select(
        F.col("id_b").alias("_id")
    )

    # -- cross-batch: probe the persisted store --
    bands_dir = os.path.join(store_path, BANDS_SUBDIR)
    sigs_dir = os.path.join(store_path, SIGS_SUBDIR)
    flagged_ids = intra
    if path_exists(spark, bands_dir):
        # batch < batch_id: a REPLAYED batch must not probe the store
        # partition its failed attempt may have written (it would
        # self-match and flag everything); the predicate partition-
        # prunes, so the guard is free
        store_bands = (
            spark.read.option("basePath", bands_dir)
            .parquet(bands_dir)
            .where(F.col("batch") < int(batch_id))
        )
        store_sigs = (
            spark.read.option("basePath", sigs_dir)
            .parquet(sigs_dir)
            .where(F.col("batch") < int(batch_id))
        )
        cross = (
            banded.join(
                store_bands.select(
                    F.col("_id").alias("_sid"), "band", "bhash"
                ),
                ["band", "bhash"],
            )
            .select("_id", "_sid")
            .dropDuplicates(["_id", "_sid"])
            .join(sigged.select("_id", F.col("minhash").alias("sa")), "_id")
            .join(
                store_sigs.select(F.col("_id").alias("_sid"), F.col("minhash").alias("sb")),
                "_sid",
            )
            .where(est_jaccard("sa", "sb", num_perm) >= threshold)
            .select("_id")
        )
        flagged_ids = intra.unionByName(cross)
    flagged_ids = flagged_ids.distinct().withColumn("_nd", F.lit(True)).persist()

    # -- append survivors' rows to the store (replay-idempotent) --
    survivors = sigged.join(flagged_ids.select("_id"), "_id", "left_anti")
    (
        survivors.withColumn("batch", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(sigs_dir)
    )
    (
        band_rows(survivors, num_perm, bands)
        .withColumn("batch", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(bands_dir)
    )

    out = (
        batch_df.join(
            flagged_ids.select(F.col("_id").alias(id_col), "_nd"), id_col, "left"
        )
        .withColumn("near_dup", F.coalesce(F.col("_nd"), F.lit(False)))
        .drop("_nd")
    )
    # materialization boundary: the caller's write consumes `out` once;
    # release the two per-batch caches afterwards via the attached deps
    out._persisted_deps = [sigged, flagged_ids]
    return out
