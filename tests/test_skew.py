"""Long-tail-domain skew handling (SURVEY §7 build item 7): 50% of the
synthetic pages hit 3 hot domains; the salted (bucket, salt) repartition
must still spread rows near-uniformly across partitions."""

import numpy as np
from pyspark.sql import functions as F

from pcornet_data_curation_spark.config import PipelineConfig
from pcornet_data_curation_spark.datagen.pages import pages_df
from pcornet_data_curation_spark.plans.pipeline import (
    bucket_col,
    salt_col,
    salted_repartition,
)


def test_hot_domains_exist(spark):
    pages = pages_df(spark, 4000, partitions=4)
    dom = pages.select(
        F.regexp_extract("url", r"https://([^/]+)/", 1).alias("d")
    ).groupBy("d").count()
    top = dom.orderBy(F.col("count").desc()).limit(3).agg(F.sum("count")).first()[0]
    assert top > 4000 * 0.4  # the long tail is real


def test_salted_repartition_balances(spark):
    cfg = PipelineConfig(output_root="/tmp/unused", n_buckets=8, salt_factor=4)
    pages = pages_df(spark, 4000, partitions=4)
    df = salted_repartition(pages, cfg)
    cells = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.min(F.col("bucket") * cfg.salt_factor + F.col("salt")).alias("lo"),
            F.max(F.col("bucket") * cfg.salt_factor + F.col("salt")).alias("hi"),
        )
        .toPandas()
    )
    sizes = cells["count"].to_numpy()
    # each (bucket, salt) cell is exactly one partition, placed by its
    # id bucket * salt_factor + salt, so every task writes one bucket
    # directory
    n_cells = cfg.n_buckets * cfg.salt_factor
    assert df.rdd.getNumPartitions() == n_cells
    assert (cells["lo"] == cells["hi"]).all()
    assert (cells["lo"] == cells["pid"]).all()
    assert sorted(cells["pid"]) == list(range(n_cells))
    # url-hash keys ignore the domain entirely, so hot domains cannot
    # concentrate: the worst task is bounded by ~2.2x the mean
    assert sizes.max() <= 2.2 * sizes.mean()


def test_bucket_and_salt_are_independent_streams(spark):
    pages = pages_df(spark, 2000, partitions=2)
    both = (
        pages.select(bucket_col(8).alias("b"), salt_col(4).alias("s"))
        .groupBy("b", "s")
        .count()
        .toPandas()
    )
    # all 32 (bucket, salt) cells populated — salt actually subdivides
    assert len(both) == 32
    cv = np.std(both["count"]) / np.mean(both["count"])
    assert cv < 0.5


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_plan_shapes_pinned(spark):
    """Physical-plan regression pins for the scale-critical operators:
    these properties are WHY the operators survive 100x data — losing
    one silently (an optimizer change, a refactor) must fail a test,
    not a production run."""
    import pcornet_data_curation_spark.queries as Q

    sf = "/root/testdata/sf0.001"

    # cross-doc document frequency: two-phase partial agg + join, never
    # a per-gram window (a hot gram must not own a single task)
    p = _plan(Q.queries()["cross_doc_ngrams"](spark, sf))
    assert "WindowExec" not in p and "HashAggregate" in p

    # topgram: window-free doc-keyed aggregation
    p = _plan(Q.queries()["topgram_repetition"](spark, sf))
    assert "WindowExec" not in p

    # decontamination: benchmark grams broadcast; corpus side never
    # exchanges for the probe
    p = _plan(Q.queries()["decontaminate"](spark, sf))
    assert "BroadcastHashJoin" in p

    # stratified sampling: pure filter at the scan — the sampling
    # itself introduces no shuffle. The only permitted exchange is the
    # round-robin scan-parallelism floor _t applies to few-row-group
    # documents files (round 6), and the sampling filter must sit
    # BELOW it (pushed into the scan, so non-sampled rows never ride
    # the repartition).
    p = _plan(Q.queries()["stratified_sample"](spark, sf))
    import re as _re

    exchanges = _re.findall(r"Exchange \w+", p)
    assert all("RoundRobinPartitioning" in e for e in exchanges), exchanges
    assert "DataFilters" in p or "Filter" in p.split("Exchange")[-1]

    # minhash banding: the band self-join must NOT carry signatures.
    # At fixture scale the planner broadcasts the band join (no hash
    # exchange exists to inspect), so force the shuffle strategy for
    # the pin — that is the shape a 10^12-doc run takes.
    from pcornet_data_curation_spark.operators.dedup import (
        minhash_lsh_pairs,
        unpersist_deps,
    )
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    pairs = None
    try:
        pairs = minhash_lsh_pairs(docs, threshold=0.8)
        p = _plan(pairs)
        matched = 0
        for line in p.splitlines():
            if "Exchange hashpartitioning" in line and "bhash" in line:
                assert "minhash" not in line
                matched += 1
        # fail CLOSED: the band-hash exchange must exist AND be slim
        assert matched >= 1, "no band-hash exchange in forced-SMJ plan — pin is stale"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if pairs is not None:
            unpersist_deps(pairs)  # even on assertion failure: shared session
