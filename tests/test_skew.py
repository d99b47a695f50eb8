"""Long-tail-domain skew handling (SURVEY §7 build item 7): 50% of the
synthetic pages hit 3 hot domains; the url-hash bucket rebalance must
still spread rows near-uniformly across buckets, and AQE sizes the
files each bucket is written as."""

import numpy as np
from pyspark.sql import functions as F

from pcornet_data_curation_spark.config import PipelineConfig
from pcornet_data_curation_spark.datagen.pages import pages_df
from pcornet_data_curation_spark.plans.pipeline import salted_repartition


def test_hot_domains_exist(spark):
    pages = pages_df(spark, 4000, partitions=4)
    dom = pages.select(
        F.regexp_extract("url", r"https://([^/]+)/", 1).alias("d")
    ).groupBy("d").count()
    top = dom.orderBy(F.col("count").desc()).limit(3).agg(F.sum("count")).first()[0]
    assert top > 4000 * 0.4  # the long tail is real


def test_write_cells_follow_the_data(spark, tmp_path):
    """The curated write rebalances by bucket and AQE sizes its cells:
    a small input is one file per bucket directory; with a lower
    advisory partition size a bucket is split into several files,
    holding the same rows."""
    cfg = PipelineConfig(output_root="/tmp/unused", n_buckets=8)
    pages = pages_df(spark, 4000, partitions=4)

    def write(path):
        salted_repartition(pages, cfg).write.partitionBy("bucket").parquet(str(path))
        return {
            d.name: len(list(d.glob("*.parquet")))
            for d in path.iterdir()
            if d.name.startswith("bucket=")
        }

    files = write(tmp_path / "default")
    assert len(files) == cfg.n_buckets
    assert set(files.values()) == {1}, files

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "16k")
    try:
        split = write(tmp_path / "split")
    finally:
        spark.conf.set(key, prev)
    assert max(split.values()) >= 2, split
    a = spark.read.parquet(str(tmp_path / "default"))
    b = spark.read.parquet(str(tmp_path / "split"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # url-hash buckets ignore the domain entirely, so hot domains cannot
    # concentrate: the largest bucket is bounded by ~2.2x the mean
    sizes = np.array([r["count"] for r in a.groupBy("bucket").count().collect()])
    assert sizes.max() <= 2.2 * sizes.mean()


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

    # resume: the pending-bucket predicate sits in the scan's Filter
    # below the scoring UDF, and the bucket rebalance is the plan's
    # root above them, so finished buckets are never scored or
    # shuffled; the rebalance carries the curated columns, not `text`
    from pcornet_data_curation_spark.plans.pipeline import curate

    pages = pages_df(spark, 100, partitions=1)
    resume = curate(pages, PipelineConfig(output_root="/tmp/unused")).where(
        F.col("bucket").isin([1, 5])
    )
    plan = resume._jdf.queryExecution().optimizedPlan()
    lines = plan.toString().splitlines()
    depth = {
        op: next(i for i, ln in enumerate(lines) if op in ln)
        for op in ("ArrowEvalPython", "RebalancePartitions", "IN (1,5)")
    }
    assert depth["RebalancePartitions"] < depth["ArrowEvalPython"] < depth["IN (1,5)"]
    assert "Filter" in lines[depth["IN (1,5)"]]
    assert plan.nodeName() == "RebalancePartitions"
    rebalanced = list(plan.child().schema().fieldNames())
    assert "text" not in rebalanced and "scrubbed_text" in rebalanced

    # one scoring pass in every dedup mode
    for kw in ({}, {"dedup": "flag"}, {"dedup": "flag", "dedup_method": "near"}):
        df = curate(pages, PipelineConfig(output_root="/tmp/unused", **kw))
        assert _plan(df).count("ArrowEvalPython") == 1, kw

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
