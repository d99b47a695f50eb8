"""The benchmark's workloads.

Each workload generates and writes its inputs from the seed (untimed,
before the session starts), runs the
program through its public entry points (one call = one timed run),
checks every run's output, and knows how to replay itself layer by
layer for the traced run.

Layer replays materialise a layer's input once (cached, untimed), then
time the layer's public call plus a ``noop`` sink under a job group of
the layer's name, so each span is that layer's self time.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import time

import pandas as pd
from pyspark.sql import functions as F

from gen import PageSpec, make_pages, write_pages
from spans import Tracer, noop, stream_listener

from pcornet_data_curation_spark.config import PipelineConfig
from pcornet_data_curation_spark.plans.pipeline import run_pipeline


def digest(pdf: pd.DataFrame, cols: list[str]) -> str:
    """Order-independent content digest of the given columns."""
    h = hashlib.sha256()
    rows = pdf[cols].sort_values(cols[0]).itertuples(index=False)
    for row in rows:
        h.update("\x1f".join("\x00" if v is None else str(v) for v in row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under path."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += not n.startswith((".", "_"))
    return total, files


def lookback_mask(pages: pd.DataFrame, cfg: PipelineConfig) -> pd.Series:
    cut = pd.Timestamp(dt.datetime.combine(cfg.lookback_cutoff, dt.time()))
    return pages["warc_ts"].isna() | (pages["warc_ts"] >= cut)


def materialize(df):
    df = df.persist()
    df.count()
    return df


def read_curated(spark, out: str, cols: list[str]) -> pd.DataFrame:
    return spark.read.parquet(os.path.join(out, "curated")).select(*cols).toPandas()


class Workload:
    name = ""
    spec: PageSpec

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.input = os.path.join(work, "input")
        self.spark = None  # set once the session has started

    @property
    def n_docs(self) -> int:
        return self.spec.n_docs

    def generate(self) -> None:
        """Make the inputs and expected results and write the inputs
        where the program reads them (untimed, no Spark)."""
        self.gen = make_pages(self.spec, self.seed)
        write_pages(self.gen.pages, self.input, files=8)

    def config(self, out: str) -> PipelineConfig:
        return PipelineConfig(output_root=out)

    def warm(self) -> None:
        """Start the Python worker pool: one scoring-UDF pass over a few
        rows in every task slot."""
        from pcornet_data_curation_spark.operators.score import with_doc_stats

        slots = self.spark.sparkContext.defaultParallelism
        rows = self.spark.read.parquet(self.input).limit(16 * slots).repartition(slots)
        noop(with_doc_stats(rows))

    def run(self, out: str) -> None:
        run_pipeline(self.spark, self.spark.read.parquet(self.input), self.config(out))

    def check(self, out: str) -> str | None:
        """None when the run's output is correct, else what is wrong."""
        raise NotImplementedError

    def replay(self, tracer: Tracer, run_out: str) -> dict[str, float]:
        """Layer-by-layer replay; returns the counts it measured."""
        raise NotImplementedError


class CrawlBatch(Workload):
    """Default config on mostly unique, realistic-length pages with
    hot-domain skew; checked against the pandas reference pipeline."""

    name = "crawl_batch"
    spec = PageSpec(1500)
    COLS = ["url", "keep", "scrubbed_text"]
    # stream backlog: the first STREAM_DOCS pages in STREAM_FILES files,
    # drained 8 files per micro-batch
    STREAM_DOCS, STREAM_FILES = 600, 16

    def generate(self) -> None:
        super().generate()
        from pcornet_data_curation_spark.oracle.pandas_ref import reference_verdicts

        pages = self.gen.pages
        ref = reference_verdicts(pages[lookback_mask(pages, self.config(""))])
        self.expected = digest(ref, self.COLS)

    def check(self, out: str) -> str | None:
        got = digest(read_curated(self.spark, out, self.COLS), self.COLS)
        return None if got == self.expected else "verdict digest differs from the pandas reference"

    def replay(self, tracer: Tracer, run_out: str) -> dict[str, float]:
        from pcornet_data_curation_spark.functions.scrub import scrub_column
        from pcornet_data_curation_spark.functions.textcore import doc_stats_frame
        from pcornet_data_curation_spark.operators.checks import DEFAULT_CHECKS
        from pcornet_data_curation_spark.operators.drift import drift_metrics, trend_metrics
        from pcornet_data_curation_spark.operators.normalize import extraction_consistent_col
        from pcornet_data_curation_spark.operators.score import with_doc_stats
        from pcornet_data_curation_spark.operators.verdict import with_verdict
        from pcornet_data_curation_spark.plans.checkpoint import Manifest
        from pcornet_data_curation_spark.plans.pipeline import (
            curate,
            lookback_filter,
            salted_repartition,
        )

        spark, cfg = self.spark, self.config(os.path.join(self.work, "replay"))
        counts: dict[str, float] = {}

        with tracer.span("scan"):
            noop(lookback_filter(spark.read.parquet(self.input), cfg))
        pre = materialize(
            lookback_filter(spark.read.parquet(self.input), cfg).select(
                "url", "warc_ts", "text", "lang",
                extraction_consistent_col().alias("extraction_ok"),
                F.lit(False).alias("exact_dup"),
            )
        )
        with tracer.span("repartition"):
            noop(salted_repartition(pre, cfg))
        rep = materialize(salted_repartition(pre, cfg))
        sizes = sorted(
            r["n"] for r in rep.groupBy(F.spark_partition_id().alias("p")).agg(
                F.count(F.lit(1)).alias("n")).collect()
        )
        counts["repartition.skew"] = sizes[-1] / sizes[len(sizes) // 2]
        with tracer.span("score"):
            noop(with_doc_stats(rep))
        scored = materialize(with_doc_stats(rep))
        with tracer.span("verdict"):
            noop(with_verdict(scored, cfg.rule_overrides).drop("scrubbed_text"))
        with tracer.span("scrub"):
            noop(scored.select(scrub_column(F.col("text")).alias("s")))
        counts["scrub.hit_frac"] = scored.where(
            ~scrub_column(F.col("text")).eqNullSafe(F.col("text"))
        ).count() / max(1, scored.count())

        curated = materialize(curate(spark.read.parquet(self.input), cfg))
        with tracer.span("write"):
            curated.write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
                .partitionBy("bucket").parquet(os.path.join(cfg.output_root, "curated"))
            m = Manifest.load_or_init(cfg.output_root, cfg.n_buckets)
            for b in range(cfg.n_buckets):
                m.mark_done(b, 0, 0)
            m.save()
        for df in (pre, rep, scored, curated):
            df.unpersist()

        # drift of the run's metrics against themselves: the same join
        # and arithmetic as against a prior run, all deltas zero
        now = materialize(spark.read.parquet(os.path.join(run_out, "metrics")))
        with tracer.span("drift"):
            noop(drift_metrics(now, now))
            noop(trend_metrics(DEFAULT_CHECKS, now, now))
        now.unpersist()

        # scoring core on one core, in process, on a fixed batch
        texts = self.gen.pages["text"].iloc[:300].reset_index(drop=True)
        t0 = time.perf_counter()
        doc_stats_frame(texts)
        counts["score.us_per_doc"] = (time.perf_counter() - t0) / len(texts) * 1e6

        counts.update(self._stream(tracer, run_out))
        return counts

    def _stream(self, tracer: Tracer, run_out: str) -> dict[str, float]:
        """Drain a backlog of small parquet files with run_stream_once
        (dedup='flag'); its verdicts must equal the batch verdicts."""
        from pcornet_data_curation_spark.streaming.curate_stream import run_stream_once

        spark = self.spark
        backlog = os.path.join(self.work, "backlog")
        part = self.gen.pages.iloc[: self.STREAM_DOCS]
        write_pages(part, backlog, files=self.STREAM_FILES)
        out = os.path.join(self.work, "stream_out")
        lst = stream_listener()
        spark.streams.addListener(lst)
        try:
            with tracer.span("stream"):
                sink = run_stream_once(spark, backlog, PipelineConfig(output_root=out, dedup="flag"))
            deadline = time.monotonic() + 30
            while not lst.terminated and time.monotonic() < deadline:
                time.sleep(0.05)
        finally:
            spark.streams.removeListener(lst)
        for rid in lst.run_ids:
            tracer.group_alias[rid] = "stream"
        got = digest(spark.read.parquet(sink).select(*self.COLS).toPandas(), self.COLS)
        batch = read_curated(spark, run_out, self.COLS)
        want = digest(batch[batch["url"].isin(set(part["url"]))], self.COLS)
        if got != want:
            raise AssertionError("stream verdicts differ from the batch verdicts")
        b = [x for x in lst.batches if x["rows"] > 0]
        trig = sorted(x["trigger_s"] for x in b)
        return {
            "stream.batches": len(b),
            "stream.microbatch_s": trig[len(trig) // 2] if trig else 0.0,
            "stream.add_batch_s": sum(x["add_batch_s"] for x in b),
            "stream.commit_s": sum(x["commit_s"] for x in b),
            "stream.state_rows": b[-1]["state_rows"] if b else 0,
            "stream.state_mb": b[-1]["state_mb"] if b else 0.0,
        }


class DedupFullStack(Workload):
    """Every opt-in stage on, near-dedup in drop mode, over pages with
    planted near-duplicate clusters and real html boilerplate."""

    name = "dedup_full_stack"
    spec = PageSpec(
        1200, boilerplate_lines=6, noindex_share=0.05, mojibake_share=0.05,
        missing_text_share=0.05, blocked_share=0.1, cluster_share=0.3,
    )
    COLS = ["url", "keep", "exact_dup", "scrubbed_text"]
    # a run that flags too few planted duplicates is wrong, not fast.
    # Set for cluster_share=0.3: at 0.15, fewer clusters make recall
    # vary more, and one seed of three read 0.675
    RECALL_MIN = 0.75

    def generate(self) -> None:
        super().generate()
        self.blocklist = os.path.join(self.work, "blocklist.txt")
        with open(self.blocklist, "w") as f:
            f.write("\n".join(self.gen.blocklist) + "\n")
        pages, truth = self.gen.pages, self.gen.truth
        keep = lookback_mask(pages, self.config("")).to_numpy()
        keep &= ~truth["noindex"].to_numpy() & ~truth["blocked"].to_numpy()
        self.expected_urls = set(pages["url"][keep])
        self.reference = None  # digest of the first run

    def config(self, out: str) -> PipelineConfig:
        return PipelineConfig(
            output_root=out,
            url_blocklist=getattr(self, "blocklist", None),
            respect_noindex=True,
            extract_missing_text=True,
            fix_mojibake=True,
            remove_boilerplate=True,
            dedup="drop",
            dedup_method="near",
        )

    def recall(self, cur: pd.DataFrame) -> float:
        """Share of planted duplicates (every member of a planted
        cluster but one) that the run flagged."""
        m = cur.join(self.gen.truth["cluster"], on="url")
        m = m[m["cluster"] >= 0]
        per = m.groupby("cluster").agg(n=("url", "size"), flagged=("exact_dup", "sum"))
        want = (per["n"] - 1).sum()
        return float((per["flagged"].clip(upper=per["n"] - 1)).sum() / want) if want else 1.0

    def check(self, out: str) -> str | None:
        cur = read_curated(self.spark, out, self.COLS)
        if set(cur["url"]) != self.expected_urls:
            return "curated urls differ from the pages that pass the url, noindex and lookback filters"
        m = cur.join(self.gen.truth["cluster"], on="url")
        m = m[m["cluster"] >= 0]
        may_flag = set(m["url"]) - set(m.groupby("cluster")["url"].min())
        if not set(cur["url"][cur["exact_dup"]]) <= may_flag:
            return "a page outside the planted clusters, or a cluster's survivor, was flagged"
        if cur["keep"][cur["exact_dup"]].any():
            return "a flagged near-duplicate was kept in drop mode"
        recall = self.recall(cur)
        if recall < self.RECALL_MIN:
            return f"near-dedup recall {recall:.3f} on the planted clusters is below {self.RECALL_MIN}"
        got = digest(cur, self.COLS)
        if self.reference is None:
            self.reference = got
        elif got != self.reference:
            return "output digest differs between runs of the same input"
        return None

    def replay(self, tracer: Tracer, run_out: str) -> dict[str, float]:
        from pcornet_data_curation_spark.operators.boilerplate import with_boilerplate_removed
        from pcornet_data_curation_spark.operators.dedup import (
            connected_components,
            minhash_lsh_pairs,
            unpersist_deps,
            with_minhash,
        )
        from pcornet_data_curation_spark.operators.extract import missing_text_filled_col
        from pcornet_data_curation_spark.operators.mojibake import mojibake_fix_col
        from pcornet_data_curation_spark.operators.normalize import extraction_consistent_col
        from pcornet_data_curation_spark.operators.robotsmeta import robots_noindex_col
        from pcornet_data_curation_spark.operators.urlfilter import url_filter
        from pcornet_data_curation_spark.plans.pipeline import lookback_filter

        spark, cfg = self.spark, self.config("")
        counts: dict[str, float] = {}
        pages = materialize(spark.read.parquet(self.input))
        bl = materialize(spark.read.text(self.blocklist).select(
            F.trim(F.col("value")).alias("domain")))
        with tracer.span("urlfilter"):
            noop(url_filter(pages, bl))
        flagged = url_filter(pages, bl).select("url", "url_keep")
        counts["urlfilter.drop_frac"] = flagged.where(~F.col("url_keep")).count() / pages.count()
        kept = materialize(url_filter(pages, bl).where(F.col("url_keep")).select(*pages.columns))
        with tracer.span("robotsmeta"):
            noop(kept.where(~robots_noindex_col(F.col("html"))))
        indexed = materialize(lookback_filter(kept, cfg).where(~robots_noindex_col(F.col("html"))))
        text = missing_text_filled_col(preserve_lines=cfg.extract_preserve_lines)
        with tracer.span("extract"):
            noop(indexed.select(text.alias("text")))
        extracted = materialize(indexed.select(
            "url", "warc_ts", text.alias("text"), "lang",
            extraction_consistent_col().alias("extraction_ok")))
        with tracer.span("mojibake"):
            noop(extracted.withColumn("text", mojibake_fix_col(F.col("text"))))
        fixed = materialize(extracted.withColumn("text", mojibake_fix_col(F.col("text"))))
        with tracer.span("boilerplate"):
            noop(with_boilerplate_removed(fixed, "text"))
        clean = materialize(with_boilerplate_removed(fixed, "text").select("url", "text"))

        with tracer.span("dedup.minhash"):
            noop(with_minhash(clean, "text"))
        with tracer.span("dedup.lsh"):
            pairs = minhash_lsh_pairs(clean, "text", "url", threshold=cfg.near_threshold)
            pairs_m = materialize(pairs)
        with tracer.span("dedup.cc"):
            noop(connected_components(pairs_m, "id_a", "id_b"))
        counts["dedup.verified_pairs"] = pairs_m.count()
        cand = minhash_lsh_pairs(clean, "text", "url", threshold=0.0)
        counts["dedup.candidate_pairs"] = cand.count()
        counts["dedup.pair_yield"] = counts["dedup.verified_pairs"] / max(
            1, counts["dedup.candidate_pairs"])
        for df in (pairs, cand):
            unpersist_deps(df)
        for df in (pages, bl, kept, indexed, extracted, fixed, clean, pairs_m):
            df.unpersist()
        counts["dedup.recall"] = self.recall(read_curated(spark, run_out, self.COLS))
        return counts


WORKLOADS = {w.name: w for w in (CrawlBatch, DedupFullStack)}

