"""End-to-end curation pipeline (SURVEY §7 stages 0-8).

One heavy distributed pass per run:

  pages ──lookback/noindex filter, scan projection, text repair
        ──dedup flag──▶ score (one pandas-UDF pass, on the scan's or
        the dedup join's tasks)──▶ rule flags + verdict + scrub
        ──curated projection──▶ rebalance by url-hash bucket
        ──▶ curated parquet, partitioned by url-hash bucket
             (dynamic partition overwrite ⇒ idempotent per bucket)

(`prepare_pages` and `finish_curation` are the two halves around the
dedup flag; the stream runs the same plan on each micro-batch, with a
cross-batch fingerprint check added to the flag —
streaming/curate_stream.py.)

then the reporting tail (plans/report_tail.py): three exact aggregation
passes over the curated table, projected once, bring bucket- and
category-sized results to the driver, which builds the per-partition
conformance reports, the normalized metrics table, the threshold
exceptions, the completeness check and REPORT.md, and writes each once
as a single parquet file — mirroring the reference's split between the
query run (data_curation_tables.sas) and the downstream normalization +
EDC report (normalization.sas / edc_report.sas).

Checkpoint (plans/checkpoint.py): the `curate` stage's only action is
the curated write; the tail's bucket pass counts each bucket this run
wrote and marks it done in the manifest before the other passes run,
so a run killed in between leaves those buckets pending for the resume
to rewrite. The manifest's store-format guard means `curated` always
has the schema `finish_curation` writes. It is read once per run, with
that schema whenever the store may hold no row, so a run that curated
no row still reports.

Scale design (100 TB / 10^12 docs):
* the fact table is touched exactly once per run; the report passes
  read only the narrow curated columns (column pruning + bucket
  partition pruning do the work);
* the write's one exchange is a rebalance by the url-hash bucket into
  n_buckets partitions, above scoring, so it carries the curated
  columns and sizes only the write: buckets give resume granularity,
  and AQE merges small partitions and splits large ones at the
  advisory partition size, so the tasks and files a bucket is written
  as follow its bytes. The key hashes the url, so no domain
  concentrates in a bucket;
* report passes aggregate on the cluster; what reaches the driver is
  bounded by buckets × categories, months, windows or top-N, never by
  hosts or urls;
* resume filters pending buckets with the bucket predicate, pushed
  into the scan's Filter below scoring and the rebalance: every
  scanned page is hashed (the input is not bucketed), but finished
  buckets are never scored, shuffled or written; only the `curated`
  re-read prunes bucket directories.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pcornet_data_curation_spark.config import PipelineConfig
from pcornet_data_curation_spark.operators import rules as R
from pcornet_data_curation_spark.operators.dedup import (
    connected_components,
    content_fp_col,
    minhash_lsh_pairs,
    unpersist_deps,
)
from pcornet_data_curation_spark.operators.normalize import extraction_consistent_col
from pcornet_data_curation_spark.operators.score import with_doc_stats
from pcornet_data_curation_spark.operators.verdict import with_verdict
from pcornet_data_curation_spark.plans.checkpoint import Manifest, bucket_col
from pcornet_data_curation_spark.plans.lineage import LineageTracker
from pcornet_data_curation_spark.plans.report_tail import (  # noqa: F401 (re-exported)
    EXPECTED_REPORTS,
    run_report_tail,
)

# curated-table columns kept for reporting (narrow on purpose: reports
# never need the raw html/text again)
CURATED_STATS = [
    "n_chars",
    "n_tokens",
    "n_sentences",
    "lang_pred",
    "lang_conf",
    "ppl",
]


def salted_repartition(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Append the url-hash `bucket` column and rebalance by it into
    n_buckets hash partitions, so a task writes the files of about one
    bucket. With AQE on, the rebalance merges small partitions and
    splits large ones at the advisory partition size, so the files a
    bucket is written as follow its bytes. (perfbench's replay imports
    this function by name.)"""
    df = df.withColumn("bucket", bucket_col(cfg.n_buckets))
    return df.hint("rebalance", cfg.n_buckets, "bucket")


def lookback_filter(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Keep rows with warc_ts >= run_date - lookback (or NULL), the
    reference's lookback scan filter (data_curation_base.sas:44-47,
    applied per table e.g. data_curation_tables.sas:1334-1335).
    Pushed to the parquet scan by Catalyst."""
    cut = cfg.lookback_cutoff.isoformat()
    return pages.where(
        F.col("warc_ts").isNull() | (F.col("warc_ts") >= F.lit(cut).cast("timestamp"))
    )


def with_exact_dup_flag(df: DataFrame) -> DataFrame:
    """Append exact_dup: content-duplicate marker (C4/Gopher exact
    dedup, and the content analog of the reference's non-unique key
    detection). Fingerprint = xxhash64 of the whitespace/case
    normalized text; the survivor of each fingerprint group is the
    MINIMUM url (deterministic — independent of partitioning, resume
    order, and cluster size), every other copy is flagged.

    Scale shape: groupBy(fp).agg(min(url)) — partial aggregation
    absorbs a hot fingerprint (10^6 copies of a boilerplate page
    reduce map-side to one row per input partition) — then one
    fp-keyed equi-join back. The probe side of that join carries the
    full rows through one extra content-keyed shuffle; that is the
    irreducible cost of GLOBAL exact dedup (any scheme must co-locate
    identical content once), and a skewed fp on the probe side is
    split by AQE skew-join handling."""
    keyed = df.withColumn("_fp", content_fp_col())
    survivors = keyed.groupBy("_fp").agg(F.min("url").alias("_surv_url"))
    # null-safe: a NULL-url copy of survivable content IS a duplicate
    # (min(url) skipped it), and a group of only NULL urls has no
    # orderable survivor so none of its rows are flagged — either way
    # exact_dup must come out two-valued, never NULL (a plain != would
    # propagate NULL through `keep` in drop mode and make keep
    # three-valued: counted by no aggregate, dropped by every filter).
    # Rows missing the contract key (url, per BASELINE input_hint) are
    # deliberately NOT deduped among themselves — there is no
    # deterministic survivor without an id — and are surfaced loudly by
    # red check 10.03 (null urls in curated table) instead.
    return (
        keyed.join(survivors, "_fp")
        .withColumn("exact_dup", ~F.col("url").eqNullSafe(F.col("_surv_url")))
        .drop("_fp", "_surv_url")
    )


def with_near_dup_flag(df: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Append exact_dup via NEAR-duplicate grouping: MinHash-LSH
    candidate pairs at `threshold` estimated jaccard → connected
    components → every non-minimum url of a component is flagged (the
    same column name as the exact method so downstream reports/checks
    are method-agnostic; dedup_summary records which method ran).

    Scale shape is the dedup family's: banded signature self-join
    shuffles (band, bandhash, url) only; component labeling is
    large-star/small-star alternation (O(log n) rounds on any graph)
    with a scalar-only driver loop. NOTE: component resolution is an
    iterative
    computation — calling this triggers Spark jobs eagerly rather than
    extending the lazy plan (documented pipeline-stage cost, not a
    per-report cost)."""
    pairs = minhash_lsh_pairs(
        df.select("url", "text"), text_col="text", id_col="url", threshold=threshold
    )
    comp = connected_components(pairs, id_a="id_a", id_b="id_b")
    unpersist_deps(pairs)
    dropped = (
        comp.where(F.col("node") != F.col("component"))
        .select(F.col("node").alias("url"), F.lit(True).alias("exact_dup"))
    )
    return df.join(dropped, "url", "left").na.fill({"exact_dup": False})


def prepare_pages(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """First half of the row-level plan, shared by `curate` and
    `streaming.run_stream_once`: lookback and noindex filters, one scan
    projection to (url, warc_ts, text, lang, extraction_ok), then the
    opt-in text repairs. The dedup flag goes between this and
    `finish_curation`, so it fingerprints repaired text."""
    df = lookback_filter(pages, cfg)
    if cfg.respect_noindex:
        # publisher opt-out re-check (stored WARCs must re-honor what
        # the crawler honored at fetch time): three regexp_extracts
        # over html AT THE SCAN, pages dropped before any payload
        # processing — html is about to be read here anyway for the
        # extraction check, so the filter rides the same scan
        from pcornet_data_curation_spark.operators.robotsmeta import (
            robots_noindex_col,
        )

        df = df.where(~robots_noindex_col(F.col("html")))
    # consume html AT THE SCAN: extraction_ok is derived here and html
    # dropped immediately, so the wide binary column never rides the
    # dedup or bucket shuffle or the Arrow round-trip of the
    # scoring UDF (measured: carrying it through cost ~3x on the
    # curation pass). extraction_ok evaluates against the ORIGINAL
    # text column; the missing-text fill happens in the SAME projection.
    text_expr = F.col("text")
    if cfg.extract_missing_text:
        from pcornet_data_curation_spark.operators.extract import (
            missing_text_filled_col,
        )

        text_expr = missing_text_filled_col(
            preserve_lines=cfg.extract_preserve_lines
        )
    df = df.select(
        "url", "warc_ts", text_expr.alias("text"),
        "lang", extraction_consistent_col().alias("extraction_ok"),
    )
    # text-repair stages (opt-in, production order: fix encoding, then
    # remove boilerplate, THEN dedup/score — so fingerprints and
    # stopword densities see repaired text). Applied to the projected
    # `text` ATTRIBUTE, not the extract expression: boilerplate
    # cleaning references its input several times and CollapseProject's
    # multi-reference guard keeps the extract chain evaluated once in
    # the projection above. NULL text stays NULL: missing-text rule
    # accounting is untouched.
    if cfg.fix_mojibake:
        from pcornet_data_curation_spark.operators.mojibake import mojibake_fix_col

        df = df.withColumn("text", mojibake_fix_col(F.col("text")))
    if cfg.remove_boilerplate:
        from pcornet_data_curation_spark.operators.boilerplate import (
            with_boilerplate_removed,
        )

        df = with_boilerplate_removed(df, "text")
    return df


def finish_curation(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Second half of the row-level plan: `df` is `prepare_pages`'
    output plus an exact_dup column. Doc stats, rule verdict and scrub,
    the drop-mode keep fold, the curated projection, then the rebalance
    by bucket. Scoring runs on the tasks of the stage that feeds it
    (the scan's splits, or the dedup join's partitions), and the
    rebalance sizes only the write; its exchange carries the curated
    columns (`scrubbed_text`, not `text`)."""
    df = with_doc_stats(df)
    df = with_verdict(df, cfg.rule_overrides)
    flag_cols = [R.flag_name(r) for r in R.active_rules(cfg.rule_overrides)]
    if cfg.dedup == "drop":
        df = df.withColumn("keep", F.col("keep") & ~F.col("exact_dup"))
    # scrub_hit recorded here because the raw text column is dropped
    # from the curated table (reports never need it again);
    # extraction_ok was derived at the scan (html never left stage 0)
    scrub_hit = ~F.col("scrubbed_text").eqNullSafe(F.col("text"))
    curated = df.select(
        "url",
        "warc_ts",
        "lang",
        bucket_col(cfg.n_buckets).alias("bucket"),  # 4th; rebalanced below
        *CURATED_STATS,
        *flag_cols,
        "keep",
        scrub_hit.alias("scrub_hit"),
        "extraction_ok",
        "exact_dup",
        "scrubbed_text",
    )
    return salted_repartition(curated, cfg)


def curate(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The full row-level transform chain (stages 0-5), lazily planned:
    `prepare_pages`, the batch dedup flag, `finish_curation`."""
    df = prepare_pages(pages, cfg)
    if cfg.dedup != "off":
        # global dedup BEFORE scoring: scoring runs on the dedup
        # join's output (scored first, that join would carry text and
        # scrubbed_text together), and the survivor choice (min url)
        # is a pure function of the full input, so a partial-bucket
        # resume recomputes identical flags.
        # 'flag' records exact_dup only; 'drop' also folds it into
        # keep. Default 'off': the F1-parity contract is per-url
        # verdicts, and dedup is a corpus-level decision the caller
        # opts into (C4 drops, Gopher reports).
        if cfg.dedup_method == "near":
            df = with_near_dup_flag(df, cfg.near_threshold)
        else:
            df = with_exact_dup_flag(df)
    else:
        df = df.withColumn("exact_dup", F.lit(False))
    return finish_curation(df, cfg)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig,
    limit_buckets: list[int] | None = None,
) -> dict:
    """Run (or resume) a curation run into cfg.output_root.

    limit_buckets restricts which pending buckets are processed this
    invocation — used by tests to simulate a killed run.
    Returns a dict of output paths + run stats.
    """
    tracker = LineageTracker()
    out = cfg.output_root
    if cfg.prior_run_root and os.path.realpath(cfg.prior_run_root) == os.path.realpath(out):
        # a prior pointed at this run's own output would lazily read
        # <out>/metrics while the run overwrite-rewrites that same path
        # mid-plan — a read-under-overwrite cycle that fails or yields
        # silently empty drift rows. Natural mistake on resume; reject.
        raise ValueError(
            "prior_run_root must reference a DIFFERENT run's output root "
            f"(got the run's own output {out!r}); drift compares across "
            "runs, not a run against itself"
        )
    curated_path = os.path.join(out, "curated")
    manifest = Manifest.load_or_init(out, cfg.n_buckets)

    # URL-level pre-filter (opt-in): reject by url BEFORE any payload
    # is decoded — the RefinedWeb/C4 stage order. The flagged frame is
    # kept for the url_filter_summary report (one column-pruned agg
    # over urls); rejected rows never reach scoring/curation.
    url_flagged = None
    if cfg.url_blocklist:
        from pcornet_data_curation_spark.operators.urlfilter import url_filter

        bl = (
            spark.read.text(cfg.url_blocklist)
            .select(F.trim(F.col("value")).alias("domain"))
            .where(F.length("domain") > 0)
        )
        url_flagged = url_filter(pages, bl, persist_blocked=True)
        # url_filter's flag columns fall to prepare_pages' scan projection
        pages = url_flagged.where(F.col("url_keep"))

    # the blocked-host set persisted by url_filter must be released
    # on EVERY exit path — an exception mid-run must not leak the
    # cache for the session lifetime
    try:
        pending = manifest.pending_buckets()
        if limit_buckets is not None:
            pending = [b for b in pending if b in limit_buckets]

        if pending:
            with tracker.stage("curate"):
                df = curate(pages, cfg)
                if len(pending) < cfg.n_buckets:
                    df = df.where(F.col("bucket").isin(pending))
                (
                    df.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("bucket")
                    .parquet(curated_path)
                )

        # ---- reporting over done + just-written buckets; the tail
        # marks the pending ones done (plans/report_tail.py). A store
        # that may hold no row has no parquet file to infer its schema
        # from, so it is read with the schema of the plan that writes
        # it: `df`'s is analysed already; for a store that holds no
        # row, finish_curation is analysed (no job) ----
        reader = spark.read
        if pending:
            reader = reader.schema(df.schema)
        elif not any(v["rows"] for v in manifest.data["buckets"].values()):
            prepared = prepare_pages(pages, cfg).withColumn("exact_dup", F.lit(False))
            reader = reader.schema(finish_curation(prepared, cfg).schema)
        cur = reader.parquet(curated_path).where(
            F.col("bucket").isin(sorted(manifest.done_buckets() + pending))
        )
        paths = run_report_tail(spark, cur, cfg, manifest, tracker, url_flagged, pending)
    finally:
        if url_flagged is not None:
            unpersist_deps(url_flagged)

    stats = {
        "buckets_done": len(manifest.done_buckets()),
        "buckets_processed_now": len(pending),
        "rows": sum(v["rows"] for v in manifest.data["buckets"].values()),
        "kept": sum(v["kept"] for v in manifest.data["buckets"].values()),
    }
    return {"curated": curated_path, **paths, "manifest": manifest.path, "stats": stats}
