"""End-to-end pipeline + checkpoint/resume semantics (FIXTURES.md §4)."""

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pcornet_data_curation_spark.config import PipelineConfig
from pcornet_data_curation_spark.datagen.pages import pages_df
from pcornet_data_curation_spark.operators.normalize import arrow_schema
from pcornet_data_curation_spark.plans.checkpoint import Manifest
from pcornet_data_curation_spark.plans.pipeline import run_pipeline

N = 800


@pytest.fixture()
def outdir(tmp_path):
    return str(tmp_path / "out")


def _read_sorted(spark, path):
    return (
        spark.read.parquet(path)
        .orderBy("url")
        .toPandas()
        .reset_index(drop=True)
    )


def test_pipeline_end_to_end(spark, outdir):
    cfg = PipelineConfig(output_root=outdir, n_buckets=4)
    res = run_pipeline(spark, pages_df(spark, N, partitions=4), cfg)
    assert res["stats"]["buckets_done"] == 4
    cur = spark.read.parquet(res["curated"])
    assert cur.count() == res["stats"]["rows"] > 0
    # every row landed in its url-hash bucket
    bad = cur.where(
        F.pmod(F.xxhash64("url"), F.lit(4)).cast("int") != F.col("bucket")
    ).count()
    assert bad == 0
    # reports exist and are non-trivial
    for name in ["rule_summary", "lang_dist", "verdict_summary", "warc_ym_dist"]:
        assert spark.read.parquet(os.path.join(res["reports"], name)).count() > 0
    assert spark.read.parquet(res["metrics"]).count() > 0
    exc = spark.read.parquet(res["exceptions"]).toPandas()
    # the synthetic fixture DELIBERATELY contains junk (null langs,
    # future timestamps, extraction mismatches, off-valueset languages,
    # OOV-perplexity docs) — exactly these checks must fire, no others
    tripped = set(exc.loc[exc["exception"], "check_id"])
    # 2.04/10.04/10.05 joined in round 3: the fixture's null-text docs
    # scrub to NULL (2.04), its off-valueset langs hit the referential
    # valueset count, and its junk (OOV/low-quality) docs are LONGER
    # than kept ones, so the filter-sanity ratio > 1
    assert tripped == {"2.02", "2.04", "5.01", "6.02", "7.02", "8.04", "10.04", "10.05"}
    # the only red among them is the future-timestamp plausibility check
    reds = set(exc.loc[exc["exception"] & (exc["severity"] == "red"), "check_id"])
    assert reds == {"7.02"}
    # fresh single run: nothing stale, no drift inputs → 11.x/12.x/13.x quiet
    assert not any(t.startswith(("11.", "12.", "13.")) for t in tripped)
    lin = spark.read.parquet(res["lineage"]).toPandas()
    assert (lin["status"] == "ok").all() and len(lin) >= 9
    assert list(lin.columns) == ["stage", "started_at", "ended_at", "elapsed_sec", "status"]

    # a copy of a bucket-0 part file planted in bucket=1: re-reporting
    # the complete store counts each planted row as misplaced (10.02)
    part = sorted(glob.glob(os.path.join(res["curated"], "bucket=0", "*.parquet")))[0]
    shutil.copy(part, os.path.join(res["curated"], "bucket=1", "part-planted.parquet"))
    planted = pq.read_metadata(part).num_rows
    res = run_pipeline(spark, pages_df(spark, N, partitions=4), cfg)
    assert res["stats"]["buckets_processed_now"] == 0
    exc = spark.read.parquet(res["exceptions"]).toPandas().set_index("check_id")
    assert exc.loc["10.02", "exception"]
    assert exc.loc["10.02", "observed"] == planted > 0


@pytest.fixture(scope="module")
def gold_run(spark, tmp_path_factory):
    """An uninterrupted 4-bucket run: its sorted curated rows and its
    manifest's per-bucket (rows, kept)."""
    out = str(tmp_path_factory.mktemp("gold") / "out")
    cfg = PipelineConfig(output_root=out, n_buckets=4)
    run_pipeline(spark, pages_df(spark, N, partitions=4), cfg)
    return _read_sorted(spark, os.path.join(out, "curated")), _bucket_marks(out)


def _bucket_marks(out):
    m = Manifest.load_or_init(out, 4)
    return {b: (v["rows"], v["kept"]) for b, v in m.data["buckets"].items()}


def test_resume_skips_done_and_matches_cold_run(spark, outdir, gold_run):
    pages = pages_df(spark, N, partitions=4)
    cfg = PipelineConfig(output_root=outdir, n_buckets=4)
    gold, gold_marks = gold_run

    # killed run: only buckets 0,1 completed
    run_pipeline(spark, pages, cfg, limit_buckets=[0, 1])
    m = Manifest.load_or_init(outdir, 4)
    assert m.done_buckets() == [0, 1]

    # record bytes of completed bucket files, then resume
    done_files = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(outdir, "curated", "bucket=0", "*.parquet"))
        + glob.glob(os.path.join(outdir, "curated", "bucket=1", "*.parquet"))
    }
    # a lineage file of the earlier eight-column shape (partition_id,
    # rows_in, rows_out) still renders next to the five-column ones
    pq.write_table(
        pa.Table.from_pylist(
            [{"stage": "eight_column_stage", "partition_id": None, "started_at": 0.0,
              "ended_at": 1.5, "elapsed_sec": 1.5, "rows_in": None, "rows_out": None,
              "status": "ok"}],
            schema=arrow_schema(
                "stage string, partition_id int, started_at double, ended_at double, "
                "elapsed_sec double, rows_in bigint, rows_out bigint, status string"
            ),
        ),
        os.path.join(outdir, "lineage", "part-eight-columns.parquet"),
    )
    res = run_pipeline(spark, pages, cfg)
    assert res["stats"]["buckets_processed_now"] == 2  # only 2,3 recomputed
    for p, mtime in done_files.items():
        assert os.path.getmtime(p) == mtime, f"completed bucket rewritten: {p}"

    resumed = _read_sorted(spark, os.path.join(outdir, "curated"))
    assert resumed.equals(gold)
    assert _bucket_marks(outdir) == gold_marks
    with open(res["report_md"]) as f:
        assert "| eight_column_stage | 1.5 | ok |" in f.read()


def test_report_pass_failure_leaves_buckets_pending(spark, outdir, gold_run, monkeypatch):
    """Buckets are marked done from the report tail's bucket pass: a run
    that dies in that pass, after its curated write, marks nothing, and
    the resume rewrites every bucket to the uninterrupted run's store."""
    from pcornet_data_curation_spark.operators import reports

    pages = pages_df(spark, N, partitions=4)
    cfg = PipelineConfig(output_root=outdir, n_buckets=4)
    gold, gold_marks = gold_run

    def killed(*args, **kwargs):
        raise RuntimeError("bucket pass killed")

    monkeypatch.setattr(reports, "bucket_pass", killed)
    with pytest.raises(RuntimeError, match="bucket pass killed"):
        run_pipeline(spark, pages, cfg)
    assert Manifest.load_or_init(outdir, 4).done_buckets() == []

    monkeypatch.undo()
    res = run_pipeline(spark, pages, cfg)
    assert res["stats"]["buckets_processed_now"] == 4
    assert _read_sorted(spark, os.path.join(outdir, "curated")).equals(gold)
    assert _bucket_marks(outdir) == gold_marks


def test_manifest_bucket_mismatch_rejected(spark, outdir):
    import json

    cfg = PipelineConfig(output_root=outdir, n_buckets=4)
    run_pipeline(spark, pages_df(spark, 100, partitions=2), cfg, limit_buckets=[0])
    with pytest.raises(ValueError, match="n_buckets"):
        Manifest.load_or_init(outdir, 8)
    # a store written before the manifest recorded its format is refused
    path = os.path.join(outdir, Manifest.FILENAME)
    with open(path) as f:
        md = json.load(f)
    del md["format"]
    with open(path, "w") as f:
        json.dump(md, f)
    with pytest.raises(ValueError) as e:
        Manifest.load_or_init(outdir, 4)
    assert path in str(e.value)


def test_lookback_filter(spark, outdir):
    import datetime as dt

    from pcornet_data_curation_spark.plans.pipeline import lookback_filter

    cfg = PipelineConfig(run_date=dt.date(2026, 1, 1), lookback_years=3)
    pages = pages_df(spark, 500, partitions=2)
    kept = lookback_filter(pages, cfg)
    assert kept.count() < pages.count()  # pre-2023 rows dropped
    assert kept.where(F.col("warc_ts").isNull()).count() > 0  # nulls retained
    oldest = kept.agg(F.min("warc_ts")).collect()[0][0]
    assert oldest is None or oldest >= dt.datetime(2023, 1, 1)


# every report of a run in which no page survives: all counts 0, sums
# and extremes NULL (Spark `sum`/`min` over no rows), percentages 0.0
EMPTY_RUN_REPORTS = {
    "rule_summary": [],
    "pages_tag": [
        ("curated", "url", 0, 0, None, None, 0),
        ("curated", "lang", 0, 0, None, None, 0),
        ("curated", "scrubbed_text", 0, 0, None, 0, 0),
    ],
    "lang_dist": [
        (c, i, 0, 0.0, 0)
        for i, c in enumerate([
            "en", "de", "fr", "es", "it", "pt", "nl",
            "NULL or missing", "Values outside of CDM specifications",
        ])
    ],
    "warc_ym_dist": [],
    "tokens_by_keep": [],
    "ppl_stats": [(0, None, None, None, None, None, None, None, None, None)],
    "warc_minmax": [("warc_ts", 0, None, None, None, None, None)],
    "verdict_summary": [(0, None, None)],
    "url_unique": [(0, 0, 0)],
    "scrub_summary": [(0, None, 0.0)],
    "run_metadata": [
        ("spark_version", None), ("run_date", "2026-01-01"), ("lookback_years", "10"),
        ("lookback_cutoff", "2016-01-01"), ("n_buckets", "4"), ("output_root", None),
    ],
    "extraction_summary": [(0, None, 0.0)],
    "dash_activity": [],
    "referential_summary": [(0, None, None, None, None, None, None, 0.0)],
    "domain_dist": [],
    "domain_summary": [(0, None, 0, 0.0, 0.0)],
    "dedup_summary": [("off", "n/a", 0, None, 0.0)],
}


def test_empty_run_reports(spark, outdir, capsys):
    """A run in which no page survives the filters writes no curated
    file; it still reads the store with the schema the plan writes,
    produces every expected report and fires check 1.03, and so does
    the resume over that store, with nothing pending."""
    import json

    from pcornet_data_curation_spark.__main__ import main
    from pcornet_data_curation_spark.plans.pipeline import EXPECTED_REPORTS

    cfg = PipelineConfig(output_root=outdir, n_buckets=4)
    for pending in (4, 0):
        res = run_pipeline(spark, pages_df(spark, 20).limit(0), cfg)
        stats = {"buckets_done": 4, "buckets_processed_now": pending, "rows": 0, "kept": 0}
        assert res["stats"] == stats
        assert sorted(os.listdir(res["reports"])) == sorted(EXPECTED_REPORTS)
        for name, want in EMPTY_RUN_REPORTS.items():
            table = pq.read_table(os.path.join(res["reports"], name))
            rows = [tuple(r.values()) for r in table.to_pylist()]
            if name == "run_metadata":  # engine version and output path vary
                rows = [(k, None if k in ("spark_version", "output_root") else v) for k, v in rows]
            assert rows == want, name
        exc = pq.read_table(res["exceptions"]).to_pylist()
        viability = [(e["observed"], e["exception"]) for e in exc if e["check_id"] == "1.03"]
        assert viability == [(0.0, True)]

    capsys.readouterr()
    assert main(["check", "--output", outdir]) == 0
    fired = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["exceptions"]
    assert "1.03" in {e["check_id"] for e in fired}


def test_scrub_summary_and_completeness(spark, tmp_path):
    from pcornet_data_curation_spark.config import PipelineConfig
    from pcornet_data_curation_spark.datagen.pages import pages_df
    from pcornet_data_curation_spark.plans.pipeline import EXPECTED_REPORTS, run_pipeline

    cfg = PipelineConfig(output_root=str(tmp_path / "out"), n_buckets=4)
    res = run_pipeline(spark, pages_df(spark, 400, partitions=2), cfg)

    scrub = spark.read.parquet(res["reports"] + "/scrub_summary").toPandas()
    assert scrub["records"].iloc[0] == scrub["records"].iloc[0] >= 0
    # the fixture plants PII + toxicity archetypes — some rows must scrub
    assert scrub["scrub_hits"].iloc[0] > 0
    assert 0.0 < scrub["scrub_pct"].iloc[0] < 100.0

    comp = spark.read.parquet(res["completeness"]).toPandas()
    assert set(comp["dc_name"]) == set(EXPECTED_REPORTS)
    assert comp["produced"].all()


def test_extraction_check_flags_planted_mismatches(spark, tmp_path):
    from pcornet_data_curation_spark.config import PipelineConfig
    from pcornet_data_curation_spark.datagen.pages import pages_df
    from pcornet_data_curation_spark.plans.pipeline import run_pipeline

    cfg = PipelineConfig(output_root=str(tmp_path / "out"), n_buckets=4)
    res = run_pipeline(spark, pages_df(spark, 600, partitions=2), cfg)
    ext = spark.read.parquet(res["reports"] + "/extraction_summary").toPandas()
    # the fixture plants ~5% html-text extraction mismatches
    assert ext["mismatch_n"].iloc[0] > 0
    assert 0.0 < ext["mismatch_pct"].iloc[0] < 20.0

    # the check reads html at the parquet scan
    from pcornet_data_curation_spark.plans.pipeline import curate

    pq = str(tmp_path / "pages_pq")
    pages_df(spark, 100, partitions=1).write.parquet(pq)
    plan = curate(spark.read.parquet(pq), PipelineConfig(output_root=str(tmp_path / "x")))
    lines = [
        ln
        for ln in plan._jdf.queryExecution().executedPlan().toString().splitlines()
        if "ReadSchema" in ln
    ]
    assert lines
    assert "html" in lines[0]


def test_run_report_markdown(spark, tmp_path):
    from pcornet_data_curation_spark.config import PipelineConfig
    from pcornet_data_curation_spark.datagen.pages import pages_df
    from pcornet_data_curation_spark.plans.pipeline import run_pipeline

    cfg = PipelineConfig(output_root=str(tmp_path / "out"), n_buckets=4)
    res = run_pipeline(spark, pages_df(spark, 300, partitions=2), cfg)
    md = open(res["report_md"]).read()
    for section in (
        "# Curation run report",
        "## Run metadata",
        "## Verdict",
        "## Data checks",
        "## Completeness",
        "## Rule fail rates",
        "## Language distribution",
        "## Domain distribution",
        "## Content duplication",
        "## Stage timings",
    ):
        assert section in md, section
    assert "spark_version" in md


def test_checks_trip_per_family():
    """Every check family has at least one deliberately-tripped
    exception: hand-built metric rows encode one pathological value
    per family and evaluate_checks must flag exactly those."""
    import pandas as pd

    from pcornet_data_curation_spark.operators.checks import (
        DEFAULT_CHECKS,
        EXCEPTIONS_DDL,
        evaluate_checks,
    )

    families = {c.family for c in DEFAULT_CHECKS}
    assert families == {
        "viability", "conformance", "uniqueness", "scrub", "extraction",
        "distribution", "temporal", "continuous", "rules",
        "referential", "drift", "staleness", "trend", "domains",
        "duplication", "urlfilter",
    }
    # Data Checks v20 breadth (VERDICT r2 item 4: 26 → ~46)
    assert len(DEFAULT_CHECKS) >= 46

    rows = [
        # dc_name, variable, category, statistic, resultc, resultn
        ("verdict_summary", "", "", "keep_pct", "5.0", 5.0),          # 1.01 viability
        ("pages_tag", "", "curated|url", "null_n", "3", 3.0),          # 2.01 conformance
        ("url_unique", "", "", "dup_url_n", "7", 7.0),                 # 3.01 uniqueness
        ("scrub_summary", "", "", "scrub_pct", "95.0", 95.0),          # 4.01+4.02 scrub
        ("extraction_summary", "", "", "mismatch_pct", "20.0", 20.0),  # 5.01+5.02 extraction
        ("lang_dist", "", "NULL or missing", "record_pct", "45.0", 45.0),  # 6.01 distribution
        ("warc_minmax", "", "warc_ts", "implausible_n", "2", 2.0),     # 7.01 temporal
        ("ppl_stats", "", "", "mean", "700.0", 700.0),                 # 8.03 continuous
        ("rule_summary", "", "3|min_len", "fail_pct", "99.0", 99.0),   # 9.01 rules
        ("referential_summary", "", "", "kept_null_scrub_n", "2", 2.0),  # 10.01 referential
        ("drift|verdict_summary", "", "", "keep_pct__absdelta", "20.0", 20.0),  # 11.01+11.02 drift
        ("report_staleness", "", "lang_dist", "stale", "1.0", 1.0),    # 12.01 staleness
        ("threshold_trend", "", "8.03|NULL", "approaching", "1.0", 1.0),  # 13.01 trend
        ("domain_summary", "", "", "top1_share_pct", "75.0", 75.0),     # 14.01+14.02 domains
        ("dedup_summary", "", "flag", "dup_pct", "45.0", 45.0),        # 15.01 duplication
        ("dedup_summary", "", "off", "dup_pct", "0.0", 0.0),           # off mode: no check anchors
        ("url_filter_summary", "", "", "dropped_pct", "80.0", 80.0),   # 16.01+16.02 urlfilter
        # healthy rows that must NOT trip
        ("tokens_by_keep", "", "true", "mean", "250.0", 250.0),
        ("warc_minmax", "", "warc_ts", "future_n", "0", 0.0),
        ("referential_summary", "", "", "drop_keep_token_ratio", "0.4", 0.4),
        ("drift|scrub_summary", "", "", "scrub_pct__absdelta", "1.0", 1.0),
        ("report_staleness", "", "verdict_summary", "stale", "0.0", 0.0),
    ]
    cols = [c.split()[0] for c in EXCEPTIONS_DDL.split(",")]
    out = pd.DataFrame(evaluate_checks(rows), columns=cols)
    tripped = set(out.loc[out["exception"], "check_id"])
    assert tripped == {
        "1.01", "2.01", "3.01", "4.01", "4.02", "5.01", "5.02",
        "6.01", "7.01", "8.03", "9.01",
        "10.01", "11.01", "11.02", "12.01", "13.01", "14.01", "14.02",
        "15.01", "16.01", "16.02",
    }
    trip_fams = set(out.loc[out["exception"], "family"])
    assert trip_fams == families  # every family demonstrably fires
    # absent metrics (e.g. 1.03 records) → observed NULL, no exception
    absent = out[out["check_id"] == "1.03"]
    assert absent["observed"].isna().all() and not absent["exception"].any()


def test_staleness_metrics_unit():
    """A report written before the newest curated bucket is stale (the
    resume-died-mid-report scenario); fresher ones are not."""
    import pandas as pd

    from pcornet_data_curation_spark.operators.drift import staleness_rows
    from pcornet_data_curation_spark.operators.normalize import METRICS_SCHEMA

    md = {
        "buckets": {"0": {"finished_at": 100.0}, "1": {"finished_at": 120.0}},
        "reports": {"a": {"finished_at": 50.0}, "b": {"finished_at": 150.0}},
    }
    rows = pd.DataFrame(staleness_rows(md, 200.0), columns=METRICS_SCHEMA.names)
    stale = dict(
        zip(rows[rows.statistic == "stale"].category, rows[rows.statistic == "stale"].resultn)
    )
    assert stale == {"a": 1.0, "b": 0.0}
    age = dict(
        zip(rows[rows.statistic == "age_sec"].category, rows[rows.statistic == "age_sec"].resultn)
    )
    assert age == {"a": 150.0, "b": 50.0}


def test_drift_and_trend_cross_run(spark, tmp_path):
    """Two pipeline runs: the second, pointed at the first via
    prior_run_root, must emit drift rows (volume changed ~3x → 11.03
    trips) and threshold_trend rows; the first run (no prior) emits
    neither."""
    out1, out2 = str(tmp_path / "r1"), str(tmp_path / "r2")
    run_pipeline(spark, pages_df(spark, N, partitions=4),
                 PipelineConfig(output_root=out1, n_buckets=4))
    m1 = spark.read.parquet(os.path.join(out1, "metrics")).toPandas()
    assert not m1["dc_name"].str.startswith("drift|").any()
    assert (m1["dc_name"] == "report_staleness").any()  # always present

    run_pipeline(spark, pages_df(spark, N // 3, partitions=4),
                 PipelineConfig(output_root=out2, n_buckets=4, prior_run_root=out1))
    m2 = spark.read.parquet(os.path.join(out2, "metrics")).toPandas()
    drift = m2[m2["dc_name"].str.startswith("drift|")]
    assert len(drift) > 0
    rel = drift[
        (drift.dc_name == "drift|verdict_summary")
        & (drift.statistic == "records__relpct")
    ]["resultn"].iloc[0]
    assert rel > 50.0  # ~800 → ~266 rows
    assert (m2["dc_name"] == "threshold_trend").any()
    exc = spark.read.parquet(os.path.join(out2, "exceptions")).toPandas()
    tripped = set(exc.loc[exc["exception"], "check_id"])
    assert "11.03" in tripped  # record volume moved >50% vs prior run
    # drift rows are first-order only: no drift-of-drift on a re-run
    assert not drift["dc_name"].str.startswith("drift|drift|").any()


def test_dedup_stage_modes(spark, tmp_path):
    """Global exact-dedup stage: 'flag' marks every non-survivor copy
    (survivor = min url per content fingerprint) without touching keep;
    'drop' folds the flag into keep; flags are identical across input
    partitionings (the survivor choice is a pure function of the full
    input, the resume guarantee)."""
    pages = pages_df(spark, 300, partitions=4)
    # inject exact content duplicates of 40 docs under fresh urls that
    # sort BEFORE the originals — so the injected copies win survivor
    dups = (
        pages.limit(40)
        .withColumn("url", F.concat(F.lit("https://aaa-mirror.example.com/"),
                                    F.xxhash64("url").cast("string")))
    )
    both = pages.unionByName(dups)

    # pandas oracle: group by normalized text, survivor = min url (the
    # base fixture itself contains duplicate texts, so expected flags
    # come from the real fingerprint groups, not just the 40 mirrors)
    import re
    # mirror the lookback filter (dedup runs over post-filter rows only)
    pdf = (
        both.where("warc_ts IS NULL OR warc_ts >= timestamp'2016-01-01'")
        .select("url", "text").toPandas()
    )
    norm = pdf["text"].fillna("").map(
        lambda t: re.sub(r"[ \t\n\r\f\x0b]+", " ", t).strip().lower()
    )
    survivors = pdf.assign(_n=norm).groupby("_n")["url"].min()
    expected_flagged = set(pdf["url"]) - set(survivors)
    assert len(expected_flagged) >= 40  # at least the injected mirrors' twins

    out_flag = str(tmp_path / "flag")
    res = run_pipeline(spark, both, PipelineConfig(
        output_root=out_flag, n_buckets=4, dedup="flag"))
    cur = spark.read.parquet(res["curated"])
    flagged = cur.where("exact_dup").toPandas()
    assert set(flagged["url"]) == expected_flagged
    # flag mode leaves keep untouched: dup rows keep their verdict
    ded = spark.read.parquet(os.path.join(res["reports"], "dedup_summary")).toPandas()
    assert ded.iloc[0]["mode"] == "flag" and ded.iloc[0]["dup_n"] == len(flagged)

    out_drop = str(tmp_path / "drop")
    res2 = run_pipeline(spark, both, PipelineConfig(
        output_root=out_drop, n_buckets=4, dedup="drop"))
    cur2 = spark.read.parquet(res2["curated"])
    assert cur2.where("exact_dup AND keep").count() == 0
    # same flag set regardless of mode and of input partitioning
    f1 = set(flagged["url"])
    f2 = set(cur2.where("exact_dup").toPandas()["url"])
    assert f1 == f2
    res3_dir = str(tmp_path / "flag13")
    res3 = run_pipeline(spark, both.repartition(13), PipelineConfig(
        output_root=res3_dir, n_buckets=4, dedup="flag"))
    f3 = set(spark.read.parquet(res3["curated"]).where("exact_dup").toPandas()["url"])
    assert f3 == f1

    # off (default): column present, all false, summary mode 'off'
    out_off = str(tmp_path / "off")
    res4 = run_pipeline(spark, both, PipelineConfig(output_root=out_off, n_buckets=4))
    cur4 = spark.read.parquet(res4["curated"])
    assert cur4.where("exact_dup").count() == 0
    ded4 = spark.read.parquet(os.path.join(res4["reports"], "dedup_summary")).toPandas()
    assert ded4.iloc[0]["mode"] == "off" and ded4.iloc[0]["dup_n"] == 0

    with pytest.raises(ValueError):
        PipelineConfig(dedup="bogus")


def test_dedup_near_mode(spark, tmp_path):
    """--dedup-method near: MinHash-LSH components drive the flag; the
    pipeline wiring must agree with the standalone near_dedup_survivors
    operator (same input, same params) and actually catch slightly
    perturbed copies that exact fingerprinting misses."""
    from pcornet_data_curation_spark.operators.dedup import near_dedup_survivors

    base = pages_df(spark, 200, partitions=2).where(
        "text IS NOT NULL AND length(text) > 200"
    )
    # near-dup mirrors: append one token — identical shingle sets except
    # the tail, estimated jaccard ~1 > 0.8; exact fingerprints differ
    mirrors = base.limit(25).select(
        F.concat(F.lit("https://zzz-copy.example.com/"),
                 F.xxhash64("url").cast("string")).alias("url"),
        "warc_ts", "html",
        F.concat(F.col("text"), F.lit(" appended")).alias("text"),
        "lang",
    )
    both = base.unionByName(mirrors)

    out = str(tmp_path / "near")
    res = run_pipeline(spark, both, PipelineConfig(
        output_root=out, n_buckets=4, dedup="drop", dedup_method="near"))
    cur = spark.read.parquet(res["curated"])
    flagged = set(cur.where("exact_dup").toPandas()["url"])
    assert len(flagged) >= 25  # at least one member of each mirror pair
    assert cur.where("exact_dup AND keep").count() == 0

    # wiring parity with the standalone operator (post-lookback input)
    filt = both.where("warc_ts IS NULL OR warc_ts >= timestamp'2016-01-01'")
    surv = near_dedup_survivors(
        filt.select("url", "text"), text_col="text", id_col="url", threshold=0.8
    )
    expected_flagged = (
        set(filt.select("url").toPandas()["url"]) - set(surv.toPandas()["url"])
    )
    assert flagged == expected_flagged
    ded = spark.read.parquet(os.path.join(res["reports"], "dedup_summary")).toPandas()
    assert ded.iloc[0]["method"] == "near" and ded.iloc[0]["mode"] == "drop"


def test_exact_dup_flag_null_urls_two_valued(spark):
    """exact_dup is always a two-valued boolean, even for NULL urls: a
    NULL-url copy of real-url content is flagged (min(url) skipped it);
    a group of only NULL urls has no orderable survivor and stays
    unflagged; nothing ever propagates NULL into keep."""
    from pcornet_data_curation_spark.plans.pipeline import with_exact_dup_flag

    rows = [
        ("https://a.example/1", "same content here"),
        (None, "same content here"),          # dup of the survivable row
        (None, "only null urls content"),
        (None, "only null urls content"),
        ("https://b.example/1", "unique content entirely"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    out = with_exact_dup_flag(df).toPandas()
    assert out["exact_dup"].notna().all()
    assert out.loc[out.url == "https://a.example/1", "exact_dup"].iloc[0] == False  # noqa: E712
    assert out.loc[out.url.isna() & (out.text == "same content here"), "exact_dup"].iloc[0] == True  # noqa: E712
    assert not out.loc[out.text == "only null urls content", "exact_dup"].any()
    assert out.loc[out.url == "https://b.example/1", "exact_dup"].iloc[0] == False  # noqa: E712


def test_staleness_check_fires_on_resume_after_died_mid_report(spark, tmp_path):
    """WIRING test for 12.01 (not just the unit on a synthetic dict):
    staleness is evaluated against the manifest AS LOADED, so a store
    where a prior run recurated buckets but died before re-reporting
    (simulated by backdating one report below the bucket timestamps)
    produces stale=1 rows — and a tripped 12.01 — in the NEXT run's
    metrics, which then repairs the store (a third run is clean)."""
    import json

    out = str(tmp_path / "o")
    pages = pages_df(spark, 200, partitions=2)
    run_pipeline(spark, pages, PipelineConfig(output_root=out, n_buckets=4))

    mpath = os.path.join(out, "_manifest.json")
    md = json.load(open(mpath))
    newest_bucket = max(v["finished_at"] for v in md["buckets"].values())
    md["reports"]["lang_dist"]["finished_at"] = newest_bucket - 100.0
    json.dump(md, open(mpath, "w"))

    res = run_pipeline(spark, pages, PipelineConfig(output_root=out, n_buckets=4))
    m = spark.read.parquet(res["metrics"]).toPandas()
    stale = m[(m.dc_name == "report_staleness") & (m.statistic == "stale")]
    assert dict(zip(stale.category, stale.resultn))["lang_dist"] == 1.0
    exc = spark.read.parquet(res["exceptions"]).toPandas()
    assert "12.01" in set(exc.loc[exc["exception"], "check_id"])

    # the run above re-reported everything: a third run sees no staleness
    res3 = run_pipeline(spark, pages, PipelineConfig(output_root=out, n_buckets=4))
    m3 = spark.read.parquet(res3["metrics"]).toPandas()
    stale3 = m3[(m3.dc_name == "report_staleness") & (m3.statistic == "stale")]
    assert (stale3.resultn == 0.0).all()


def test_url_blocklist_prefilter_stage(spark, tmp_path):
    """cfg.url_blocklist drops pages by url BEFORE curation (the
    RefinedWeb/C4 stage order): blocked-domain and subdomain pages
    never reach the curated table, url_filter_summary reports the drop
    rate, and the 16.x checks trip when the blocklist eats most of the
    corpus."""
    import json

    from collections import Counter

    pages = pages_df(spark, 200, partitions=2)
    counted = Counter(
        r["h"]
        for r in pages.selectExpr(
            "regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1) as h"
        ).collect()
    )
    # block hosts until the blocklist covers >70% of rows, so BOTH
    # 16.x checks must actually TRIP (not merely be evaluated)
    blocked, covered = [], 0
    for h, n in counted.most_common():
        blocked.append(h)
        covered += n
        if covered > 0.7 * 200:
            break
    blfile = tmp_path / "blocklist.txt"
    blfile.write_text("\n".join(blocked) + "\n")

    out = str(tmp_path / "o")
    cfg = PipelineConfig(
        output_root=out, n_buckets=4, url_blocklist=str(blfile)
    )
    res = run_pipeline(spark, pages, cfg)
    cur = spark.read.parquet(os.path.join(out, "curated"))
    # no curated row's url parses to any blocked host
    from pcornet_data_curation_spark.operators.reports import host_col

    assert cur.where(host_col(F.col("url")).isin(blocked)).count() == 0
    assert cur.count() == 200 - covered
    ufs = spark.read.parquet(
        os.path.join(out, "reports", "url_filter_summary")
    ).toPandas()
    assert int(ufs["records"].iloc[0]) == 200
    assert int(ufs["dropped_n"].iloc[0]) == covered
    # the drop-rate checks FIRE (evaluate_checks always emits a row per
    # registry check, so membership alone would be vacuous)
    exc = spark.read.parquet(res["exceptions"]).toPandas()
    fired = set(exc.loc[exc["exception"], "check_id"])
    assert {"16.01", "16.02"} <= fired


def test_extract_missing_text_stage(spark, tmp_path):
    """cfg.extract_missing_text: rows arriving with html but NULL text
    get their text derived by the regex extraction chain before
    scoring; rows with text keep it verbatim (parity), and the stage
    off leaves NULL-text rows scored as empty."""
    import datetime as dt

    t = dt.datetime(2026, 1, 1)
    body = ("some genuinely real sentence with many words here. " * 8).strip()
    rows = [
        ("https://a.example.org/1", t,
         f"<html><head><title>x</title></head><body><p>{body}</p></body></html>".encode(),
         None, "en"),
        ("https://a.example.org/2", t, None, body, "en"),
    ]
    ddl = "url string, warc_ts timestamp, html binary, text string, lang string"
    pages = spark.createDataFrame(rows, ddl)

    out_on = str(tmp_path / "on")
    run_pipeline(spark, pages, PipelineConfig(
        output_root=out_on, n_buckets=2, extract_missing_text=True))
    cur = spark.read.parquet(os.path.join(out_on, "curated")).toPandas().set_index("url")
    # derived and verbatim texts produce the same scrubbed output
    assert cur.loc["https://a.example.org/1", "scrubbed_text"] == \
           cur.loc["https://a.example.org/2", "scrubbed_text"] == body

    out_off = str(tmp_path / "off")
    run_pipeline(spark, pages, PipelineConfig(output_root=out_off, n_buckets=2))
    cur0 = spark.read.parquet(os.path.join(out_off, "curated")).toPandas().set_index("url")
    assert cur0.loc["https://a.example.org/1", "scrubbed_text"] is None or \
           cur0.loc["https://a.example.org/1", "scrubbed_text"] != body


def test_text_repair_stages_mojibake_and_boilerplate(spark, tmp_path):
    """cfg.fix_mojibake repairs cp1252 damage before dedup/scoring/
    scrub; cfg.remove_boilerplate drops nav/legal lines while keeping
    prose; NULL text stays NULL (missingness accounting untouched)."""
    import datetime as dt

    from pcornet_data_curation_spark.operators.mojibake import _sloppy_cp1252

    t = dt.datetime(2026, 1, 1)
    good_line = (
        "it was the best of all the times and it was also the worst of "
        "the times that we had in the old city by the sea."
    )
    apos = _sloppy_cp1252("’".encode("utf-8"))
    cafe = _sloppy_cp1252("Café".encode("utf-8"))
    rows = [
        ("https://x.org/moji", t, None,
         f"don{apos}t say {cafe}. " + good_line, "en"),
        ("https://x.org/bp", t, None,
         good_line + "\n© 2024 Example Corp — All Rights Reserved."
         + "\nsubscribe now cookie banner", "en"),
        ("https://x.org/null", t, None, None, "en"),
    ]
    ddl = "url string, warc_ts timestamp, html binary, text string, lang string"
    pages = spark.createDataFrame(rows, ddl)
    out = str(tmp_path / "repair")
    run_pipeline(spark, pages, PipelineConfig(
        output_root=out, n_buckets=2,
        fix_mojibake=True, remove_boilerplate=True))
    cur = (
        spark.read.parquet(os.path.join(out, "curated"))
        .toPandas().set_index("url")
    )
    moji = cur.loc["https://x.org/moji", "scrubbed_text"]
    assert "don’t say Café." in moji and "Ã" not in moji
    bp = cur.loc["https://x.org/bp", "scrubbed_text"]
    assert bp == good_line  # markers and nav junk dropped, prose kept
    assert cur.loc["https://x.org/null", "scrubbed_text"] is None


def test_respect_noindex_stage(spark, tmp_path):
    """cfg.respect_noindex drops noindex/none pages at the scan; pages
    without a robots directive (or with an explicit allow) survive;
    off keeps everything."""
    import datetime as dt

    t = dt.datetime(2026, 1, 1)
    body = ("a genuinely real sentence with plenty of words here. " * 8).strip()

    def page(meta):
        return (f"<html><head>{meta}</head><body><p>{body}</p></body></html>").encode()

    rows = [
        ("https://x.org/blocked", t,
         page('<meta name="robots" content="noindex, follow">'), body, "en"),
        ("https://x.org/none", t,
         page("<meta name=robots content=none>"), body, "en"),
        ("https://x.org/open", t,
         page('<meta name="robots" content="index, follow">'), body, "en"),
        ("https://x.org/plain", t, page(""), body, "en"),
    ]
    ddl = "url string, warc_ts timestamp, html binary, text string, lang string"
    pages = spark.createDataFrame(rows, ddl)
    out_on = str(tmp_path / "on")
    run_pipeline(spark, pages, PipelineConfig(
        output_root=out_on, n_buckets=2, respect_noindex=True))
    urls = set(
        spark.read.parquet(os.path.join(out_on, "curated")).toPandas()["url"]
    )
    assert urls == {"https://x.org/open", "https://x.org/plain"}
    out_off = str(tmp_path / "off")
    run_pipeline(spark, pages, PipelineConfig(output_root=out_off, n_buckets=2))
    assert len(spark.read.parquet(os.path.join(out_off, "curated"))
               .toPandas()) == 4
