"""CLI entry point (python -m pcornet_data_curation_spark) — the
reference's run-program analog (sasprograms/01-04_run_*.sas)."""

import json

from pcornet_data_curation_spark.__main__ import main


def test_cli_gen_run_resume(spark, tmp_path, capsys):
    pages = str(tmp_path / "pages")
    out = str(tmp_path / "out")

    assert main(["gen-pages", "--n", "300", "--output", pages, "--cores", "8"]) == 0
    gen = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert gen["rows"] == 300

    base = ["--input", pages, "--output", out, "--buckets", "4", "--cores", "8"]
    assert main(["run", *base]) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["stats"]["buckets_processed_now"] == 4

    assert main(["resume", *base]) == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["stats"]["buckets_processed_now"] == 0  # nothing recomputed
    assert second["stats"]["rows"] == first["stats"]["rows"]


def test_query_groups_partition_registry():
    from pcornet_data_curation_spark.queries import QUERY_GROUPS, REGISTRY

    p1, p2 = set(QUERY_GROUPS["part1"]), set(QUERY_GROUPS["part2"])
    assert p1 and p2 and not (p1 & p2)
    assert p1 | p2 == set(REGISTRY)  # halves cover the registry exactly


def test_cli_queries_part_runs(tmp_path, capsys):
    import json

    from pcornet_data_curation_spark.__main__ import main

    rc = main(
        [
            "queries", "--sf-dir", "/root/testdata/sf0.001",
            "--queries", "pricing_summary,topn_sources",
            "--output", str(tmp_path / "q"), "--cores", "4",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["queries_run"] == 2
    assert out["rows"]["pricing_summary"] > 0
    import os
    assert os.path.exists(tmp_path / "q" / "topn_sources" / "_SUCCESS")


def test_cli_csv_export_and_prior(spark, tmp_path, capsys):
    """--csv mirrors the reference's &_csv=YES print gate (one CSV per
    report under <out>/csv/); --prior enables the drift family against
    the named run's metrics."""
    import glob
    import os

    pages = str(tmp_path / "pages")
    out1 = str(tmp_path / "r1")
    out2 = str(tmp_path / "r2")
    assert main(["gen-pages", "--n", "300", "--output", pages, "--cores", "8"]) == 0
    capsys.readouterr()
    assert main(
        ["run", "--input", pages, "--output", out1, "--buckets", "4",
         "--cores", "8", "--csv"]
    ) == 0
    capsys.readouterr()
    for name in ("verdict_summary", "lang_dist", "referential_summary"):
        files = glob.glob(os.path.join(out1, "csv", name, "*.csv"))
        assert files, f"no CSV for {name}"
        with open(files[0]) as f:
            assert f.readline().strip()  # header row present
    # second run with --prior: drift metrics appear in run 2's table
    assert main(
        ["run", "--input", pages, "--output", out2, "--buckets", "4",
         "--cores", "8", "--prior", out1]
    ) == 0
    capsys.readouterr()
    m = spark.read.parquet(os.path.join(out2, "metrics")).toPandas()
    assert m["dc_name"].str.startswith("drift|").any()
    assert (m["dc_name"] == "threshold_trend").any()


def test_cli_corpus_ops(spark, tmp_path, capsys):
    """corpus subcommand: curate a run, then sample / split / pack the
    curated table from the CLI — the training-data shaping lifecycle."""
    import json as _json
    import os

    pages = str(tmp_path / "pages")
    run = str(tmp_path / "run")
    assert main(["gen-pages", "--n", "400", "--output", pages, "--cores", "8"]) == 0
    capsys.readouterr()
    assert main(["run", "--input", pages, "--output", run, "--buckets", "4",
                 "--cores", "8"]) == 0
    capsys.readouterr()
    cur = os.path.join(run, "curated")

    split_out = str(tmp_path / "split")
    assert main(["corpus", "--op", "split", "--input", cur, "--output", split_out,
                 "--cores", "8"]) == 0
    res = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    sp = spark.read.parquet(split_out).toPandas()
    assert res["rows"] == len(sp) and set(sp["split"]) <= {"train", "val", "test"}
    assert (sp["split"] == "train").mean() > 0.8

    sample_out = str(tmp_path / "sample")
    assert main(["corpus", "--op", "sample", "--input", cur, "--output", sample_out,
                 "--rates", '{"en": 0.3}', "--default-rate", "1.0", "--cores", "8"]) == 0
    capsys.readouterr()
    sa = spark.read.parquet(sample_out).toPandas()
    full = spark.read.parquet(cur).toPandas()
    en_rate = (sa["lang_pred"] == "en").sum() / max((full["lang_pred"] == "en").sum(), 1)
    assert 0.1 < en_rate < 0.5  # en downsampled near 0.3
    assert (sa["lang_pred"] != "en").sum() == (full["lang_pred"] != "en").sum()

    pack_out = str(tmp_path / "pack")
    assert main(["corpus", "--op", "pack", "--input", cur, "--output", pack_out,
                 "--target-tokens", "2000", "--cores", "8"]) == 0
    capsys.readouterr()
    pk = spark.read.parquet(pack_out).toPandas()
    assert "shard_id" in pk.columns and (pk["shard_id"] >= 0).all()


def test_cli_check_standalone_fires_age_on_left_behind_store(spark, tmp_path, capsys, monkeypatch):
    """Standalone `check` over an existing store: staleness is
    recomputed from the LIVE manifest at invocation time, so a store
    whose reports were written >7 days ago fires 12.02 — the scenario
    an in-run evaluation can never observe (ADVICE r3: in-run age_sec
    is ~0 by construction because the run just re-marked every
    report). Fresh store → no 12.x exceptions."""
    import os
    import re

    import pytest

    pages = str(tmp_path / "pages")
    out = str(tmp_path / "store")
    assert main(["gen-pages", "--n", "300", "--output", pages, "--cores", "8"]) == 0
    assert main(["run", "--input", pages, "--output", out, "--buckets", "4",
                 "--cores", "8"]) == 0
    capsys.readouterr()

    # `check` reads the store with json and pyarrow only: no Spark session
    def no_spark(*a, **k):
        raise AssertionError("check must not start a Spark session")

    monkeypatch.setattr("pcornet_data_curation_spark.session.get_spark", no_spark)
    assert main(["check", "--output", out]) == 0
    fresh = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert fresh["checks_evaluated"] >= 54
    assert not any(e["check_id"].startswith("12.") for e in fresh["exceptions"])

    # age the whole store 8 days: buckets AND reports (a consistent
    # left-behind store, not a died-mid-report one)
    mp = os.path.join(out, "_manifest.json")
    with open(mp) as f:
        m = json.load(f)
    for info in list(m["reports"].values()) + list(m["buckets"].values()):
        info["finished_at"] -= 8 * 86400
    with open(mp, "w") as f:
        json.dump(m, f)

    assert main(["check", "--output", out]) == 0
    aged = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    fired = {e["check_id"] for e in aged["exceptions"]}
    assert "12.02" in fired
    # uniformly-aged store: reports are not older than data → not stale
    assert "12.01" not in fired

    # `check` reads the manifest as `run` does: a store without a
    # recorded format is refused, naming the file
    del m["format"]
    with open(mp, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match=re.escape(mp)):
        main(["check", "--output", out])


def test_cli_prior_equal_to_output_rejected(spark, tmp_path, capsys):
    """--prior pointing at the run's own output root is a
    read-under-overwrite cycle (the lazy prior-metrics read races the
    metrics overwrite); the pipeline must refuse it up front."""
    import pytest

    pages = str(tmp_path / "pages")
    out = str(tmp_path / "store")
    assert main(["gen-pages", "--n", "200", "--output", pages, "--cores", "8"]) == 0
    capsys.readouterr()
    with pytest.raises(ValueError, match="prior_run_root"):
        main(["run", "--input", pages, "--output", out, "--buckets", "2",
              "--cores", "8", "--prior", out])


def test_pyfiles_zip_imports_and_is_deterministic(tmp_path):
    """The spark-submit --py-files artifact: package imports from the
    zip alone in a fresh interpreter (executors see exactly this), no
    bytecode/test files inside, and two builds are byte-identical."""
    import os
    import subprocess
    import sys
    import zipfile

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), "..", "tools")
    )
    import build_pyfiles

    z1 = build_pyfiles.build(str(tmp_path / "a.zip"))
    z2 = build_pyfiles.build(str(tmp_path / "b.zip"))
    assert open(z1, "rb").read() == open(z2, "rb").read()
    names = zipfile.ZipFile(z1).namelist()
    assert all(n.startswith("pcornet_data_curation_spark/") for n in names)
    assert not any(n.endswith(".pyc") or "/tests/" in n for n in names)
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import pcornet_data_curation_spark.config as c; "
        "import pcornet_data_curation_spark.operators.rules as r; "
        "print(c.PipelineConfig().n_buckets)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, z1],
        capture_output=True, text=True, cwd=str(tmp_path), check=True,
    )
    assert out.stdout.strip() == "8"


def test_cli_corpus_dedup_and_decontaminate_ops(spark, tmp_path, capsys):
    """corpus subcommand round-5 ops: exact dedup, near-dedup
    survivors, and benchmark decontamination (flag + remove) over a
    parquet table from the CLI."""
    import json as _json

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again today"),
            (2, "the quick brown fox jumps over the lazy dog again today"),
            (3, "completely different content lives here in this row now"),
            (4, "held out benchmark sentence that must be flagged here ok"),
        ],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(src)
    bench = str(tmp_path / "bench")
    spark.createDataFrame(
        [(9, "held out benchmark sentence that must be flagged here ok")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(bench)

    ded = str(tmp_path / "ded")
    assert main(["corpus", "--op", "dedup", "--input", src, "--output", ded,
                 "--id-col", "doc_id", "--text-col", "text", "--cores", "8"]) == 0
    res = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    dd = spark.read.parquet(ded).toPandas()
    assert res["rows"] == 3 and sorted(dd["doc_id"]) == [1, 3, 4]

    near = str(tmp_path / "near")
    assert main(["corpus", "--op", "neardedup", "--input", src, "--output", near,
                 "--id-col", "doc_id", "--text-col", "text", "--cores", "8"]) == 0
    capsys.readouterr()
    nd = spark.read.parquet(near).toPandas()
    assert 2 not in set(nd["doc_id"])  # exact copy is also a near-dup

    flg = str(tmp_path / "flag")
    assert main(["corpus", "--op", "decontaminate", "--input", src,
                 "--output", flg, "--bench", bench, "--id-col", "doc_id",
                 "--text-col", "text", "--decontam-k", "8", "--cores", "8"]) == 0
    capsys.readouterr()
    fl = spark.read.parquet(flg).toPandas().set_index("doc_id")
    assert bool(fl.loc[4, "contaminated"]) and not fl.loc[3, "contaminated"]

    rem = str(tmp_path / "rem")
    assert main(["corpus", "--op", "decontaminate", "--decontam-mode", "remove",
                 "--input", src, "--output", rem, "--bench", bench,
                 "--id-col", "doc_id", "--text-col", "text", "--decontam-k", "8",
                 "--cores", "8"]) == 0
    capsys.readouterr()
    rm = spark.read.parquet(rem).toPandas().set_index("doc_id")
    assert rm.loc[4, "text_decontaminated"] == "" and rm.loc[4, "removed_tokens_n"] > 0
    assert rm.loc[3, "removed_tokens_n"] == 0


def test_cli_corpus_sentdedup_op(spark, tmp_path, capsys):
    """corpus --op sentdedup: C4 three-sentence-span dedup from the
    CLI — the repeated span survives only in its globally-first doc."""
    import json as _json

    b = ("Shared sentence number one. Shared sentence number two! "
         "Shared sentence number three?")
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, f"Unique head of first doc. {b}"),
         (2, f"{b} Unique tail of second doc.")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(src)

    out = str(tmp_path / "sd")
    assert main(["corpus", "--op", "sentdedup", "--input", src, "--output", out,
                 "--id-col", "doc_id", "--text-col", "text", "--cores", "8"]) == 0
    res = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    sd = spark.read.parquet(out).toPandas().set_index("doc_id")
    assert res["rows"] == 2
    assert sd.loc[1, "removed_sentences_n"] == 0
    assert sd.loc[2, "text_deduped"] == "Unique tail of second doc."
    assert sd.loc[2, "removed_sentences_n"] == 3


def test_cli_corpus_tier_op(spark, tmp_path, capsys):
    """corpus --op tier: CCNet tiering of a curated table's ppl column
    per lang_pred from the CLI (exact thresholds for determinism)."""
    import json as _json

    src = str(tmp_path / "cur")
    rows = [(f"u{i}", "en", float(i)) for i in range(1, 10)]
    rows += [(f"v{i}", "de", float(100 - i)) for i in range(1, 4)]
    spark.createDataFrame(rows, "url string, lang_pred string, ppl double") \
        .write.mode("overwrite").parquet(src)

    out = str(tmp_path / "tiered")
    assert main(["corpus", "--op", "tier", "--input", src, "--output", out,
                 "--tier-exact", "--cores", "8"]) == 0
    res = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    td = spark.read.parquet(out).toPandas().set_index("url")
    assert res["rows"] == 12
    # en: 1..9 -> head 1-3, middle 4-6, tail 7-9 (low ppl = head)
    assert td.loc["u1", "bucket"] == "head" and td.loc["u9", "bucket"] == "tail"
    assert td.loc["u5", "bucket"] == "middle"
    # de tiers among itself despite globally-larger scores
    assert td.loc["v3", "bucket"] == "head"


def test_cli_corpus_neardedup_against_store(spark, tmp_path, capsys):
    """corpus --op neardedup --against <store>: incremental-crawl
    near-dedup — batch 1 seeds the signature store, batch 2's
    near-copy of a batch-1 doc is flagged via the store, and its
    fresh doc is not; rows are kept (flag-only)."""
    import json as _json

    base = ("the quick brown fox jumps over the lazy dog while rain "
            "falls gently on the quiet green hills of the old country")
    b1 = str(tmp_path / "b1")
    spark.createDataFrame(
        [("u1", base), ("u2", "entirely different first-batch content here today")],
        "url string, text string",
    ).write.mode("overwrite").parquet(b1)
    b2 = str(tmp_path / "b2")
    spark.createDataFrame(
        [("u3", base + " extra tail"),   # near-copy of u1
         ("u4", "completely novel second batch document with new words")],
        "url string, text string",
    ).write.mode("overwrite").parquet(b2)

    store = str(tmp_path / "sigstore")
    o1 = str(tmp_path / "o1")
    assert main(["corpus", "--op", "neardedup", "--against", store,
                 "--store-batch-id", "0", "--input", b1, "--output", o1,
                 "--text-col", "text", "--cores", "8"]) == 0
    capsys.readouterr()
    f1 = spark.read.parquet(o1).toPandas().set_index("url")
    assert not f1["near_dup"].any()  # first batch: nothing prior

    # second batch OMITS --store-batch-id: auto-derive max(batch)+1
    # (a fixed default would overwrite batch 0 and skip the probe)
    o2 = str(tmp_path / "o2")
    assert main(["corpus", "--op", "neardedup", "--against", store,
                 "--input", b2, "--output", o2,
                 "--text-col", "text", "--cores", "8"]) == 0
    res = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    f2 = spark.read.parquet(o2).toPandas().set_index("url")
    assert res["rows"] == 2                      # flag-only: rows kept
    assert bool(f2.loc["u3", "near_dup"])        # store hit
    assert not bool(f2.loc["u4", "near_dup"])    # novel doc clean


def test_cli_corpus_repstats_op(spark, tmp_path, capsys):
    """corpus --op repstats: the nine Gopher ladder fractions over a
    real table from the CLI (calibration input for rule thresholds)."""
    import json as _json

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),
         (2, "all fresh words in this one here")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "rep")
    assert main(["corpus", "--op", "repstats", "--input", src, "--output", out,
                 "--id-col", "doc_id", "--text-col", "text", "--cores", "8"]) == 0
    res = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    rp = spark.read.parquet(out).toPandas().set_index("doc_id")
    assert res["rows"] == 2
    assert rp.loc[1, "dup_5gram_char_frac"] == 1.0
    assert rp.loc[2, "top_2gram_char_frac"] == 0.0
    assert {c for c in rp.columns if "gram" in c} == {
        f"top_{n}gram_char_frac" for n in (2, 3, 4)
    } | {f"dup_{n}gram_char_frac" for n in (5, 6, 7, 8, 9, 10)}
