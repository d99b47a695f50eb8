"""spark-submit-able entry point — the analog of the reference's
user-edited run programs (sasprograms/01-04_run_*.sas): one command per
lifecycle stage, parameters on the command line instead of edited into
the source.

    spark-submit --master <cluster> --py-files pcornet_data_curation_spark.zip \
        run_cli.py run \
        --input /data/pages --output /data/curation_run_42 \
        --run-date 2026-01-01 --buckets 1024

spark-submit has no -m: `run_cli.py` is the driver file that
tools/build_pyfiles.py documents (import `main` from this module, exit
with its return value).

Local usage (tests / this sandbox):

    python -m pcornet_data_curation_spark run --input ... --output ...
    python -m pcornet_data_curation_spark resume --input ... --output ...
    python -m pcornet_data_curation_spark gen-pages --n 10000 --output ...
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import sys

_CORES_HELP = "run in local[N]; omit under spark-submit"


def _add_run_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--input", required=True, help="pages table (parquet dir / table: / iceberg: ref)")
    p.add_argument("--output", required=True, help="run output root")
    p.add_argument("--run-date", default="2026-01-01", help="deterministic 'today' (YYYY-MM-DD)")
    p.add_argument("--lookback-years", type=int, default=10)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--cores", type=int, default=None, help=_CORES_HELP)
    p.add_argument("--rule-overrides", default=None, help="JSON dict of rule overrides")
    p.add_argument(
        "--csv",
        action="store_true",
        help="also export every report as CSV under <output>/csv/ "
        "(the reference's &_csv=YES print-stage gate)",
    )
    p.add_argument(
        "--prior",
        default=None,
        help="prior run's output root: enables distribution-shift and "
        "threshold-trend checks against its metrics table",
    )
    p.add_argument(
        "--dedup",
        choices=["off", "flag", "drop"],
        default="off",
        help="global dedup stage: flag records content duplicates, "
        "drop also removes them from keep (survivor = min url per "
        "group); off preserves per-url verdict parity",
    )
    p.add_argument(
        "--dedup-method",
        choices=["exact", "near"],
        default="exact",
        help="duplicate grouping: exact content fingerprint, or "
        "MinHash-LSH near-duplicate components",
    )
    p.add_argument(
        "--near-threshold",
        type=float,
        default=0.8,
        help="estimated-jaccard threshold for --dedup-method near",
    )
    p.add_argument(
        "--extract-missing-text",
        action="store_true",
        help="derive text from html (regex extraction chain) for rows "
        "whose text column is NULL but html is present",
    )
    p.add_argument(
        "--respect-noindex",
        action="store_true",
        help="drop pages whose html carries a robots noindex/none meta "
        "directive, before any payload processing",
    )
    p.add_argument(
        "--fix-mojibake",
        action="store_true",
        help="repair one round of cp1252 mojibake in the text column "
        "before dedup/scoring (fixed literal-replace table)",
    )
    p.add_argument(
        "--remove-boilerplate",
        action="store_true",
        help="drop jusText-style boilerplate lines (nav/legal markers, "
        "low stopword density) from the text before dedup/scoring",
    )
    p.add_argument(
        "--url-blocklist",
        default=None,
        help="newline-delimited domain blocklist file: enables the "
        "URL-level pre-filter (blocked/subdomain hosts, keyword, "
        "IP-literal, length, query-param heuristics) that drops pages "
        "BEFORE curation",
    )


def _check(output: str) -> int:
    """The `check` command: pyarrow and json only, no Spark session. The
    manifest is read as `run` reads it, so a store of another format or
    a corrupt manifest raises a ValueError naming the file."""
    import os
    import time

    import pyarrow.parquet as pq

    from pcornet_data_curation_spark.operators.checks import (
        DEFAULT_CHECKS,
        evaluate_checks,
    )
    from pcornet_data_curation_spark.operators.drift import staleness_rows
    from pcornet_data_curation_spark.operators.normalize import METRICS_SCHEMA
    from pcornet_data_curation_spark.plans.checkpoint import Manifest

    manifest = Manifest.load(output)
    cols = METRICS_SCHEMA.names
    stored = pq.read_table(os.path.join(output, "metrics"), columns=cols)
    # replace the run-time staleness rows (age_sec ≈ 0 by
    # construction: the run had just re-marked every report) with
    # rows computed from the live manifest NOW — the only way the
    # 7-day-old-store check can observe a left-behind store
    metrics = [
        tuple(r[c] for c in cols)
        for r in stored.to_pylist()
        if r["dc_name"] != "report_staleness"
    ] + staleness_rows(manifest.data, time.time())
    # one row per check, deterministically: a check firing for
    # several categories (e.g. 12.02 per report) reports its WORST
    # observed value
    worst: dict[tuple, float] = {}
    for r in evaluate_checks(metrics, DEFAULT_CHECKS):
        if r[8]:
            key = (r[0], r[2], r[9])
            worst[key] = max(worst.get(key, r[7]), r[7])
    fired = [
        {"check_id": c, "description": d, "severity": s, "observed": o}
        for (c, d, s), o in sorted(worst.items())
    ]
    print(
        json.dumps(
            {
                "store": output,
                "checks_evaluated": len(DEFAULT_CHECKS),
                "exceptions_n": len(fired),
                "exceptions": fired,
            }
        )
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pcornet_data_curation_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name in ("run", "resume"):
        _add_run_args(sub.add_parser(name, help=f"{name} a curation run"))
    g = sub.add_parser("gen-pages", help="write the deterministic synthetic pages table")
    g.add_argument("--n", type=int, required=True)
    g.add_argument("--output", required=True)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--partitions", type=int, default=64)
    g.add_argument("--cores", type=int, default=None, help=_CORES_HELP)
    q = sub.add_parser(
        "queries",
        help="run a registry query group (the reference's part1/part2 split, "
        "sasprograms/02_run_queries.sas:80-81)",
    )
    q.add_argument("--sf-dir", required=True, help="parquet table dir (sfN testdata layout)")
    q.add_argument("--part", default="all", choices=["part1", "part2", "all"])
    q.add_argument("--queries", default=None, help="comma-separated explicit query names")
    q.add_argument("--output", default=None, help="write each result to <output>/<name> (default: noop sink)")
    q.add_argument("--cores", type=int, default=None, help=_CORES_HELP)
    c = sub.add_parser(
        "corpus",
        help="training-corpus shaping over a curated table: deterministic "
        "stratified downsampling, train/val/test splitting, token-shard "
        "packing (each a zero-or-one-shuffle column transform)",
    )
    c.add_argument("--input", required=True, help="curated table (parquet dir / table: ref)")
    c.add_argument("--output", required=True, help="output parquet dir")
    c.add_argument(
        "--op", required=True,
        choices=[
            "sample", "split", "pack", "dedup", "neardedup",
            "decontaminate", "sentdedup", "tier", "repstats",
        ],
    )
    c.add_argument("--id-col", default="url")
    c.add_argument("--seed", type=int, default=0)
    c.add_argument(
        "--text-col", default="scrubbed_text",
        help="dedup/neardedup/decontaminate: content column "
        "(curated tables carry scrubbed_text)",
    )
    c.add_argument(
        "--near-threshold", type=float, default=0.8,
        help="neardedup: estimated-jaccard threshold",
    )
    c.add_argument(
        "--against", default=None,
        help="neardedup: MinHash signature-store path (incremental "
        "crawl mode — flag new docs against every prior batch's "
        "survivors AND within this batch, then append this batch's "
        "survivor signatures to the store; output keeps all rows with "
        "a near_dup flag instead of dropping)",
    )
    c.add_argument(
        "--store-batch-id", type=int, default=None,
        help="neardedup --against: batch partition id to write. Omit "
        "to auto-derive max(stored batch)+1 (0 for a new store) — a "
        "fixed default would silently OVERWRITE an existing batch "
        "partition and skip its signatures in the probe. Pass an "
        "explicit id only to replay that batch idempotently.",
    )
    c.add_argument(
        "--bench", default=None,
        help="decontaminate: benchmark/eval table (parquet dir / table: ref)",
    )
    c.add_argument("--bench-text-col", default="text")
    c.add_argument(
        "--decontam-mode", choices=["flag", "remove"], default="flag",
        help="decontaminate: flag contaminated docs, or remove the "
        "leaked spans and keep the rest",
    )
    c.add_argument(
        "--decontam-k", type=int, default=13,
        help="decontaminate: collision word-k-gram size (GPT-3/Llama "
        "convention: 13)",
    )
    c.add_argument(
        "--sent-window", type=int, default=3,
        help="sentdedup: span width in sentences (C4 convention: 3)",
    )
    c.add_argument(
        "--tier-score-col", default="ppl",
        help="tier: score column (curated tables carry ppl; CCNet "
        "orientation — LOWER score tiers as head)",
    )
    c.add_argument(
        "--tier-group-col", default="lang_pred",
        help="tier: per-group tiering column ('' = global terciles)",
    )
    c.add_argument(
        "--tier-exact", action="store_true",
        help="tier: exact percentile thresholds instead of the "
        "bounded-state approx sketch (web-scale default)",
    )
    c.add_argument("--strata-col", default="lang_pred", help="sample: stratum column")
    c.add_argument("--rates", default="{}", help="sample: JSON {stratum: keep_rate}")
    c.add_argument("--default-rate", type=float, default=1.0)
    c.add_argument("--splits", default='{"train":0.9,"val":0.05,"test":0.05}',
                   help="split: JSON {name: fraction} summing to 1")
    c.add_argument("--tokens-col", default="n_tokens", help="pack: token-count column")
    c.add_argument("--target-tokens", type=int, default=1_000_000)
    c.add_argument("--part-col", default="bucket", help="pack: shard-partition column")
    c.add_argument("--cores", type=int, default=None, help=_CORES_HELP)
    k = sub.add_parser(
        "check",
        help="standalone data-check evaluation over an EXISTING run store: "
        "recompute report staleness from the live manifest at invocation "
        "time and re-run the full check registry against the stored "
        "metrics. This is the frame of reference where check 12.02 "
        "('report older than 7 days') is meaningful — an in-run "
        "evaluation always sees reports the run itself just refreshed, "
        "and a left-behind store never writes a new metrics row at all.",
    )
    k.add_argument("--output", required=True, help="existing run output root")
    args = ap.parse_args(argv)
    if args.cmd == "check":
        return _check(args.output)

    from pcornet_data_curation_spark.session import get_spark

    spark = get_spark(app_name=f"pdcs-{args.cmd}", cores=args.cores)

    if args.cmd == "gen-pages":
        from pcornet_data_curation_spark.datagen.pages import pages_df

        pages_df(spark, args.n, seed=args.seed, partitions=args.partitions).write.mode(
            "overwrite"
        ).parquet(args.output)
        print(json.dumps({"written": args.output, "rows": args.n}))
        return 0

    if args.cmd == "queries":
        import os

        from pcornet_data_curation_spark.queries import QUERY_GROUPS, queries

        qs = queries()
        if args.queries:
            names = [n.strip() for n in args.queries.split(",") if n.strip()]
            unknown = [n for n in names if n not in qs]
            if unknown:
                raise SystemExit(f"unknown queries: {unknown}")
        elif args.part == "all":
            names = list(qs)
        else:
            names = list(QUERY_GROUPS[args.part])
        counts = {}
        for name in names:
            df = qs[name](spark, args.sf_dir)
            if args.output:
                path = os.path.join(args.output, name)
                df.write.mode("overwrite").parquet(path)
                counts[name] = spark.read.parquet(path).count()
            else:
                counts[name] = df.count()
        print(json.dumps({"part": args.part, "queries_run": len(names), "rows": counts}))
        return 0

    if args.cmd == "corpus":
        from pcornet_data_curation_spark.operators.sampling import (
            hash_split,
            pack_token_shards,
            stratified_sample,
        )
        from pcornet_data_curation_spark.sources import open_table

        df = open_table(spark, args.input)
        if args.op == "sample":
            out = stratified_sample(
                df, args.strata_col, json.loads(args.rates),
                default_rate=args.default_rate, id_col=args.id_col, seed=args.seed,
            )
        elif args.op == "split":
            out = hash_split(
                df, json.loads(args.splits), id_col=args.id_col, seed=args.seed
            )
        elif args.op == "dedup":
            from pcornet_data_curation_spark.operators.dedup import exact_dedup

            out = exact_dedup(df, text_col=args.text_col, id_col=args.id_col)
        elif args.op == "neardedup":
            if args.against:
                # incremental-crawl mode: the stream micro-batch core is
                # batch-generic (batch in, store probe, store append)
                from pcornet_data_curation_spark.streaming.neardup_stream import (
                    next_batch_id,
                    stream_neardup_flag_batch,
                )

                bid = args.store_batch_id
                if bid is None:
                    bid = next_batch_id(spark, args.against)
                out = stream_neardup_flag_batch(
                    df, bid, args.against,
                    text_col=args.text_col, id_col=args.id_col,
                    threshold=args.near_threshold,
                )
            else:
                from pcornet_data_curation_spark.operators.dedup import (
                    near_dedup_survivors,
                )

                out = near_dedup_survivors(
                    df, text_col=args.text_col, id_col=args.id_col,
                    threshold=args.near_threshold,
                )
        elif args.op == "decontaminate":
            if not args.bench:
                raise SystemExit("--op decontaminate requires --bench")
            from pcornet_data_curation_spark.operators.decontam import (
                contamination_flags,
                decontaminate_remove,
            )

            fn = (
                decontaminate_remove
                if args.decontam_mode == "remove"
                else contamination_flags
            )
            out = fn(
                df, open_table(spark, args.bench), k=args.decontam_k,
                text_col=args.text_col, id_col=args.id_col,
                bench_text_col=args.bench_text_col,
            )
        elif args.op == "sentdedup":
            from pcornet_data_curation_spark.operators.c4 import c4_sentence_dedup

            out = c4_sentence_dedup(
                df, text_col=args.text_col, id_col=args.id_col,
                window=args.sent_window,
            )
        elif args.op == "tier":
            from pcornet_data_curation_spark.operators.quality_buckets import (
                score_buckets,
            )

            out = score_buckets(
                df, args.tier_score_col,
                group_col=args.tier_group_col or None,
                exact=args.tier_exact,
            )
        elif args.op == "repstats":
            # Gopher repetition-threshold calibration table: the nine
            # ladder fractions per doc, to be profiled (percentiles per
            # lang/domain) before choosing rule thresholds
            from pcornet_data_curation_spark.operators.repetition import (
                gopher_repetition,
            )

            out = gopher_repetition(
                df, text_col=args.text_col, id_col=args.id_col
            )
        else:
            out = pack_token_shards(
                df, tokens_col=args.tokens_col,
                target_tokens=args.target_tokens, part_col=args.part_col,
                order_col=args.id_col,
            )
        out.write.mode("overwrite").parquet(args.output)
        # release operator-attached caches (neardedup --against persists
        # its signature frame for the store append; no-op otherwise)
        from pcornet_data_curation_spark.operators.dedup import unpersist_deps

        unpersist_deps(out)
        n = spark.read.parquet(args.output).count()
        print(json.dumps({"op": args.op, "written": args.output, "rows": n}))
        return 0

    # run / resume share the same path: run_pipeline consults the
    # manifest, so 'resume' is just 'run' against an existing output
    # root (kept as a separate verb for operator clarity, like the
    # reference's part1/part2 reruns)
    from pcornet_data_curation_spark.config import PipelineConfig
    from pcornet_data_curation_spark.plans.pipeline import run_pipeline
    from pcornet_data_curation_spark.sources import open_table

    cfg = PipelineConfig(
        run_date=dt.date.fromisoformat(args.run_date),
        lookback_years=args.lookback_years,
        n_buckets=args.buckets,
        rule_overrides=json.loads(args.rule_overrides) if args.rule_overrides else {},
        output_root=args.output,
        prior_run_root=args.prior,
        export_csv=args.csv,
        dedup=args.dedup,
        dedup_method=args.dedup_method,
        near_threshold=args.near_threshold,
        url_blocklist=args.url_blocklist,
        extract_missing_text=args.extract_missing_text,
        respect_noindex=args.respect_noindex,
        fix_mojibake=args.fix_mojibake,
        remove_boilerplate=args.remove_boilerplate,
    )
    result = run_pipeline(spark, open_table(spark, args.input), cfg)
    print(json.dumps({"outputs": {k: v for k, v in result.items() if k != "stats"},
                      "stats": result["stats"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
