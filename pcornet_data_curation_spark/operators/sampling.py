"""Corpus-shaping operators for training-data pipelines: deterministic
stratified sampling (rebalance over-represented languages/domains) and
token-budget shard packing (group documents into ~N-token training
shards).

Reference analog: the reference's per-stratum denominators and
superpopulation percentages (%n_pct superpop, data_curation_base.sas)
define the SHARES; these operators act on them. Both are pure Column
algebra with exact DuckDB oracles.

Determinism contract: sampling uses a content-independent uniform
u(id) = first 8 bytes of md5(id || ':' || seed) scaled to [0,1) — the
same engine-portable trick as fingerprint_md5 — so a resumed or
re-partitioned run keeps EXACTLY the same rows (no rand(), no
partition-dependent sampling like df.sample at 10^12 scale where input
splits shift between runs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_U_DENOM = float(1 << 32)


def uniform_hash_col(id_col, seed: int = 0):
    """Deterministic uniform in [0,1) from an id: the first 8 hex chars
    of md5(id:seed) as a 32-bit integer / 2^32. Stable across engines
    (md5 is md5 everywhere), runs, and partitionings."""
    h = F.md5(F.concat(id_col.cast("string"), F.lit(f":{seed}")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / F.lit(_U_DENOM)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Keep each row with its stratum's rate, decided by the
    deterministic uniform above — the 'downsample over-represented
    strata' step of corpus curation. rates maps stratum value → keep
    probability; unlisted strata (and NULL) use default_rate.

    Scale: zero shuffles — a literal when-chain over strata (strata
    sets are small: languages, top-level domains) and one hash per
    row, all inside codegen. Filtering happens at the scan when the
    source supports predicate pushdown of the stratum column.
    """
    rate = F.lit(default_rate)
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(float(r))).otherwise(rate)
    return df.where(uniform_hash_col(F.col(id_col), seed) < rate)


def hash_split(
    df: DataFrame,
    splits: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 0,
    col_name: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: the md5(id:seed)
    uniform is compared against the cumulative split boundaries in
    sorted-name order, so every row lands in exactly one split and the
    assignment survives re-partitioning, resume, and engine changes
    (the leakage-free property a training pipeline needs — a doc must
    never migrate between train and eval across runs). splits maps
    name → fraction; fractions must sum to 1 (±1e-9). Zero shuffles —
    one hash + when-chain inside codegen."""
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    bad = {k: v for k, v in splits.items() if not 0.0 < v <= 1.0}
    if bad:
        # {'train': 1.5, 'val': -0.5} sums to 1 but silently empties
        # 'val' — reject out-of-range fractions explicitly
        raise ValueError(f"split fractions must be in (0, 1], got {bad}")
    u = uniform_hash_col(F.col(id_col), seed)
    expr = None
    acc = 0.0
    names = sorted(splits)
    for name in names[:-1]:
        acc += splits[name]
        expr = (
            F.when(u < F.lit(acc), F.lit(name))
            if expr is None
            else expr.when(u < F.lit(acc), F.lit(name))
        )
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn(col_name, expr)


def domain_temperature_sample(
    df: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    seed: int = 0,
) -> DataFrame:
    """Temperature-sampled corpus mixing: keep each document of domain
    d with probability (n_min / n_d)^(1-alpha), so the EXPECTED kept
    count per domain is proportional to n_d^alpha — the temperature-
    sampling law multilingual/multi-source training mixes use (alpha=1
    keeps everything, alpha=0 equalizes all domains to ~n_min docs,
    alpha in between flattens the long-tail-domain skew). Rates are
    anchored at the smallest domain (rate exactly 1.0 there), so the
    transform never tries to keep more than exists.

    Unlike stratified_sample (caller-provided per-stratum rates), the
    rates here are DERIVED from the corpus itself: one tiny
    groupBy(domain) count (domains are bounded — this is the same
    cardinality class as the reference's %n_pct reference-table
    domains), its min taken on the driver-free plan side via a global
    window over the domain-count frame, broadcast back onto the
    corpus as a domain equi-join. The corpus itself never shuffles;
    the keep decision is the engine's standard deterministic
    md5(id:seed) uniform, so a resumed run keeps exactly the same
    rows.

    Returns the input plus (domain_n, keep_rate, keep) — callers
    filter on `keep`; keeping the columns makes the decision auditable
    (the lineage-report convention used across this repo).
    """
    counts = df.groupBy(F.col(domain_col).alias("_dom")).agg(
        F.count(F.lit(1)).alias("domain_n")
    )
    # global min over the (tiny, domain-bounded) counts frame; the
    # empty-frame Window warning class does not apply — this window
    # runs over the aggregated frame, never the corpus
    w = Window.partitionBy()
    rated = counts.select(
        "_dom",
        "domain_n",
        F.pow(
            F.min("domain_n").over(w).cast("double") / F.col("domain_n"),
            F.lit(1.0 - alpha),
        ).alias("keep_rate"),
    )
    u = uniform_hash_col(F.col(id_col), seed)
    return (
        df.join(
            F.broadcast(rated),
            df[domain_col].eqNullSafe(rated["_dom"]),
            "left",
        )
        .drop("_dom")
        .withColumn("keep", u < F.col("keep_rate"))
    )


def domain_cap(
    df: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    cap: int = 100,
    seed: int = 0,
    n_buckets: int = 4096,
) -> DataFrame:
    """Keep at most `cap` documents per domain — the hard per-host
    ceiling crawl curation applies on top of temperature sampling
    (one mega-host must not dominate the corpus even after rate-based
    downsampling). Selection is an exact, deterministic uniform random
    cap: rank documents within a domain by (md5-uniform(id:seed), id)
    and keep rank <= cap — partitioning-invariant, resume-stable, and
    engine-portable (the oracle replays the identical ordering).

    Returns the input + (domain_n, keep).

    Scale shape — the naive plan (row_number over
    Window.partitionBy(domain)) concentrates each domain on ONE
    executor and sorts it; a bulk 'web' domain holding 80% of a 100 TB
    corpus is a single-task straggler. Instead, distributed selection
    by histogram: the uniform hash is pre-bucketed into `n_buckets`
    prefix buckets (bucket order = hash order, so per-bucket ranks
    compose into the global ranking), ONE tiny groupBy(domain, bucket)
    count builds the histogram, a running sum over that aggregated
    frame (<= n_buckets rows per domain) yields each bucket's starting
    global rank, and the decision is a single window over
    (domain, BUCKET) partitions — each ~n_d/n_buckets rows, so the hot
    domain spreads across n_buckets tasks instead of one:

        keep = cum_before(domain, bucket) + rank_in_bucket <= cap

    One corpus scan, one histogram equi-join (AQE broadcasts it when
    domains are bounded), one keyed shuffle+sort on the well-spread
    (domain, bucket) key. Size n_buckets >= n_d_max / target partition
    rows; the histogram stays tiny (distinct (domain, bucket) pairs
    actually present)."""
    u = uniform_hash_col(F.col(id_col), seed)
    # exact: u = x/2^32 with x < 2^32, so u*n_buckets = x/2^(32-log2 n)
    # is dyadic and floor() is exact in double precision
    tagged = df.withColumn("_u", u).withColumn(
        "_bkt", F.floor(F.col("_u") * n_buckets).cast("int")
    )
    hist = tagged.groupBy(
        F.col(domain_col).alias("_dom"), F.col("_bkt").alias("_hb")
    ).agg(F.count(F.lit(1)).alias("_n"))
    wb = Window.partitionBy("_dom").orderBy("_hb")
    dec = hist.select(
        "_dom",
        "_hb",
        (F.sum("_n").over(wb) - F.col("_n")).alias("_cum_before"),
        F.sum("_n").over(
            Window.partitionBy("_dom").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("domain_n"),
    )
    j = tagged.join(
        dec,
        tagged[domain_col].eqNullSafe(dec["_dom"]) & (tagged["_bkt"] == dec["_hb"]),
    ).drop("_dom", "_hb")
    wq = Window.partitionBy(domain_col, "_bkt").orderBy("_u", id_col)
    return j.withColumn(
        "keep", (F.col("_cum_before") + F.row_number().over(wq)) <= cap
    ).drop("_u", "_bkt", "_cum_before")


def pack_token_shards(
    df: DataFrame,
    tokens_col: str,
    target_tokens: int,
    part_col: str,
    order_col: str = "doc_id",
) -> DataFrame:
    """Assign each document to a training shard of ~target_tokens,
    packing greedily in (part_col, order_col) order: shard boundaries
    fall where the running token total crosses a multiple of the
    target (shard_id = floor(cumulative_tokens_before_doc / target)).
    A document straddling a boundary stays in the earlier shard, so
    shards overshoot by at most one document — the standard
    sequence-packing approximation.

    Scale: ONE window partitioned by part_col (source/domain/date
    bucket) — the running sum is per-partition, so no global sort and
    no single-task bottleneck as long as part_col is reasonably
    bounded (the url-hash bucket of the curation pipeline is
    the natural choice at 10^12 docs). Shard ids are therefore
    (part, local_shard) pairs, not globally dense — global density
    would force a total order over the corpus.
    """
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(tokens_col).cast("long")).over(w)
    before = cum - F.col(tokens_col).cast("long")
    return df.withColumn(
        "shard_id", F.floor(before / F.lit(float(target_tokens))).cast("long")
    ).withColumn("shard_tokens_before", before)
