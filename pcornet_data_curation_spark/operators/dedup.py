"""Deduplication operators over a documents table.

A first-class capability for training-data pipelines (driver brief):

* exact_dedup          — hash-groupBy, deterministic survivor
* minhash_lsh_pairs    — shingle → MinHash → band → bucket-join → verify
* simhash_pairs        — 64-bit SimHash, banded hamming candidates
* ngram_jaccard_pairs  — exact shingle-set jaccard via explode + self-join
                         (fully SQL-expressible → DuckDB oracle)
* embedding_dup_pairs  — cosine near-dup over array<float> embeddings
                         (JVM zip_with/aggregate dot product, no UDF)

Scale notes: every pairing operator goes through a *bucket* equi-join
(band hash, simhash band, LSH bucket) so the shuffle carries
(bucket, id, payload) rows and candidate generation is linear-ish, not
the O(n²) cross join; the exact-verify step runs only on candidates.
Signatures come from one vectorized pandas-UDF pass (Arrow batches).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from pcornet_data_curation_spark.functions import hashing as H

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def content_fp_col(text_col: str = "text") -> Column:
    """Exact-dedup fingerprint: xxhash64 of the whitespace/case
    normalized text, NULL text hashed as ''. The batch stage
    (pipeline.with_exact_dup_flag) and the stream's cross-batch
    fingerprint store (streaming.curate_stream) both key on it, so the
    two agree on what a duplicate is."""
    ws = "[ \\t\\n\\r\\f\\x0B]+"
    return F.xxhash64(
        F.lower(F.trim(F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")), ws, " ")))
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct text (lowest id survives — deterministic).
    groupBy on xxhash64(text) + min(id), then a semi-join back: the
    shuffle carries (hash, id), never the text payload twice."""
    h = F.xxhash64(F.col(text_col)).alias("_h")
    survivors = (
        df.select(h, F.col(id_col))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(survivors, id_col, "left_semi")


def duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(text_hash, n_docs, min_id) for texts occurring more than once —
    the reference's non-unique-key detection shape
    (data_curation_tables.sas:2659-2726)."""
    return (
        df.select(F.xxhash64(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("min_id"))
        .where(F.col("n_docs") > 1)
    )


def dedup_against_snapshot(
    batch: DataFrame,
    snapshot: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-crawl exact dedup: flag every `batch` document whose
    text already exists in a prior `snapshot` corpus, plus the standard
    within-batch duplicate flag — the recrawl stage of a continuously
    curated corpus (the overwhelming majority of a fresh crawl is
    pages unchanged since the last one; they must be dropped against
    the SNAPSHOT, not only against each other). Reference analog: the
    incremental append accumulation + nodupkey pair
    (data_curation_base.sas) lifted to cross-run granularity.

    Returns `batch` + three columns:
      in_snapshot  — text present in the snapshot,
      dup_in_batch — a smaller-id row with the same text exists in the
                     batch (independent of snapshot membership, so the
                     two signals stay auditable separately),
      keep         — ~in_snapshot & ~dup_in_batch (first occurrence of
                     genuinely new content).

    Scale shape: the snapshot reduces to DISTINCT 8-byte xxhash64
    fingerprints BEFORE the join (ids-only; a 100 TB snapshot becomes
    ~8 bytes x distinct docs, and a stored fingerprint table can feed
    this directly). All flag computation runs over (fp, id) 16-byte
    rows — the dedup family's ids-only discipline — collapsing to ONE
    flag row per id (flags OR over same-id copies; NULL ids form
    their own group), and the batch PAYLOAD left-joins that frame
    once via a null-safe id match: row-count out == row-count in
    always, and a hot fingerprint (empty pages, boilerplate) can
    never concentrate payload rows on one task, because payload never
    partitions by fp at all. AQE broadcasts the snapshot-fp and flag
    frames when small.
    The trade: the text column is read twice (once pruned-to-hash,
    once in the payload join) — a column-pruned parquet re-scan,
    cheaper than shuffling payload on a skewed key. Hash collisions:
    xxhash64 is 64-bit — at 10^10 docs the collision expectation is
    ~10^-9 of pairs, the same accepted trade as exact_dedup/
    duplicate_groups. NULL text participates as the empty string (the
    pipeline's NULL-as-empty convention — a NULL fp would silently
    fall out of the equi-joins)."""
    fpc = F.xxhash64(F.coalesce(F.col(text_col), F.lit("")))
    snap_fps = (
        snapshot.select(fpc.alias("_fp")).distinct().withColumn("_in_snap", F.lit(True))
    )
    ids = batch.select(F.col(id_col).alias("_bid"), fpc.alias("_fp"))
    survivors = ids.groupBy("_fp").agg(F.min("_bid").alias("_min_id"))
    # one flag row PER ID (max = OR over same-id copies) so the payload
    # join below can never multiply rows; NULL ids form their own group
    # and match back via eqNullSafe — row-count out == row-count in,
    # always. A NULL id has no orderable within-batch survivor, so its
    # dup_in_batch is False (the exact_dedup null-key discipline:
    # don't dedup among unidentifiable rows, surface them to checks);
    # its in_snapshot flag is fp-based and stays fully valid.
    flags = (
        ids.join(snap_fps, "_fp", "left")
        .join(survivors, "_fp")
        .select(
            "_bid",
            F.coalesce(F.col("_in_snap"), F.lit(False)).alias("in_snapshot"),
            F.coalesce(F.col("_bid") != F.col("_min_id"), F.lit(False)).alias(
                "dup_in_batch"
            ),
        )
        .groupBy("_bid")
        .agg(
            F.max("in_snapshot").alias("in_snapshot"),
            F.max("dup_in_batch").alias("dup_in_batch"),
        )
    )
    return (
        batch.join(flags, F.col(id_col).eqNullSafe(F.col("_bid")), "left")
        .drop("_bid")
        .withColumn("keep", ~F.col("in_snapshot") & ~F.col("dup_in_batch"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def with_minhash(
    df: DataFrame, text_col: str = "text", num_perm: int = 64, k: int = 3, seed: int = 42
) -> DataFrame:
    @pandas_udf(T.ArrayType(T.LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: H.minhash_signature(t, num_perm=num_perm, k=k, seed=seed))

    # asNondeterministic: minhash_lsh_pairs filters on minhash[0] (the
    # empty-doc sentinel), and the optimizer duplicates a deterministic
    # UDF around a pushed-down filter — TWO ArrowEvalPython nodes, the
    # whole signature pass paid twice (guide §4.4; plan-verified). The
    # function is in fact deterministic; the flag only forbids Catalyst
    # from re-evaluating it.
    return df.withColumn("minhash", _sig.asNondeterministic()(F.col(text_col)))


def signature_rows(
    df: DataFrame, text_col: str, id_col: str, num_perm: int, k: int, seed: int
) -> DataFrame:
    """(_id, minhash) rows of the docs that can be near-dup candidates.

    Docs with NO word k-shingles (empty/short text) carry the all-MAX
    sentinel signature — without this filter every such doc would band
    with every other one at est_jaccard 1.0 and unrelated short docs
    would collapse into one duplicate component. Real values are mod
    MINHASH_P (< P), so element 0 == P detects the sentinel exactly;
    shingle-less docs are simply never near-dup candidates."""
    sigged = with_minhash(df, text_col, num_perm, k, seed).select(
        F.col(id_col).alias("_id"), "minhash"
    )
    return sigged.where(F.col("minhash")[0] != F.lit(H.MINHASH_P))


def band_rows(sigged: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(_id, band, bhash) ids-only banding rows: each of `bands` slices
    of num_perm/bands signature values hashed to one long.

    The band join shuffles these 24-byte rows, NOT the num_perm-long
    signature ×bands×2 sides (512 bytes riding the shuffle 32× per doc
    in the old shape). Signatures rejoin once per SURVIVING candidate
    pair, mirroring the set-size rejoin in ngram_jaccard_pairs below."""
    rows_per_band = num_perm // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.col("minhash")[b * rows_per_band + r].cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bhash"),
            )
            for b in range(bands)
        ]
    )
    return sigged.select("_id", F.explode(band_structs).alias("bs")).select(
        "_id", F.col("bs.band").alias("band"), F.col("bs.bhash").alias("bhash")
    )


def est_jaccard(a: str, b: str, num_perm: int) -> Column:
    """Estimated jaccard of two signature columns: the fraction of
    matching minhash values."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(float(num_perm))


def verified_band_pairs(
    sigged: DataFrame, banded: DataFrame, num_perm: int, threshold: float
) -> DataFrame:
    """Near-duplicate pairs among `sigged`'s docs, with columns id_a,
    id_b, sig_a, sig_b and est_jaccard: the ids-only band self-join of
    `banded` (= `band_rows(sigged, ...)`, id_a < id_b), distinct pairs,
    both signatures rejoined from `sigged` (so callers persist it),
    est_jaccard ≥ threshold. `minhash_lsh_pairs` and the streaming
    near-dedup's within-batch pairs both use it."""
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bhash") == F.col("r.bhash"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .join(
            sigged.select(F.col("_id").alias("id_a"), F.col("minhash").alias("sig_a")),
            "id_a",
        )
        .join(
            sigged.select(F.col("_id").alias("id_b"), F.col("minhash").alias("sig_b")),
            "id_b",
        )
        .withColumn("est_jaccard", est_jaccard("sig_a", "sig_b", num_perm))
        .where(F.col("est_jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, est_jaccard ≥ threshold).

    signature → slice into `bands` rows of num_perm/bands values →
    hash each band → equi-join on (band_idx, band_hash) → distinct
    candidate pairs → estimate jaccard as matching-minhash fraction.

    Cache lifecycle: the signature frame is persisted (it is read three
    times — band hashing + the two candidate rejoins) and attached to
    the returned DataFrame as ``result._persisted_deps``; callers
    running many dedup passes in one long-lived session should call
    ``unpersist_deps(result)`` once the pairs are materialized
    (near_dedup_survivors does). At real scale you'd checkpoint/write
    the signature table out instead.
    """
    sigged = signature_rows(df, text_col, id_col, num_perm, k, seed).persist()
    out = verified_band_pairs(sigged, band_rows(sigged, num_perm, bands), num_perm, threshold)
    out = out.select("id_a", "id_b", F.round("est_jaccard", 4).alias("est_jaccard"))
    out._persisted_deps = [sigged]  # see docstring: caller-controlled unpersist
    return out


def carry_deps(src: DataFrame, dst: DataFrame) -> DataFrame:
    """Propagate ``_persisted_deps`` through a derived frame:
    ``df.select(...)`` constructs a NEW Python object, silently
    dropping the attribute — a caller that then calls unpersist_deps
    on the projection releases nothing. Wrap the final projection:
    ``return carry_deps(res, res.select(...))``."""
    dst._persisted_deps = getattr(src, "_persisted_deps", [])
    return dst


def unpersist_deps(df: DataFrame) -> None:
    """Release caches a pairing operator persisted for its own
    multi-read plan (attached as ``df._persisted_deps``). Call after
    the pairs are materialized; a later lineage recompute (e.g. cache
    eviction) stays correct, just slower. No-op for frames without
    attached deps."""
    for dep in getattr(df, "_persisted_deps", []):
        dep.unpersist()


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    def _to_signed(u: int) -> int:
        # two's-complement view of the uint64 for LongType storage
        return u - (1 << 64) if u >= (1 << 63) else u

    @pandas_udf(T.LongType())
    def _sim(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _to_signed(H.simhash64(t)))

    # asNondeterministic for the same reason as with_minhash: callers
    # filter on the signature column and the optimizer would otherwise
    # evaluate the UDF twice around the pushed filter (guide §4.4)
    return df.withColumn("simhash", _sim.asNondeterministic()(F.col(text_col)))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Candidate pairs by banded simhash (pigeonhole: ≤max_hamming bit
    flips leave ≥1 of n_bands 16-bit bands identical), verified with an
    exact popcount on the JVM (bit_count).

    ids-only banding (same shape as minhash_lsh_pairs): the band
    self-join shuffles (band, bkey, _id) rows only — the 8-byte
    simhash does NOT ride the explode ×n_bands×2 sides; it rejoins
    once per surviving candidate from the persisted (id, simhash)
    frame (attached as ``result._persisted_deps``; see
    unpersist_deps)."""
    # docs with no tokens (NULL/whitespace-only text) all hash to the 0
    # sentinel and would pair with each other at hamming 0; exclude
    # them the same way minhash_lsh_pairs drops sentinel signatures
    # (trim-normalized emptiness ⟺ tokenize() returns no tokens; the
    # shared WS class keeps that equivalence byte-identical)
    from pcornet_data_curation_spark.operators.textanalysis import WS as _WS

    has_tokens = F.col(text_col).isNotNull() & (
        F.trim(F.regexp_replace(F.col(text_col), _WS, " ")) != ""
    )
    hashed = (
        with_simhash(df.where(has_tokens), text_col)
        .select(F.col(id_col).alias("_id"), "simhash")
    )
    hashed = hashed.persist()  # pandas-UDF pass runs once (banding + rejoins)
    bits_per_band = 64 // n_bands
    banded = hashed.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), b * bits_per_band)
                        .bitwiseAND(F.lit((1 << bits_per_band) - 1))
                        .alias("bkey"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("_id", F.col("bs.band").alias("band"), F.col("bs.bkey").alias("bkey"))
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .join(
            hashed.select(F.col("_id").alias("id_a"), F.col("simhash").alias("h_a")),
            "id_a",
        )
        .join(
            hashed.select(F.col("_id").alias("id_b"), F.col("simhash").alias("h_b")),
            "id_b",
        )
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    out = (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    out._persisted_deps = [hashed]
    return out


# ---------------------------------------------------------------------------
# connected components over near-dup pairs → canonical survivors
# ---------------------------------------------------------------------------


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al. 2014, 'Connected
    Components in MapReduce and Beyond'): every node connects its
    strictly-LARGER neighbors to the minimum of its closed
    neighborhood. One symmetrize + one groupBy(min) + one equi-join."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).dropDuplicates()
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient every edge (larger → smaller);
    every node connects its smaller-or-equal neighbors AND itself to
    the minimum of that down-neighborhood."""
    oriented = (
        edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates()
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    joined = oriented.join(mins, "u")
    out = joined.select(F.col("v").alias("u"), F.col("m").alias("v")).unionByName(
        joined.select("u", F.col("m").alias("v")).dropDuplicates()
    )
    return out.where(F.col("u") != F.col("v")).dropDuplicates()


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    local_finish_edges: int = 500_000,
) -> DataFrame:
    """(node, component) labeling of the undirected near-dup graph —
    component = min node id reachable.

    Large-star/small-star alternation (Kiveris et al. 2014): each
    round rewires the edge set toward a star per component, converging
    in O(log n) alternations on ANY graph — including the adversarial
    10⁶-hop chain that cost the previous min-label-propagation
    implementation one shuffle per hop. Each alternation is a constant
    number of keyed shuffles over the (shrinking) edge list; no graph
    data ever reaches the driver (the loop checks one scalar
    changed-count per round). If max_iter alternations pass without a
    fixpoint the function RAISES rather than returning silently
    under-merged components.
    """
    # materialize the PAIRING PIPELINE exactly once: edges, the node
    # universe, and the initial count all derive from `base` — without
    # this the uncached MinHash/banding plan re-executed once per
    # consumer (edges checkpoint + nodes checkpoint = 2 extra full
    # pairing passes, measured ~6 s of the 14 s dup_cluster_stats at
    # sf1.0). The labeling stays self-contained for the same reason as
    # before: both callers release the pairing operator's caches
    # (unpersist_deps) right after this function returns.
    base = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")).localCheckpoint()
    edges = (
        base.where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))
        .dropDuplicates()
    )
    # node universe from the ORIGINAL pairs (self-pairs and isolated
    # nodes must still get a (node, node) label row)
    nodes = (
        base.select(F.col("u").alias("node"))
        .unionByName(base.select(F.col("v").alias("node")))
        .where(F.col("node").isNotNull())
        .distinct()
    )
    # localCheckpoint, not cache: it materializes AND truncates the
    # logical plan, so lineage stays O(1) per round instead of nesting
    # every previous round (a deep iterative plan blows up planning and
    # re-derives the whole loop in any downstream consumer's DAG).
    edges = edges.localCheckpoint()
    n_edges = edges.count()
    # Bounded local finish: each star alternation costs a fixed 3-5
    # Spark jobs (checkpoint materialization + convergence counts) —
    # ~0.3-0.4 s of pure scheduling per round at any data size. Once
    # the deduped edge list fits the threshold (default 500k pairs =
    # ~8 MB of ids, the same bounded-driver-materialization discipline
    # as the IVF fit sample), a driver-side min-root union-find
    # resolves the remaining labels in ONE collect: component = min
    # reachable id, exactly the star fixpoint's labeling, and
    # order-independent (min-root union + full find at the end ⇒ every
    # node maps to its component minimum regardless of edge order —
    # pinned by test vs the distributed path). At real scale the loop
    # runs distributed until the edge list has shrunk below the
    # threshold; at bench scale it short-circuits immediately
    # (measured: CC over 820 pairs 1.8 s → ~0.3 s).
    if n_edges <= local_finish_edges:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for a, b in edges.collect():
            ra, rb = find(a), find(b)
            if ra == rb:
                continue
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
        node_t = pairs.schema[id_a].dataType.simpleString()
        # pandas → Arrow path: an order of magnitude faster than a
        # list-of-tuples createDataFrame at the threshold-sized end
        lab_pdf = pd.DataFrame(
            {"node": list(parent), "component": [find(x) for x in parent]}
        )
        labels = pairs.sparkSession.createDataFrame(
            lab_pdf, f"node {node_t}, component {node_t}"
        ).where(F.col("node") != F.col("component"))
        roots = nodes.join(labels, "node", "left_anti").withColumn(
            "component", F.col("node")
        )
        return labels.unionByName(roots)
    converged = False
    for _ in range(max_iter):
        new_edges = _small_star(_large_star(edges)).localCheckpoint()
        n_new = new_edges.count()
        # set-equality fixpoint check: both frames are deduped, so
        # equal counts + empty one-sided difference ⇒ identical sets
        if n_new == n_edges and new_edges.exceptAll(edges).count() == 0:
            edges = new_edges
            converged = True
            break
        edges, n_edges = new_edges, n_new
    if not converged:
        raise RuntimeError(
            f"connected_components did not reach a star fixpoint in "
            f"{max_iter} large-star/small-star alternations — raise "
            "max_iter; returning the partial labeling would silently "
            "keep duplicates"
        )
    # fixpoint edges form stars: every non-root points straight at its
    # component min; roots appear only on the parent side
    labels = edges.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("component"))
    roots = nodes.join(labels, "node", "left_anti").withColumn(
        "component", F.col("node")
    )
    return labels.unionByName(roots)


def near_dedup_survivors(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Full near-dup dedup: near-dup pairs → connected components →
    keep the minimum id of every component (non-dup docs survive
    untouched). Returns the surviving rows of `df`.

    Pairs default to MinHash-LSH (the scale path); pass `pairs`
    (id_a, id_b) to dedup over any other pairing — e.g. the exact
    jaccard pairs, which makes the whole survivors computation
    SQL-expressible and oracle-checkable."""
    if pairs is None:
        pairs = minhash_lsh_pairs(
            df, text_col=text_col, id_col=id_col, num_perm=num_perm, bands=bands,
            threshold=threshold,
        )
    comp = connected_components(pairs)
    # the component loop materialized the pairs; release the signature
    # cache the pairing operator persisted for its own multi-read plan
    # (ADVICE r2: executor storage otherwise held for the result's life)
    unpersist_deps(pairs)
    drop = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def dup_cluster_stats(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Cluster-size histogram of the near-dup graph — the dedup AUDIT
    report a Dolma/FineWeb-class pipeline publishes next to the dedup
    itself: one row per observed cluster size with (cluster_size,
    n_clusters, n_docs, n_removable = (size-1)*clusters). The
    reference's analog is the %n_pct frequency profile over a derived
    key (data_curation_base.sas %n_pct): a distribution report whose
    input is itself a computed grouping.

    Singleton documents (in no pair) never reach the pair list, so
    they are NOT represented; report them as corpus_total −
    sum(n_docs). Scale shape: components resolve in O(log n) keyed
    shuffles over the (shrinking) edge list (Kiveris large-star/
    small-star, `connected_components`); both aggregations after that
    are over one-row-per-component / one-row-per-size frames — partial
    map-side aggs, output bounded by the largest cluster size."""
    comp = connected_components(pairs, id_a=id_a, id_b=id_b, max_iter=max_iter)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias("n_removable"),
        )
    )


# ---------------------------------------------------------------------------
# exact n-gram jaccard (SQL-expressible — DuckDB oracle exists)
# ---------------------------------------------------------------------------


# transient-expansion bound for the jaccard kernel (module-level so a
# test can shrink it and pin chunked == unchunked output)
_JACCARD_CHUNK_ROWS = 64_000_000


def _jaccard_grid_kernel(threshold: float):
    """applyInPandas kernel for one block-pair cell of the exact-jaccard
    grid: pairwise shingle-set intersection counts via sorted-array
    lookup (numpy searchsorted + repeat expansion + np.unique pair
    counting — the no-scipy SpGEMM), then the raw-ratio threshold.
    All hot loops are C-speed numpy; per-cell work is linear in the
    cell's shingle-match product rows, never in n_a × n_b."""
    import numpy as np

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "jaccard": []})
        lmask = pdf["role"].isin(("l", "both"))
        rmask = pdf["role"].isin(("r", "both"))
        L, R = pdf[lmask], pdf[rmask]
        if L.empty or R.empty:
            return empty
        ida = L["_id"].to_numpy()
        idb = R["_id"].to_numpy()
        sa = L["set_size"].to_numpy().astype(np.int64)
        sb = R["set_size"].to_numpy().astype(np.int64)
        la = [np.asarray(x, dtype=np.int64) for x in L["shingles"]]
        lb = [np.asarray(x, dtype=np.int64) for x in R["shingles"]]
        lens_a = np.fromiter((len(x) for x in la), np.int64, count=len(la))
        lens_b = np.fromiter((len(x) for x in lb), np.int64, count=len(lb))
        flat_a = np.concatenate(la) if la else np.empty(0, np.int64)
        flat_b = np.concatenate(lb) if lb else np.empty(0, np.int64)
        adoc = np.repeat(np.arange(len(la), dtype=np.int64), lens_a)
        bdoc = np.repeat(np.arange(len(lb), dtype=np.int64), lens_b)
        # df-capped mode ships the over-cap hash set as a 'hot' role
        # row: drop those hashes from both sides before pairing (the
        # intersection then counts only sub-cap shingles; set_size —
        # the union term — stays the full distinct-shingle count)
        hot_rows = pdf[pdf["role"] == "hot"]
        if not hot_rows.empty:
            hot = np.unique(
                np.concatenate(
                    [np.asarray(x, dtype=np.int64) for x in hot_rows["shingles"]]
                )
                if len(hot_rows)
                else np.empty(0, np.int64)
            )
            if hot.size:
                keep_a = ~np.isin(flat_a, hot)
                keep_b = ~np.isin(flat_b, hot)
                flat_a, adoc = flat_a[keep_a], adoc[keep_a]
                flat_b, bdoc = flat_b[keep_b], bdoc[keep_b]
        order = np.argsort(flat_b, kind="stable")
        bs, bdoc = flat_b[order], bdoc[order]
        lo = np.searchsorted(bs, flat_a, "left")
        hi = np.searchsorted(bs, flat_a, "right")
        cnt = hi - lo
        total = int(cnt.sum())
        if total == 0:
            return empty
        n_b = len(lb)
        grid = len(la) * n_b

        def count_pairs(sl: slice):
            # expand each A-row of the slice to its matching B-row
            # range: concatenated aranges via the cumsum trick (all
            # C-speed, no Python loop)
            c = cnt[sl]
            t = int(c.sum())
            if t == 0:
                return None
            starts = np.repeat(lo[sl], c) + (
                np.arange(t, dtype=np.int64) - np.repeat(np.cumsum(c) - c, c)
            )
            a_idx = np.repeat(adoc[sl], c)
            flat = a_idx * n_b + bdoc[starts]
            if grid <= 40_000_000:
                # linear pair counting: one dense scatter + one
                # flatnonzero scan — ~5× the sort-based np.unique on
                # this host, and far less sensitive to shared memory
                # bandwidth (the sort is n·log n passes)
                counts = np.bincount(flat, minlength=grid)
                uq = np.flatnonzero(counts)
                return uq, counts[uq]
            return np.unique(flat, return_counts=True)

        # bound the transient expansion arrays: a cell's product-row
        # count is data-dependent (Σ df² within the cell) and at a
        # larger-than-bench scale a single expansion could be many GB
        # per task — process A-side rows in slices of ≤ ~64M product
        # rows and merge the per-slice sparse counts (pairs repeat
        # across slices only via different shingles of the same A-row
        # boundary, so the merge is a weighted re-unique)
        CHUNK = _JACCARD_CHUNK_ROWS
        if total <= CHUNK:
            uniq, inter = count_pairs(slice(0, len(cnt)))
        else:
            cuts = [0]
            acc = 0
            csum = np.cumsum(cnt)
            while cuts[-1] < len(cnt):
                acc = min(acc + CHUNK, int(csum[-1]))
                nxt = int(np.searchsorted(csum, acc, "left")) + 1
                cuts.append(max(nxt, cuts[-1] + 1))
            parts = [
                p
                for p in (
                    count_pairs(slice(a, b)) for a, b in zip(cuts, cuts[1:])
                )
                if p is not None
            ]
            all_u = np.concatenate([p[0] for p in parts])
            all_c = np.concatenate([p[1] for p in parts])
            uniq, inverse = np.unique(all_u, return_inverse=True)
            inter = np.bincount(inverse, weights=all_c).astype(np.int64)
        ia, ib = uniq // n_b, uniq % n_b
        # raw-ratio threshold (never on a rounded value): float64
        # division, bit-identical to the JVM double the old join-based
        # shape produced
        jac = inter / (sa[ia] + sb[ib] - inter)
        keep = jac >= threshold
        diagonal = bool((pdf["role"] == "both").any())
        if diagonal:
            # same block on both sides: every unordered pair appears at
            # (i,j) AND (j,i) — the strict < mask keeps exactly one
            keep &= ida[ia] < idb[ib]
            id_a, id_b = ida[ia[keep]], idb[ib[keep]]
        else:
            # disjoint blocks: each unordered pair appears once, but
            # the smaller id may sit on either side — order by min/max
            id_a = np.minimum(ida[ia[keep]], idb[ib[keep]])
            id_b = np.maximum(ida[ia[keep]], idb[ib[keep]])
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "jaccard": jac[keep]})

    return compute


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    min_block_docs: int = 512,
) -> DataFrame:
    """Exact jaccard over word-k-shingle SETS via a blocked pairwise
    intersection grid (the `_dup_pairs_block_matmul` shape): docs are
    hashed into nb blocks (scale-adaptive, see below), every (bi ≤ bj)
    block pair becomes ONE applyInPandas cell whose numpy kernel counts
    shared shingles for all doc pairs of the cell at C speed. Shingling
    stays sentence-split/transform JVM code; shingle identity is the
    8-byte xxhash64 of the shingle string (same key as before).

    Why not the explode + shingle-keyed self-join + (id_a, id_b)
    groupBy (the previous shape): on a templated corpus the join emits
    Σ_s df(s)² rows and the aggregation materializes every CANDIDATE
    pair as a hash-table entry — measured 257M join rows → 114M
    candidate pairs → 2.5k survivors at sf1.0, 430 s, with the time in
    the pair-keyed exchange + spill. The grid shuffles each doc's
    shingle array nb times (ids+hashes only, no text) and counts pairs
    in numpy inside one task per cell — no pair-keyed exchange exists
    at all. Guide §8's rule: decide with small rows; here the decision
    (a pair survives the threshold) never leaves the cell.

    `max_shingle_df`: drop shingles occurring in more than this many
    documents before pairing. A shingle in m docs yields m² product
    rows, so on webtext a boilerplate shingle ("all rights reserved…")
    is a quadratic hot key; capping document frequency bounds each
    shingle's product at max_shingle_df². Intersections then count
    only sub-cap shingles while union sizes stay full-set, so reported
    jaccard is a LOWER bound — pairs whose similarity is carried by
    non-boilerplate shingles are unaffected. None (default) = exact;
    at webtext scale prefer a cap (or MinHash-LSH, the designed scale
    path for this family).
    """
    import math

    from pcornet_data_curation_spark.operators.textanalysis import word_kgram_col

    spark = df.sparkSession
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[ \\t\\n\\r\\f\\x0B]+", " ")), " ")
    n = F.size(toks)
    # zip_with-based shingling (5× the per-position slice+concat shape;
    # see word_kgram_col) — identical shingle strings
    sh = F.when(n >= k, word_kgram_col(toks, n, k)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )
    # pairing identity = xxhash64(shingle), not the shingle string: the
    # grid ships (long id, long[] hashes) rows — text never shuffles
    # (collision odds across a doc pair ~2^-64 · |shingles|²).
    staged = df.where(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(id_col).alias("_id"), F.array_distinct(sh).alias("_sh"))
    # _sh staged as an attribute: referenced twice below (hash transform
    # + size) and non-cheap, so CollapseProject's multi-reference guard
    # keeps the shingling evaluated once per row
    base = staged.select(
        "_id",
        F.transform("_sh", lambda s: F.xxhash64(s)).alias("shingles"),
        F.size("_sh").alias("set_size"),
    )
    # grid sizing only needs an upper bound on the doc count — the raw
    # table count is parquet-metadata cheap, vs. running the shingling
    # pipeline once extra for an exact count
    # output ids keep the INPUT id type (string urls are as valid a
    # doc key as longs — the pre-grid join shape was type-generic and
    # the grid stays so); xxhash64 blocks hash any atomic type
    id_t = df.schema[id_col].dataType.simpleString()
    out_ddl = f"id_a {id_t}, id_b {id_t}, jaccard double"
    n_docs = df.count()
    if n_docs == 0:
        return spark.createDataFrame([], out_ddl)
    # scale-adaptive grid: nb ≈ sqrt(4·parallelism) keeps the cell
    # count (nb·(nb+1)/2) at ~2 waves of the cluster regardless of n —
    # a CONSTANT nb would under-parallelize small inputs and explode
    # the shuffle-duplication factor (each doc ships to nb cells) on
    # large ones; min_block_docs stops tiny inputs from splintering
    # into near-empty cells. Measured at sf1.0/local[32]: nb=7..11
    # within noise of each other, nb=4 (16k-doc blocks) 2.7× slower
    # (4 giant cells), nb=14 slightly worse (duplication).
    par = spark.sparkContext.defaultParallelism
    nb = max(1, min(int(round(math.sqrt(4.0 * par))), math.ceil(n_docs / min_block_docs)))
    roles = []
    cell = 0
    for i in range(nb):
        for j in range(i, nb):
            if i == j:
                roles.append((cell, i, "both"))
            else:
                roles.append((cell, i, "l"))
                roles.append((cell, j, "r"))
            cell += 1
    role_df = spark.createDataFrame(roles, "pair_idx int, block int, role string")
    work = base.withColumn(
        "block", F.pmod(F.xxhash64("_id"), F.lit(nb)).cast("int")
    ).join(F.broadcast(role_df), "block")
    if max_shingle_df is not None:
        # document-frequency cap, computed as ONE extra explode +
        # groupBy(shingle) whose partial count absorbs a boilerplate
        # hot key map-side (never a Window.partitionBy(shingle) —
        # WindowExec has no partial aggregation, so a shingle in 10^9
        # docs would sort as one task's partition). The over-cap hash
        # set — tiny by construction: only boilerplate crosses a sane
        # cap — is collect_list'ed to ONE row and unioned into every
        # grid cell as a 'hot' role row; the kernel drops hot hashes
        # from both sides' flattened arrays (np.isin) BEFORE pairing,
        # so intersections count only sub-cap shingles while set_size
        # keeps the full-set union. This replaces the previous
        # anti-join + per-doc re-collect shape, which evaluated the
        # shingling pipeline a second time and paid two extra keyed
        # shuffles (measured 12.2 s vs 6 s uncapped at sf1.0).
        # explode_OUTER + post-generate null filter, not plain explode:
        # InferFiltersFromGenerate would wrap the non-outer explode in
        # `size(chain) > 0 AND isnotnull(chain)` filters that re-run
        # the ENTIRE shingle chain twice more per row — and pushed
        # below the scan-parallelism floor they run on the unsplit
        # scan's single task (measured: 3.3 s → 2.0 s at sf0.1 for the
        # capped entry; the span_dedup fix, same rule). base's arrays
        # are never empty/null (text filtered non-blank), so the outer
        # explode emits identical rows and the null filter is a
        # safety no-op that cannot be pushed below the Generate.
        hot_arr = (
            base.select(F.explode_outer("shingles").alias("shingle"))
            .where(F.col("shingle").isNotNull())
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_shingle_df)
            .agg(F.collect_list("shingle").alias("shingles"))
        )
        cells = spark.createDataFrame(
            [(c,) for c in range(cell)], "pair_idx int"
        )
        # the hot row's _id is never read (the kernel selects rows by
        # role) — a non-NULL dummy keeps the Arrow→pandas _id column in
        # its native dtype (a NULL in an int64 column would coerce the
        # WHOLE column to float64, round-tripping real ids through
        # floating point)
        hot_rows = cells.crossJoin(hot_arr).select(
            F.lit(None).cast("int").alias("block"),
            F.lit(0).cast(id_t).alias("_id"),
            "shingles",
            F.lit(0).alias("set_size"),
            "pair_idx",
            F.lit("hot").alias("role"),
        )
        work = work.select(
            "block", "_id", "shingles", "set_size", "pair_idx", "role"
        ).unionByName(hot_rows)
    return work.groupBy("pair_idx").applyInPandas(
        _jaccard_grid_kernel(threshold), out_ddl
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


_PAIR_DDL = "id_a long, id_b long, cosine double"


def _dup_pairs_block_matmul(
    base: DataFrame, threshold: float, block_size: int, n: int | None = None
) -> DataFrame:
    """Exact all-pairs cosine via a block grid: vectors are hashed into
    nb = ceil(n/block_size) blocks; every (bi ≤ bj) block pair becomes
    one applyInPandas group computing a BLAS matmul A @ B.T and emitting
    the over-threshold (id_a < id_b) entries. Each unordered pair lands
    in exactly one grid cell, so no dedup pass is needed."""
    import math

    import numpy as np

    spark = base.sparkSession
    if n is None:
        n = base.count()
    if n == 0:
        return spark.createDataFrame([], _PAIR_DDL)
    nb = max(1, math.ceil(n / block_size))
    roles = []
    k = 0
    for i in range(nb):
        for j in range(i, nb):
            if i == j:
                roles.append((k, i, "both"))
            else:
                roles.append((k, i, "l"))
                roles.append((k, j, "r"))
            k += 1
    role_df = spark.createDataFrame(roles, "pair_idx int, block int, role string")
    blocked = base.withColumn(
        "block", F.pmod(F.xxhash64("_id"), F.lit(nb)).cast("int")
    )
    work = blocked.join(F.broadcast(role_df), "block")

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        lmask = pdf["role"].isin(("l", "both"))
        rmask = pdf["role"].isin(("r", "both"))
        L, R = pdf[lmask], pdf[rmask]
        if L.empty or R.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        A = np.vstack(L["v"].to_numpy())
        B = np.vstack(R["v"].to_numpy())
        ia = L["_id"].to_numpy()
        ib = R["_id"].to_numpy()
        cos = A @ B.T
        diagonal = bool((pdf["role"] == "both").any())
        if diagonal:
            # same block on both sides: every unordered pair appears at
            # (i,j) AND (j,i) — the strict < mask keeps exactly one
            hit = (cos >= threshold) & (ia[:, None] < ib[None, :])
            ii, jj = np.nonzero(hit)
            id_a, id_b = ia[ii], ib[jj]
        else:
            # disjoint blocks: each unordered pair appears once, but the
            # smaller id may sit on either side — order by min/max
            hit = cos >= threshold
            ii, jj = np.nonzero(hit)
            id_a = np.minimum(ia[ii], ib[jj])
            id_b = np.maximum(ia[ii], ib[jj])
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cosine": cos[ii, jj]})

    return work.groupBy("pair_idx").applyInPandas(compute, _PAIR_DDL)


def _normalize_vectors(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(_id, v) with v L2-normalized — one projection, shared by the
    exact grid, the sign-LSH path, and the multiseed union (which
    persists it ONCE for all seed tables)."""
    base = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    nrm = F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    return base.withColumn("_n", nrm).select(
        "_id", F.transform("v", lambda x: x / F.col("_n")).alias("v")
    )


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 0,
    seed: int = 42,
    block_size: int = 2048,
    dim: int | None = None,
    max_exact_rows: int = 1_000_000,
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold.

    n_planes=0: EXACT — blocked numpy matmul over all block pairs
    (applyInPandas): O(n²·d) flops run as BLAS inside Arrow batches,
    ~50× the throughput of evaluating an interpreted per-pair fold
    expression in a nested-loop join. Each block pair is one task →
    the n²/block_size² grid parallelizes across executors. The grid is
    still quadratic in n, so above `max_exact_rows` the call
    AUTO-ROUTES to the MULTISEED sign-LSH union
    (embedding_dup_pairs_multiseed: t=4 independent 12-plane tables,
    recall ≈ 1-(1-p^12)^4 ≈ 0.73 at θ=0.95 — NOT the single-table
    ≈ 0.28) and emits a RuntimeWarning naming the recall trade-off,
    rather than silently running O(n²). Pass max_exact_rows=0 to
    force exact.
    n_planes>0: sign-LSH bucketing first (scale path): only pairs
    agreeing on all plane signs are compared — a bucket-keyed equi-join
    that avoids the quadratic grid entirely. For high thresholds
    (≥0.9) the sign agreement rate per plane is ≥ 1-acos(θ)/π ≈ 0.9,
    so recall with 12 planes is ≈ 0.9^12 ≈ 0.28 per probe table —
    production use stacks multiple seeds (union of pair sets, the
    multiseed helper below), same shape as MinHash banding.

    `dim` is the vector dimensionality, needed only for the LSH path;
    when omitted it is read with a one-row probe (avoid on large
    tables — pass it, it's in your table's contract).

    Vectors are L2-normalized up front in both paths (one projection),
    so the pair stage computes a single dot product.
    """
    base = _normalize_vectors(df, vec_col, id_col)
    if n_planes == 0:
        n = base.count()
        if max_exact_rows and n > max_exact_rows:
            # quadratic guard: route to the multiseed LSH union — the
            # production recall shape (≈0.73 at θ=0.95 with t=4×12
            # planes), never the ≈0.28 single-table
            import warnings

            warnings.warn(
                f"embedding_dup_pairs: exact grid requested but n={n} > "
                f"max_exact_rows={max_exact_rows}; routing to the multiseed "
                "sign-LSH union (t=4, k=12: recall ≈0.73 at θ=0.95, no false "
                "positives). Pass max_exact_rows=0 to force the O(n²) exact "
                "grid, or call embedding_dup_pairs_multiseed with more seeds "
                "for higher recall.",
                RuntimeWarning,
                stacklevel=2,
            )
            return embedding_dup_pairs_multiseed(
                df, vec_col, id_col, threshold, n_planes=12, dim=dim
            )
        return _dup_pairs_block_matmul(base, threshold, block_size, n=n)
    if dim is None:
        dim = len(base.select("v").first()["v"])
    normed = base.persist()
    out = _sign_lsh_pairs(normed, dim, n_planes, seed, threshold)
    out._persisted_deps = [normed]  # caller-controlled unpersist (see minhash)
    return out


def _sign_lsh_pairs(
    normed: DataFrame, dim: int, n_planes: int, seed: int, threshold: float
) -> DataFrame:
    """One sign-LSH table over a PERSISTED normalized (_id, v) frame —
    shared by embedding_dup_pairs (one table) and
    embedding_dup_pairs_multiseed (one normalize+persist, t tables).

    ids-only bucket join (same shape as minhash_lsh_pairs /
    simhash_pairs): the self-join shuffles (bucket:int64, _id) rows —
    16 bytes each — NOT the full vector on both sides (768 doubles
    ≈ 6 KB/row at production dim, squared inside hot buckets).
    Vectors rejoin from the persisted normalized frame once per
    surviving candidate pair for the exact-cosine verification."""
    planes = H.hyperplane_signs(dim, n_planes, seed)
    sign_bits = [
        (
            F.aggregate(
                F.zip_with(
                    "v",
                    F.array(*[F.lit(float(x)) for x in planes[p]]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0
        ).cast("int")
        for p in range(n_planes)
    ]
    bucket = F.xxhash64(
        F.concat_ws("", *[b.cast("string") for b in sign_bits])
    ).alias("bucket")
    buckets = normed.select("_id", bucket)
    l, r = buckets.alias("l"), buckets.alias("r")
    cand = l.join(
        r, (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l._id") < F.col("r._id"))
    ).select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
    cand = cand.join(
        normed.select(F.col("_id").alias("id_a"), F.col("v").alias("va")), "id_a"
    ).join(normed.select(F.col("_id").alias("id_b"), F.col("v").alias("vb")), "id_b")
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    return (
        cand.withColumn("cosine", dot)
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )


def embedding_dup_pairs_multiseed(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 12,
    seeds: tuple[int, ...] = (42, 43, 44, 45),
    dim: int | None = None,
) -> DataFrame:
    """Production recall for the sign-LSH dedup path: union the pair
    sets of several independent hyperplane tables (each a linear
    bucket-keyed equi-join — never quadratic), then dedup.

    Recall math: a pair at cosine θ agrees on one plane's sign with
    probability p = 1 - acos(θ)/π (≈0.9 at θ=0.95); one k-plane table
    catches it with p^k, t tables with 1-(1-p^k)^t — e.g. k=12, t=4:
    1-(1-0.28)^4 ≈ 0.73, versus 0.28 single-table. No false positives:
    every candidate is exact-cosine verified inside its bucket. Cost is
    t linear passes — the standard banding trade, same shape as MinHash.
    """
    normed = _normalize_vectors(df, vec_col, id_col).persist()
    if dim is None:
        dim = len(normed.select("v").first()["v"])
    # ALL t seed tables in one plan (round 6): one projection computes
    # every seed's bucket, one explode to (_id, seed, bucket) rows, ONE
    # (seed, bucket)-keyed self-join, one distinct, one vector rejoin +
    # exact-cosine verify — instead of t sequential table plans unioned
    # (t self-joins + t verify joins + a union-wide distinct; measured
    # 5.0 s → ~2 s at sf1.0, and 4× fewer stages at any scale). The
    # pair set is identical: a pair survives iff it shares a bucket in
    # ANY seed and passes the exact-cosine check, and verification is
    # order-independent.
    entries = []
    for si, seed in enumerate(seeds):
        planes = H.hyperplane_signs(dim, n_planes, seed)
        sign_bits = [
            (
                F.aggregate(
                    F.zip_with(
                        "v",
                        F.array(*[F.lit(float(x)) for x in planes[p]]),
                        lambda a, b: a * b,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                >= 0
            ).cast("int")
            for p in range(n_planes)
        ]
        entries.append(
            F.struct(
                F.lit(si).alias("seed"),
                F.xxhash64(
                    F.concat_ws("", *[b.cast("string") for b in sign_bits])
                ).alias("bucket"),
            )
        )
    banded = normed.select("_id", F.explode(F.array(*entries)).alias("sb")).select(
        "_id", F.col("sb.seed").alias("seed"), F.col("sb.bucket").alias("bucket")
    )
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.seed") == F.col("r.seed"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .join(normed.select(F.col("_id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(normed.select(F.col("_id").alias("id_b"), F.col("v").alias("vb")), "id_b")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    out = (
        cand.withColumn("cosine", dot)
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )
    out._persisted_deps = [normed]  # ONE cache for all t seed tables
    return out
