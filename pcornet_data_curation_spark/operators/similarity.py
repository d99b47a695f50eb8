"""Similarity search over an embedding column (array<float>).

* brute_force_topk — exact cosine top-k, pure JVM Column algebra
  (zip_with/aggregate dot product inside whole-stage codegen; the
  scan reads only (id, vector) — column pruning).
* lsh_topk — sign-LSH bucketed approximate top-k: probe only vectors
  sharing (or nearly sharing) the query's hyperplane-sign bucket.
  The scale path: bucket assignment is a one-pass projection, the
  probe is a bucket-pruned filter, so 10^12 vectors never fan out
  into a global sort wider than the probed buckets.
* ivf_* — inverted-file index: deterministic seeded k-means coarse
  quantizer (fit on a deterministic sample, numpy on the driver),
  one vectorized assignment pass, then query-time probing of the
  n_probe nearest cells only. With the table written partitioned by
  ivf_cell, the probe becomes partition pruning at the scan.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from pcornet_data_curation_spark.functions import hashing as H


def _dot_with_literal(vec_col, query: list[float]):
    arr = F.array(*[F.lit(float(x)) for x in query])
    return F.aggregate(
        F.zip_with(vec_col, arr, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(vec_col):
    return F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda acc, v: acc + v * v))


def brute_force_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k for one query vector. orderBy(desc).limit(k)
    compiles to TakeOrderedAndProject — per-partition top-k heaps, no
    full sort/shuffle of the scores."""
    qn = math.sqrt(sum(x * x for x in query)) or 1.0
    v = F.col(vec_col).cast("array<double>")
    # raw double, no F.round: Spark's decimal-string HALF_UP round
    # diverges from other engines' binary rounding, and the identical
    # IEEE expression tree already reproduces bit-for-bit in the oracle
    cos = _dot_with_literal(v, query) / (_norm(v) * F.lit(qn))
    return (
        df.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def with_lsh_bucket(
    df: DataFrame, dim: int, n_planes: int = 8, vec_col: str = "embedding", seed: int = 42
) -> DataFrame:
    """Assign each vector its hyperplane-sign bucket string (one
    projection; planes are deterministic literals from seed)."""
    planes = H.hyperplane_signs(dim, n_planes, seed)
    v = F.col(vec_col).cast("array<double>")
    bits = [
        (_dot_with_literal(v, [float(x) for x in planes[p]]) >= 0).cast("int").cast("string")
        for p in range(n_planes)
    ]
    return df.withColumn("lsh_bucket", F.concat_ws("", *bits))


def query_bucket(query: list[float], n_planes: int = 8, seed: int = 42) -> str:
    planes = H.hyperplane_signs(len(query), n_planes, seed)
    return "".join(
        "1" if float(sum(a * b for a, b in zip(planes[p], query))) >= 0 else "0"
        for p in range(n_planes)
    )


def _normalize_rows(mat: np.ndarray) -> np.ndarray:
    norms = np.sqrt((mat**2).sum(axis=1, keepdims=True))
    norms[norms == 0] = 1.0
    return mat / norms


def ivf_fit_sample(
    df: DataFrame,
    max_sample: int = 100_000,
    sample_every: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> pd.DataFrame:
    """Deterministic BOUNDED fit sample: at most ~max_sample rows reach
    the driver regardless of table size. The stride is sized from a
    count (a metadata-cheap parquet aggregate), rows are picked by a
    seeded xxhash64 of the id (uniform even for strided/clustered ids),
    and the truncation to max_sample is ORDER-DETERMINISTIC: rows are
    sorted by (hash, id) before the limit — orderBy+limit compiles to
    TakeOrderedAndProject (per-partition top-k heaps, no global sort),
    so the sample content AND order are identical across runs, machines
    and file layouts. ivf_fit_sample_pandas is the sessionless twin
    (same xxhash64, same sort) used by the DuckDB correctness oracle."""
    n = df.select(id_col).count()
    stride = max(int(sample_every), -(-n // max_sample))  # ceil div
    return (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .withColumn(
            "_h", F.xxhash64(F.col("_id").cast("long"), F.lit(int(seed)).cast("long"))
        )
        .where(F.pmod(F.col("_h"), F.lit(stride)) == 0)
        .orderBy("_h", "_id")
        .limit(max_sample)
        .select("_v")
        .toPandas()
    )


def ivf_fit_sample_pandas(
    parquet_path: str,
    max_sample: int = 100_000,
    sample_every: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> np.ndarray:
    """Sessionless twin of ivf_fit_sample: same seeded xxhash64 pick
    (functions.hashing.spark_xxhash64_longs is bit-exact vs Spark's
    F.xxhash64), same (hash, id) order, same truncation — so a DuckDB
    oracle can reproduce the fitted centroids without a SparkSession.
    Intended for small oracle inputs (reads the parquet via pyarrow)."""
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[id_col, vec_col])
    ids = t.column(id_col).to_pylist()
    vecs = t.column(vec_col).to_pylist()
    n = len(ids)
    stride = max(int(sample_every), -(-n // max_sample))
    picked = []
    for i, vid in enumerate(ids):
        hs = H.spark_xxhash64_longs(int(vid), int(seed))
        if hs % stride == 0:  # Python % == Spark pmod for positive stride
            picked.append((hs, int(vid), i))
    picked.sort()
    picked = picked[:max_sample]
    return np.array([[float(x) for x in vecs[i]] for _, _, i in picked], dtype=np.float64)


def _kmeans_core(mat: np.ndarray, n_centroids: int, iters: int, seed: int) -> np.ndarray:
    """Spherical k-means shared by ivf_fit (Spark sample) and
    ivf_fit_pandas (oracle twin): identical numpy ops on an identical
    sample matrix ⇒ bit-identical centroids."""
    mat = _normalize_rows(mat)
    k = min(n_centroids, len(mat))
    idx = sorted(
        {int(H._splitmix64_int(seed * 7919 + i) % len(mat)) for i in range(k * 4)}
    )[:k]
    cents = mat[idx].copy()
    for _ in range(iters):
        assign = np.argmax(mat @ cents.T, axis=1)  # cosine on unit rows
        for c in range(len(cents)):
            members = mat[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
        cents = _normalize_rows(cents)
    return cents


def ivf_fit(
    df: DataFrame,
    n_centroids: int = 16,
    sample_every: int = 7,
    iters: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_sample: int = 100_000,
) -> np.ndarray:
    """Deterministic coarse quantizer: spherical k-means on a bounded
    deterministic sample (see ivf_fit_sample — capped at max_sample
    rows on the driver, never O(n)), numpy on the driver. Initial
    centroids are the sample rows picked by a splitmix counter hash of
    `seed`, so fits are reproducible across runs and machines. Returns
    (n_centroids, dim) L2-normalized centroids."""
    sample = ivf_fit_sample(df, max_sample, sample_every, vec_col, id_col, seed)
    mat = np.vstack(sample.iloc[:, 0].to_numpy()).astype(np.float64)
    return _kmeans_core(mat, n_centroids, iters, seed)


def ivf_fit_pandas(
    parquet_path: str,
    n_centroids: int = 16,
    sample_every: int = 7,
    iters: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_sample: int = 100_000,
) -> np.ndarray:
    """Sessionless ivf_fit twin for oracle generation — bit-identical
    centroids (same sample rows in the same order, same numpy k-means
    in the same process)."""
    mat = ivf_fit_sample_pandas(parquet_path, max_sample, sample_every, vec_col, id_col, seed)
    return _kmeans_core(mat, n_centroids, iters, seed)


def with_ivf_cell(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """One vectorized assignment pass: ivf_cell = argmax cosine vs the
    broadcast centroid matrix (numpy matmul per Arrow batch)."""
    cents = centroids.copy()

    @pandas_udf(T.IntegerType())
    def _assign(vecs: pd.Series) -> pd.Series:
        mat = _normalize_rows(np.vstack(vecs.to_numpy()).astype(np.float64))
        return pd.Series(np.argmax(mat @ cents.T, axis=1).astype(np.int32), index=vecs.index)

    return df.withColumn("ivf_cell", _assign(F.col(vec_col)))


def with_ivf_cell_exact(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Cross-engine-reproducible twin of with_ivf_cell: IVF cell by pure
    JVM Column algebra — normalize via a left-to-right fold, one
    fold dot product per centroid (literals), argmax via
    array_position(scores, array_max). Stays in whole-stage codegen
    (no Python at all), and every float op is an explicit left-to-right
    IEEE expression a SQL oracle replays bit-for-bit (numpy's BLAS
    matmul in with_ivf_cell may differ in the last ulp — fine for the
    scale path, not for a value-hash gate). Right choice for small
    centroid counts; the pandas-UDF matmul wins for large ones."""
    v = F.col(vec_col).cast("array<double>")
    nrm0 = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    nrm = F.when(nrm0 == 0, F.lit(1.0)).otherwise(nrm0)
    e = F.transform(v, lambda x: x / nrm)
    # ONE transform over the literal centroid MATRIX: the normalize
    # subtree appears once in the plan (an F.array(*[per-centroid
    # fold]) shape re-inlines it k times), and the k·d doubles ship as
    # ONE nested-list Literal — k·d individual F.lit calls cost a py4j
    # round trip each and ~3s of analysis at k=16,d=64
    cents_lit = F.lit([[float(c) for c in centroids[p]] for p in range(len(centroids))])
    scores = F.transform(
        cents_lit,
        lambda c: F.aggregate(
            F.zip_with(e, c, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        ),
    )
    cell = (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
    return df.withColumn("ivf_cell", cell)


def _fold_cells(mat: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """IVF cells with FOLD-ORDERED arithmetic: vectorized across rows
    but accumulating dimensions left-to-right, so every double is
    bit-identical to the JVM aggregate/zip_with fold (and to DuckDB
    list_reduce) — numpy speed with cross-engine-exact values. A BLAS
    matmul (with_ivf_cell) may differ in the last ulp via pairwise/SIMD
    summation; this path exists so a value-hash oracle can gate the
    operator."""
    n, d = mat.shape
    acc = np.zeros(n, dtype=np.float64)
    for j in range(d):  # left-to-right: acc + x*x, like the fold
        acc = acc + mat[:, j] * mat[:, j]
    nrm = np.sqrt(acc)
    nrm[nrm == 0] = 1.0
    e = mat / nrm[:, None]
    scores = np.empty((n, len(cents)), dtype=np.float64)
    for p in range(len(cents)):
        s = np.zeros(n, dtype=np.float64)
        for j in range(d):
            s = s + e[:, j] * cents[p, j]
        scores[:, p] = s
    return np.argmax(scores, axis=1).astype(np.int32)  # ties → lowest index


def with_ivf_cell_fold(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Cross-engine-exact IVF assignment as a vectorized pandas UDF:
    same values as with_ivf_cell_exact (the pure-JVM fold twin) but
    ~100× faster — Spark's interpreted higher-order functions cost
    ~2µs per element-lambda, so the k·(2d) lambda evals per row of the
    JVM variant dominate; here the identical fold order runs as numpy
    column ops over each Arrow batch."""
    cents = np.asarray(centroids, dtype=np.float64)

    @pandas_udf(T.IntegerType())
    def _assign(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        return pd.Series(_fold_cells(mat, cents), index=vecs.index)

    return df.withColumn("ivf_cell", _assign(F.col(vec_col)))


def ivf_probe_cells(centroids: np.ndarray, query: list[float], n_probe: int) -> list[int]:
    """The n_probe cell ids nearest the query (driver-side, tiny) —
    shared by ivf_topk and its oracle generator."""
    q = np.asarray(query, dtype=np.float64)
    qn = q / (np.sqrt((q**2).sum()) or 1.0)
    order = np.argsort(-(centroids @ qn), kind="stable")
    return [int(c) for c in order[: max(1, n_probe)]]


def ivf_topk(
    df: DataFrame,
    query: list[float],
    centroids: np.ndarray,
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF probe: score only the n_probe cells whose centroids are
    nearest the query (cell list computed driver-side — tiny), exact
    cosine within the probed cells. If `df` lacks ivf_cell it is
    assigned on the fly; a table pre-written partitionBy('ivf_cell')
    turns the isin() into scan partition pruning."""
    probe = ivf_probe_cells(centroids, query, n_probe)
    cells = df if "ivf_cell" in df.columns else with_ivf_cell(df, centroids, vec_col)
    probed = cells.where(F.col("ivf_cell").isin(probe))
    return brute_force_topk(probed, query, k, vec_col, id_col)


def lsh_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
    max_hamming: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only vectors whose sign-bucket is within
    `max_hamming` bit flips of the query's bucket (multi-probe LSH).
    With a pre-bucketed (even partitioned-by-bucket) table the filter
    prunes the scan; recall grows with max_hamming."""
    qb = query_bucket(query, n_planes, seed)
    bucketed = df if "lsh_bucket" in df.columns else with_lsh_bucket(
        df, len(query), n_planes, vec_col, seed
    )
    # hamming distance between the fixed-length '0'/'1' bucket strings
    ham = F.aggregate(
        F.zip_with(
            F.split(F.col("lsh_bucket"), ""),
            F.split(F.lit(qb), ""),
            lambda a, b: (a != b).cast("int"),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    probed = bucketed.where(ham <= max_hamming)
    return brute_force_topk(probed, query, k, vec_col, id_col)
