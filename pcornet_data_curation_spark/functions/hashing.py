"""Hashing primitives for dedup / similarity: shingles, MinHash,
SimHash.

Pure numpy/pandas (shared by Spark pandas-UDFs and tests). All hash
streams are counter-based and seed-fixed — no RNG state, fully
deterministic across executors.
"""

from __future__ import annotations

import hashlib

import numpy as np

from pcornet_data_curation_spark.functions.textcore import tokenize

# MinHash works in the Mersenne-31 field: a,b,x < 2^31-1 keeps a*x+b
# inside uint64 (vectorized numpy, no Python-bigint fallback).
MINHASH_P = (1 << 31) - 1
MASK64 = (1 << 64) - 1


def _splitmix64_int(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & MASK64
    z = x
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK64
    return (z ^ (z >> 31)) & MASK64


# xxHash64 primes (public XXH64 constants; Spark's F.xxhash64 uses the
# same specialization for fixed-width inputs)
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & MASK64


def _xxh_fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _XXP2) & MASK64
    h ^= h >> 29
    h = (h * _XXP3) & MASK64
    h ^= h >> 32
    return h


def xxhash64_long(value: int, seed: int) -> int:
    """XXH64 of one 8-byte (long) input — the exact function Spark's
    ``F.xxhash64`` applies per LongType child (seed = running hash,
    initial 42). Pure-Python twin so driver-side code (and oracles)
    can reproduce Spark's hash-based sampling without a session.
    Input/output are unsigned views; see spark_xxhash64_longs for the
    signed chain."""
    value &= MASK64
    h = (seed + _XXP5 + 8) & MASK64
    k1 = (_rotl64((value * _XXP2) & MASK64, 31) * _XXP1) & MASK64
    h ^= k1
    h = (_rotl64(h, 27) * _XXP1 + _XXP4) & MASK64
    return _xxh_fmix(h)


def spark_xxhash64_longs(*values: int) -> int:
    """Twin of ``F.xxhash64(col1.cast('long'), col2.cast('long'), ...)``:
    chain XXH64-of-long over the children starting from Spark's fixed
    initial seed 42. Returns the SIGNED two's-complement value Spark
    emits (LongType)."""
    h = 42
    for v in values:
        h = xxhash64_long(v, h)
    return h - (1 << 64) if h >= (1 << 63) else h


def hash64_str(s: str, seed: int = 0) -> int:
    """Deterministic seeded 64-bit string hash: keyed blake2b truncated
    to 8 bytes (hashlib, C speed — the per-byte Python FNV loop was the
    minhash hot path; blake2b also beats the earlier double-CRC32,
    whose two streams were GF(2)-affine to each other and carried only
    ~32 bits of entropy per message length). NOT Spark's xxhash64 —
    used only where both sides share this code."""
    h = hashlib.blake2b(
        s.encode("utf-8"), digest_size=8, key=(seed & MASK64).to_bytes(8, "little")
    )
    return int.from_bytes(h.digest(), "little")


def word_shingles(text: str | None, k: int = 3) -> list[str]:
    """Lowercased word k-shingles (space-joined)."""
    toks = [t.lower() for t in tokenize(text or "")]
    if len(toks) < k:
        return [" ".join(toks)] if toks else []
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def minhash_params(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """(a, b) linear-permutation parameters, counter-hashed from seed."""
    a = np.array(
        [(_splitmix64_int(seed * 1000003 + 2 * i) % (MINHASH_P - 1)) + 1 for i in range(num_perm)],
        dtype=np.uint64,
    )
    b = np.array(
        [_splitmix64_int(seed * 1000003 + 2 * i + 1) % MINHASH_P for i in range(num_perm)],
        dtype=np.uint64,
    )
    return a, b


def minhash_signature(text: str | None, num_perm: int = 64, k: int = 3, seed: int = 42) -> list[int]:
    """MinHash signature over word k-shingles. Empty doc → all MAX."""
    a, b = _MINHASH_CACHE.setdefault((num_perm, seed), minhash_params(num_perm, seed))
    sh = word_shingles(text, k)
    if not sh:
        return [MINHASH_P] * num_perm
    hv = np.array([hash64_str(s) % MINHASH_P for s in sh], dtype=np.uint64)
    # (a*x + b) mod p per permutation — (num_perm x n_shingles) in uint64
    prod = (a[:, None] * hv[None, :] + b[:, None]) % np.uint64(MINHASH_P)
    return [int(x) for x in prod.min(axis=1)]


_MINHASH_CACHE: dict = {}


def simhash64(text: str | None) -> int:
    """64-bit SimHash over unigram token hashes (unit weights).
    Vectorized: one (n_tokens × 64) bit matrix, no per-token loop."""
    toks = [t.lower() for t in tokenize(text or "")]
    if not toks:
        return 0
    hv = np.array([hash64_str(t) for t in toks], dtype=np.uint64)
    bits = (hv[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)
    acc = np.where(bits.astype(bool), 1, -1).sum(axis=0)
    out = 0
    for i in range(64):
        if acc[i] > 0:
            out |= 1 << i
    return out


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    if not a or not b:
        return 0.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def hyperplane_signs(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes (n_planes x dim) with
    entries in {-1,+1}, counter-hashed — the sign-LSH used for
    embedding bucketing."""
    out = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dim):
            out[p, d] = 1.0 if (_splitmix64_int(seed * 69069 + p * 10007 + d) & 1) else -1.0
    return out
