"""Deterministic hashing kernels for dedup/fingerprinting.

Pure numpy/Python. The seeded hyperplanes feed the Spark embedding-LSH
operators directly; the scalar kernels (xxhash64, word_shingles, jaccard,
simhash64, rolling_fingerprint) are the reference implementations the
pytest suite checks the Spark operators against value for value.
Everything is seeded/constant: a rerun produces identical signatures, the
property the driver's rerun-per-round comparison relies on.
"""

from __future__ import annotations

import numpy as np

SIMHASH_BITS = 64

# ---- pure-Python xxHash64 (public-domain algorithm, seed 42 = Spark's
# F.xxhash64 default) — the scalar twin that lets pytest verify native
# Spark hash pipelines value for value -----------------------------------

_XXM = (1 << 64) - 1
_XXP1, _XXP2, _XXP3, _XXP4, _XXP5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _XXM


def _xxround(acc: int, lane: int) -> int:
    acc = (acc + lane * _XXP2) & _XXM
    return (_rotl(acc, 31) * _XXP1) & _XXM


def _xxmerge(h: int, v: int) -> int:
    h ^= _xxround(0, v)
    return (h * _XXP1 + _XXP4) & _XXM


def xxhash64(data: bytes, seed: int = 42) -> int:
    """xxHash64 over raw bytes — value-identical to Spark's F.xxhash64 on
    the UTF-8 bytes of a string column (verified by test). Unsigned."""
    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _XXM
        v2 = (seed + _XXP2) & _XXM
        v3 = seed & _XXM
        v4 = (seed - _XXP1) & _XXM
        while i + 32 <= n:
            v1 = _xxround(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _xxround(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _xxround(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _xxround(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _XXM
        for v in (v1, v2, v3, v4):
            h = _xxmerge(h, v)
    else:
        h = (seed + _XXP5) & _XXM
    h = (h + n) & _XXM
    while i + 8 <= n:
        h ^= _xxround(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _XXP1 + _XXP4) & _XXM
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _XXP1) & _XXM
        h = (_rotl(h, 23) * _XXP2 + _XXP3) & _XXM
        i += 4
    while i < n:
        h ^= (data[i] * _XXP5) & _XXM
        h = (_rotl(h, 11) * _XXP1) & _XXM
        i += 1
    h ^= h >> 33
    h = (h * _XXP2) & _XXM
    h ^= h >> 29
    h = (h * _XXP3) & _XXM
    h ^= h >> 32
    return h


def word_shingles(text: str, k: int = 3) -> list[str]:
    """Word k-shingles, single-space tokenization, exact mirror of the
    native operators/dedup.word_3gram_col construction: short texts pad
    with empty-string tokens (so a 2-token text yields one 't0 t1 '
    shingle, identical to the Spark expression)."""
    toks = text.split(" ")
    if len(toks) < k:
        return [" ".join((toks + [""] * k)[:k])]
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def jaccard(text_a: str, text_b: str, k: int = 3) -> float:
    a, b = set(word_shingles(text_a, k)), set(word_shingles(text_b, k))
    if not a and not b:
        return 1.0
    if not a or not b:
        return 0.0
    return len(a & b) / len(a | b)


def simhash64(text: str) -> int:
    """64-bit SimHash over single-space tokens (term-frequency weighted),
    xxhash64-based — the reference operators/dedup.simhash_signatures
    must equal bit for bit (bit i set iff more than half the token hashes
    have bit i set). Unsigned result."""
    toks = [t for t in text.split(" ") if t]
    if not toks:
        return 0
    acc = np.zeros(SIMHASH_BITS, dtype=np.int64)
    for tok in toks:
        h = np.uint64(xxhash64(tok.encode("utf-8")))
        bits = (h >> np.arange(SIMHASH_BITS, dtype=np.uint64)) & np.uint64(1)
        acc += np.where(bits.astype(bool), 1, -1)
    out = 0
    for i in range(SIMHASH_BITS):
        if acc[i] > 0:
            out |= 1 << i
    return out


def hamming64(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


MERSENNE31 = (1 << 31) - 1
FP_BASE = 1_000_003
_FP_CHUNK = 1024
# base^0 .. base^(CHUNK-1) mod p, exact (computed in Python ints)
_FP_POWERS = np.array(
    [pow(FP_BASE, k, MERSENNE31) for k in range(_FP_CHUNK)], dtype=np.uint64
)


def rolling_fingerprint(text: str, base: int = FP_BASE, p: int = MERSENNE31) -> int:
    """Polynomial rolling hash over Unicode codepoints mod 2^31-1 — the
    document fingerprint. Vectorized: codepoints via one utf-32 reinterpret,
    chunked Horner with precomputed powers. Exact: codepoints < 2^21 and
    powers < 2^31 keep every product < 2^52 and each chunk dot-sum < 2^62,
    inside uint64. p = 2^31-1 (not 2^61-1) so the NATIVE Spark twin
    (operators/textops.doc_fingerprints) stays overflow-free in LongType
    under ANSI mode — acc*base + v < 2^51. Kernel, Spark expression, and
    the DuckDB list_reduce oracle agree digit for digit."""
    if not text:
        return 0
    cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    h = 0
    for start in range(0, len(cps), _FP_CHUNK):
        c = cps[start : start + _FP_CHUNK]
        m = len(c)
        contrib = int(np.dot(c, _FP_POWERS[:m][::-1])) % p
        h = (h * pow(base, m, p) + contrib) % p
    return h


# random hyperplanes for embedding LSH (fixed seed)
_HP_SEED = 7
N_HYPERPLANES = 16


def hyperplanes(dim: int, n: int = N_HYPERPLANES) -> np.ndarray:
    rs = np.random.RandomState(_HP_SEED)
    return rs.normal(size=(n, dim)).astype(np.float64)

