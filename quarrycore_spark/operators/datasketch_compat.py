"""Bit-compatible reimplementation of the public datasketch MinHash/LSH
scheme the reference depends on (quarrycore pins datasketch via
requirements.txt; its RedisMinHashLSH builds `MinHash(num_perm=128)` and
`MinHashLSH(threshold=0.85)` — minhash_redis.py:186-202, 140-151).

The scheme exists for recall parity "under identical shingle/signature
config" (north rule): when the reference's signatures matter bit-for-bit,
use this family; the md5 family is the oracle-checkable default. Its
batch kernel is the shared one, `signatures.with_signatures(family=
"datasketch")`; this module holds the scheme's definitions and the
per-doc references the kernel is tested against. The algorithm
reimplemented here is public (datasketch docs + the MinHash literature):

* token hash: sha1, first 4 bytes little-endian (32-bit);
* universal hashing: (a*h + b) mod (2^61 - 1), masked to 32 bits;
* permutation constants from numpy RandomState(seed), a in [1, p),
  b in [0, p), drawn as datasketch does;
* LSH (b, r): minimize 0.5*FP + 0.5*FN via numerical integration of the
  S-curve (the datasketch `_optimal_param` objective). For threshold
  0.85 / 128 perms that is DedupConfig's (8, 16), which the kernel uses.

The container has no datasketch package, so tests assert the documented
mathematical properties (determinism, unbiased Jaccard estimation,
S-curve-optimal banding) rather than byte equality with the library.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

from quarrycore_spark.config import DS_MAX_HASH, DS_MERSENNE_61, DS_SEED

_HASH_RANGE = 1 << 32


def sha1_hash32(data: bytes) -> int:
    """datasketch's default token hash: first 4 sha1 bytes, little-endian."""
    return struct.unpack("<I", hashlib.sha1(data).digest()[:4])[0]


def permutations(num_perm: int, seed: int = DS_SEED) -> tuple[np.ndarray, np.ndarray]:
    """Draw (a, b) exactly the way datasketch's MinHash.__init__ does."""
    gen = np.random.RandomState(seed)
    a = np.array(
        [gen.randint(1, DS_MERSENNE_61, dtype=np.uint64) for _ in range(num_perm)],
        dtype=np.uint64,
    )
    b = np.array(
        [gen.randint(0, DS_MERSENNE_61, dtype=np.uint64) for _ in range(num_perm)],
        dtype=np.uint64,
    )
    return a, b


def signature_from_hashes(
    hashes, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """datasketch-scheme signature over already-hashed tokens (uint32
    values): slot i = min over tokens of ((a_i*h + b_i) mod 2^64) mod
    (2^61-1), masked to 32 bits. The mod-2^64 wrap is not a bug to paper
    over — datasketch computes in numpy uint64, where a*h (a < 2^61,
    h < 2^32) overflows, and bit-compatibility means reproducing exactly
    that arithmetic. Empty token sets keep the init value (max hash + 1).

    One vectorized expression over the doc's tokens: the per-doc reference
    the kernel (signatures._minhash_pass) is tested against.
    """
    h = np.fromiter(hashes, dtype=np.uint64)
    if not len(h):
        return np.full(len(a), _HASH_RANGE, dtype=np.int64)
    slots = (h[:, None] * a[None, :] + b[None, :]) % np.uint64(DS_MERSENNE_61)
    return (slots & np.uint64(DS_MAX_HASH)).min(axis=0).astype(np.int64)


def minhash_signature(
    shingles: list[str], a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """128-slot (or num_perm-slot) datasketch-scheme signature (uint32 range,
    stored int64). Empty shingle sets keep the init value (max hash + 1)."""
    return signature_from_hashes(
        (sha1_hash32(s.encode("utf-8")) for s in shingles), a, b
    )


def estimate_jaccard(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    """Signature Jaccard = fraction of equal slots (minhash_lsh.py:162-181)."""
    return float((sig_a == sig_b).mean())


def _integration(f, a: float, b: float, dx: float = 0.001) -> float:
    area = 0.0
    x = a
    while x < b:
        area += f(x + 0.5 * dx) * dx
        x += dx
    return area


def optimal_param(
    threshold: float,
    num_perm: int,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> tuple[int, int]:
    """datasketch's `_optimal_param` objective: choose (bands, rows) with
    bands*rows <= num_perm minimizing fp_weight·FP + fn_weight·FN where
    FP = ∫₀ᵗ P(candidate|s) ds and FN = ∫ₜ¹ (1 − P(candidate|s)) ds with
    P(candidate|s) = 1 − (1 − s^r)^b.  Reference context: the LSH index the
    quarrycore dedup layer builds derives (b, r) this way
    (minhash_lsh.py:68-72)."""
    min_error = float("inf")
    opt = (0, 0)
    for b in range(1, num_perm + 1):
        max_r = num_perm // b
        for r in range(1, max_r + 1):
            def proba(s, r=r, b=b):
                return 1 - (1 - s ** float(r)) ** float(b)

            fp = _integration(proba, 0.0, threshold)
            fn = _integration(lambda s: 1 - proba(s), threshold, 1.0)
            error = fp * fp_weight + fn * fn_weight
            if error < min_error:
                min_error = error
                opt = (b, r)
    return opt


_BAND_MULT = 1000003
_M31 = (1 << 31) - 1


def band_hashes(sig: np.ndarray, n_bands: int, n_rows: int) -> np.ndarray:
    """Band hashes over a signature: order-sensitive polynomial fold of each
    r-slot slice mod the 31-bit Mersenne prime (the hash of datasketch's
    per-band byte-tuple keys, minhash_lsh.py bucket keys — any deterministic
    injective-enough fold yields the same candidate set)."""
    out = np.empty(n_bands, dtype=np.int64)
    for i in range(n_bands):
        acc = int(sig[i * n_rows]) % _M31
        for s in sig[i * n_rows + 1 : (i + 1) * n_rows]:
            acc = (acc * _BAND_MULT + int(s)) % _M31
        out[i] = acc
    return out
