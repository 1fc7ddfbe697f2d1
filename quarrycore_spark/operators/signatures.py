"""Vectorized signature computation — the one signature kernel.

One `mapInPandas` pass computes, per document: normalized text, sha256
content hash, the 128-slot MinHash signature, the 8 LSH band hashes, and
the 60-bit SimHash, with numpy over Arrow batches. Each hashing family
(config.py) supplies only its token step (_family_tokens); normalize +
sha256, the cache-blocked MinHash and SimHash passes, the band fold and
SIG_SCHEMA are shared.

The md5 family is bit-identical to the SQL of
``quarrycore_spark.functions.dialect`` (the DuckDB oracle path); the
datasketch slot arithmetic is DuckDB-checked by plans/dsops.py. Parity
with the per-doc references (doc_signature; datasketch_compat) is
enforced by tests/test_signature_parity.py.

Reference semantics covered (SURVEY.md §2.3):
  D1 content hash   — sha256 over normalized text (hash_db.py:326-336)
  D4 char shingling — k=7, short-text rule (minhash_redis.py:162-184)
  D6 MinHash        — 128 perms (minhash_redis.py:186-202)
  D7 LSH banding    — 8 bands × 16 rows (minhash_lsh.py:92-103)
  D10 SimHash       — north-rule replacement for fuzzy tiers
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from quarrycore_spark.config import DEFAULT_CONFIG, MERSENNE_31, DedupConfig
from quarrycore_spark.config import DS_MAX_HASH, DS_MERSENNE_61
from quarrycore_spark.extraction.canonical import collapse_ws

# sig/bands values fit 32 bits, so INT32 carries them — half the bytes of
# bigint through the Arrow IPC, the parquet checkpoint, and the band
# shuffle; datasketch's uint32 slots travel as their int32 bit pattern
# (verified_pairs reads only slot equality). Consumers that fold a band
# hash into a wider key must cast to long first (operators/lsh.py bkey).
SIG_SCHEMA = (
    "doc_id bigint, content_hash string, sig array<int>, "
    "bands array<int>, simhash bigint"
)

# (modulus, mask) of each family's universal hash slot (a·h + b) mod m —
# see _minhash_pass
_SLOT_ARITH = {
    "md5": (MERSENNE_31, None),
    "poly": (MERSENNE_31, None),
    "datasketch": (np.uint64(DS_MERSENNE_61), np.uint64(DS_MAX_HASH)),
}

_BAND_MULT = 1000003

# Cache block for the batch signature kernel: 64k int64 = 512 KB — the
# chunk plus its two working buffers sit in L2, so the 128 permutation
# passes + 60 simhash bit passes re-read cache, not RAM.
_CHUNK_ELEMS = 65536


def normalize_text(text: str) -> str:
    """Shingle-normalization contract (reference minhash_redis.py:174-176).

    Matches dialect.norm_text: collapse ASCII whitespace runs to one space,
    trim (extraction.canonical.collapse_ws), lowercase."""
    return collapse_ws(text).lower()


def char_shingles(nt: str, k: int) -> list[str]:
    """Distinct char k-shingles; len(text)<k → {text}.

    DELIBERATE deviation from the reference (minhash_redis.py:162-184): the
    reference returns an EMPTY set for empty text and for raw-length>=k
    texts whose normalized length < k (its loop range goes negative), which
    gives all such degenerate docs identical init-value signatures — i.e.
    every whitespace-heavy/short doc becomes a mutual near-dup. This repo
    extends the reference's own short-text rule ({text} for short inputs)
    to those cases instead, so degenerate docs get content-based signatures
    and only true duplicates collide. The SQL dialect (dialect.char_shingles)
    and the recall simulator (tests/test_pipeline.py) encode the same rule,
    so recall parity is measured against consistent semantics."""
    if len(nt) < k:
        return [nt]
    return list(dict.fromkeys(nt[i : i + k] for i in range(len(nt) - k + 1)))


def _md5_prefix_ints(shingles: list[str], nchars: int) -> np.ndarray:
    """First `nchars` hex chars of md5 as int64 — matches dialect.hex_int."""
    return np.fromiter(
        (int(hashlib.md5(s.encode("utf-8")).hexdigest()[:nchars], 16) for s in shingles),
        dtype=np.int64,
        count=len(shingles),
    )


_POLY_B = np.uint64(1099511628211)  # FNV-64 prime
_MIX = np.uint64(0xFF51AFD7ED558CCD)  # murmur3 finalizer constant


def _poly_shingle_hashes(nt: str, k: int) -> np.ndarray:
    """Vectorized rolling-hash char-k-gram hashes (uint64), murmur-mixed.

    The fast signature family for the production pipeline: ~300× faster
    than per-shingle md5 because the whole document hashes in a handful of
    numpy passes. Shingles are over unicode codepoints (utf-32), matching
    the char-shingle semantics of the md5 family. Distinctness via
    np.unique on the hash values (same set on any replica — deterministic).
    """
    c = np.frombuffer(nt.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    n = len(c)
    if n == 0:
        c = np.zeros(1, dtype=np.uint64)
        n = 1
    if n < k:
        win = 1
        k_eff = n
    else:
        win = n - k + 1
        k_eff = k
    h = np.zeros(win, dtype=np.uint64)
    for j in range(k_eff):
        h = h * _POLY_B + c[j : j + win]
    h ^= h >> np.uint64(33)
    h *= _MIX
    h ^= h >> np.uint64(33)
    return np.unique(h)


def doc_signature(
    text: str,
    cfg: DedupConfig,
    a: np.ndarray,
    b: np.ndarray,
    family: str = "md5",
) -> tuple[str, np.ndarray, np.ndarray, int]:
    """Per-doc reference of the md5 (default) and poly families, which
    the batch kernel is tested against: it shares none of its passes."""
    nt = normalize_text(text)
    ch = hashlib.sha256(nt.encode("utf-8")).hexdigest()
    if family == "poly":
        # hu is already unique (np.unique in _poly_shingle_hashes). The
        # derived hs31/hs60 sets are deliberately NOT re-uniqued: minhash is
        # invariant to duplicates, and the simhash majority uses len(hu) as
        # its denominator — the batch kernel processes concatenated per-doc
        # segments and cannot re-unique.
        hu = _poly_shingle_hashes(nt, cfg.shingle_size)
        hs31 = (hu % np.uint64(MERSENNE_31)).astype(np.int64)
        hs60 = (hu >> np.uint64(4)).astype(np.int64) & ((1 << cfg.simhash_bits) - 1)
    else:
        sh = char_shingles(nt, cfg.shingle_size)
        # np.unique = array_distinct: set semantics, as in the SQL
        hs31 = np.unique(_md5_prefix_ints(sh, 8) % MERSENNE_31)
        hs60 = np.unique(_md5_prefix_ints(sh, 15))
    # minhash: min over shingles of (a*h+b) mod p, per permutation
    sig = ((hs31[:, None] * a[None, :] + b[None, :]) % MERSENNE_31).min(axis=0)
    # band hashes: order-sensitive polynomial fold mod p (dialect.band_hash)
    bands = np.empty(cfg.lsh_bands, dtype=np.int64)
    for i in range(cfg.lsh_bands):
        acc = np.int64(sig[i * cfg.lsh_rows])
        for s in sig[i * cfg.lsh_rows + 1 : (i + 1) * cfg.lsh_rows]:
            acc = (acc * _BAND_MULT + s) % MERSENNE_31
        bands[i] = acc
    # simhash over 60-bit shingle hashes: majority vote per bit
    bits = (hs60[:, None] >> np.arange(cfg.simhash_bits)[None, :]) & 1
    ones = bits.sum(axis=0)
    simhash = int(((2 * ones > len(hs60)).astype(np.int64) << np.arange(cfg.simhash_bits)).sum())
    return ch, sig, bands, simhash


_MASK64 = (1 << 64) - 1

# Worker-lifetime scratch buffers for the batched shingle-hash prep: the
# three ~8 MB working arrays are allocated ONCE per Python worker (workers
# are reused across tasks, spark.python.worker.reuse) instead of per
# batch — after the first batch the prep touches no fresh pages at all,
# which matters in this sandbox (first-touch faults serialize
# machine-wide) and on any busy host (allocator contention).
_PREP_BUFS: dict[str, np.ndarray] = {}

# Codepoint budget per prep chunk (chunking splits across docs only — a
# single doc larger than this becomes its own chunk). Also the cap on
# CACHED scratch size: a request above it (one multi-MB outlier doc)
# gets a transient allocation instead of permanently inflating every
# reused worker's resident memory (ADVICE r6).
_PREP_BUDGET = 1_000_000


def _scratch(name: str, n: int, dtype) -> np.ndarray:
    if n > _PREP_BUDGET:
        return np.empty(n, dtype=dtype)
    buf = _PREP_BUFS.get(name)
    if buf is None or len(buf) < n:
        buf = np.empty(n, dtype=dtype)
        _PREP_BUFS[name] = buf
    return buf[:n]


def _sorted_distinct(W: np.ndarray, offs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Each doc's sorted-distinct values of a concatenated stream: doc j
    owns the non-empty segment W[offs[j]:offs[j+1]]. Sorts W in place,
    then one vectorized neighbour-compare; returns (values, counts)."""
    bounds = offs.tolist()
    for s, e in zip(bounds, bounds[1:]):
        W[s:e].sort()
    keep = _scratch("k", len(W), np.bool_)
    keep[:1] = True
    np.not_equal(W[1:], W[:-1], out=keep[1:])
    keep[offs[:-1]] = True
    values = W[keep]  # the one fresh allocation: the output itself
    ki = _scratch("ki", len(W), np.int64)
    np.copyto(ki, keep)
    return values, np.add.reduceat(ki, offs[:-1])


def _prep_hashes_batch(nts: list[str], k: int) -> tuple[np.ndarray, np.ndarray]:
    """Batched `_poly_shingle_hashes` over pre-normalized texts: returns
    (hu_all, lengths) — the concatenation of each doc's SORTED-DISTINCT
    shingle hashes plus per-doc counts, bit-identical to calling
    `_poly_shingle_hashes` per doc (pinned by test_signature_parity).

    One rolling-hash pass runs over the CONCATENATED codepoint buffer in
    L2-sized blocks (k in-place multiply-adds per block, same uint64 wrap
    as the per-doc path); windows spanning doc boundaries are simply
    never copied out. Dedup is `_sorted_distinct` on one scratch buffer —
    no per-doc allocations anywhere (the per-doc path paid ~20: encode/
    astype/zeros/7×2 loop temporaries/np.unique)."""
    n_docs = len(nts)
    counts = np.empty(n_docs, dtype=np.int64)
    for j, nt in enumerate(nts):
        counts[j] = len(nt) or 1  # empty text hashes as a single NUL
    offs = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(counts, out=offs[1:])
    total = int(offs[-1])
    big = _scratch("cp", total, np.uint64)
    for j, nt in enumerate(nts):
        if nt:
            big[offs[j] : offs[j + 1]] = np.frombuffer(
                nt.encode("utf-32-le"), dtype=np.uint32
            )
        else:
            big[offs[j]] = 0
    # rolling hash at every start position (chunked, in-place); positions
    # within k-1 of a doc's end produce cross-doc garbage that the
    # window-copy below never reads
    H = _scratch("h", total, np.uint64)
    shift33 = np.uint64(33)
    for s0 in range(0, total, _CHUNK_ELEMS):
        e0 = min(s0 + _CHUNK_ELEMS, total)
        L = e0 - s0
        hb = H[s0:e0]
        hb[:] = 0
        for j in range(k):
            np.multiply(hb, _POLY_B, out=hb)
            # windows reaching past `total` are cross-doc garbage never
            # copied out, but the slice length must clamp at 0 — a
            # negative value would wrap Python-style (hb[:-1] is NOT
            # empty) and misalign the add
            n_add = max(min(s0 + j + L, total) - s0 - j, 0)
            np.add(hb[:n_add], big[s0 + j : s0 + j + n_add], out=hb[:n_add])
        tmp = np.right_shift(hb, shift33)
        np.bitwise_xor(hb, tmp, out=hb)
        np.multiply(hb, _MIX, out=hb)
        np.right_shift(hb, shift33, out=tmp)
        np.bitwise_xor(hb, tmp, out=hb)
    # copy each doc's valid windows out, then sort + dedupe per doc
    wins = np.maximum(counts - (k - 1), 1)
    woffs = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(wins, out=woffs[1:])
    W = _scratch("w", int(woffs[-1]), np.uint64)
    for j in range(n_docs):
        n = int(counts[j])
        s, w0 = int(offs[j]), int(woffs[j])
        if n >= k:
            W[w0 : w0 + n - k + 1] = H[s : s + n - k + 1]
        else:
            # short doc: ONE window over all n codepoints (k_eff = n) —
            # the chunked pass above used k, so recompute exactly
            h = 0
            for p in range(n):
                h = (h * int(_POLY_B) + int(big[s + p])) & _MASK64
            h ^= h >> 33
            h = (h * int(_MIX)) & _MASK64
            h ^= h >> 33
            W[w0] = h
    return _sorted_distinct(W, woffs)


def _shingle_digests(nts: list[str], k: int, digest, dtype: str):
    """The leading `dtype` word of one `digest` per distinct shingle of
    every doc, concatenated, plus per-doc shingle counts (each >= 1)."""
    shs = [char_shingles(nt, k) for nt in nts]
    counts = np.fromiter(map(len, shs), dtype=np.int64, count=len(shs))
    width = np.dtype(dtype).itemsize
    buf = b"".join(
        digest(s.encode("utf-8")).digest()[:width] for sh in shs for s in sh
    )
    return np.frombuffer(buf, dtype=dtype), counts


def _family_tokens(
    nts: list[str], cfg: DedupConfig, family: str
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """A family's token step: (mh, mh_counts, h60, h60_counts) — the
    concatenated per-doc MinHash token hashes and SimHash 60-bit hashes,
    each with its per-doc segment lengths. The SimHash majority uses the
    h60 count as denominator."""
    k = cfg.shingle_size
    if family == "md5":
        # one md5 per distinct shingle: its 60-bit prefix h15, distinct
        # per doc (the SQL's array_distinct over h60). h15 >> 28 is the
        # 8-hex prefix, and a min over a multiset is the min over its set.
        words, counts = _shingle_digests(nts, k, hashlib.md5, ">u8")
        offs = np.zeros(len(nts) + 1, dtype=np.int64)
        np.cumsum(counts, out=offs[1:])
        h15, n = _sorted_distinct((words >> np.uint64(4)).astype(np.int64), offs)
        return (h15 >> 28) % MERSENNE_31, n, h15, n
    hu, n = _prep_hashes_batch(nts, k)
    mask60 = np.uint64((1 << cfg.simhash_bits) - 1)
    h60 = ((hu >> np.uint64(4)) & mask60).astype(np.int64)
    if family == "poly":
        return (hu % np.uint64(MERSENNE_31)).astype(np.int64), n, h60, n
    # datasketch: sha1, first 4 bytes little-endian (datasketch_compat.
    # sha1_hash32) per distinct shingle; uint32 collisions only repeat a
    # token, which a min ignores
    tok, counts = _shingle_digests(nts, k, hashlib.sha1, "<u4")
    return tok.astype(np.uint64), counts, h60, n


def _blocks(counts: np.ndarray) -> Iterator[tuple[int, int, int, int, np.ndarray]]:
    """_CHUNK_ELEMS blocks of a per-doc stream (segment lengths `counts`,
    each >= 1): the block's range [s0, e0), the docs [d0, d1) it touches
    and their segment starts in the block (the reduceat offsets)."""
    starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    ends = starts + counts
    total = int(ends[-1]) if len(ends) else 0
    for s0 in range(0, total, _CHUNK_ELEMS):
        e0 = min(s0 + _CHUNK_ELEMS, total)
        d0 = int(np.searchsorted(ends, s0, side="right"))
        d1 = int(np.searchsorted(starts, e0, side="left"))
        yield s0, e0, d0, d1, np.maximum(starts[d0:d1] - s0, 0)


# --- the segmented passes: CACHE-BLOCKED ------------------------------------
# Each token stream is processed in L2-sized chunks (_CHUNK_ELEMS ≈ 512 KB)
# and ALL permutations (or simhash bit-counts) run while the chunk is
# cache-resident. The alternative — 188 full passes over an 8 MB buffer —
# moves ~7 TB through RAM per 10⁹ shingles and is memory-bandwidth-bound:
# measured here, it runs 2.8× slower when other cores are busy (the 4-core
# scaling legs!) while the blocked kernel's wall is contention-immune. Same
# O(S·P) op count, bit-identical results (pinned by test_signature_parity).
# MinHash and SimHash are separate passes because datasketch's two streams
# differ in length; splitting the poly pass measured no cost.


def _minhash_pass(
    h: np.ndarray, counts: np.ndarray, a: np.ndarray, b: np.ndarray, mod, mask=None
) -> np.ndarray:
    """sig[j, p] = min over doc j's tokens of ((a_p·h + b_p) mod `mod`)
    [& mask], in h's dtype: int64 for md5/poly (h, a, b < 2^31, so a·h+b
    never wraps), uint64 for datasketch (a·h wraps mod 2^64, as in
    datasketch's numpy — bit-compatibility means reproducing that).

    The reduction is t - (t // m) * m, NOT np.mod: numpy's integer
    floor_divide-by-scalar is SIMD (libdivide-style) but np.mod is not —
    measured on 64k-element chunks: mod 227 µs vs floordiv+mul+sub 90 µs.
    Exact for non-negative t. A 12-op shift/mask Mersenne fold measured
    slower than np.mod (6.76 s vs 3.55 s on a 6k-doc A/B)."""
    sig = np.full((len(counts), len(a)), np.iinfo(h.dtype).max, dtype=h.dtype)
    tmp = np.empty(_CHUNK_ELEMS, dtype=h.dtype)
    tmp_q = np.empty(_CHUNK_ELEMS, dtype=h.dtype)
    for s0, e0, d0, d1, loc in _blocks(counts):
        hc = h[s0:e0]
        tl = tmp[: e0 - s0]
        ql = tmp_q[: e0 - s0]
        for p in range(len(a)):
            np.multiply(hc, a[p], out=tl)
            np.add(tl, b[p], out=tl)
            np.floor_divide(tl, mod, out=ql)
            np.multiply(ql, mod, out=ql)
            np.subtract(tl, ql, out=tl)
            if mask is not None:
                np.bitwise_and(tl, mask, out=tl)
            part = np.minimum.reduceat(tl, loc)
            np.minimum(sig[d0:d1, p], part, out=sig[d0:d1, p])
    return sig.astype(np.int64, copy=False)


def _simhash_pass(h60: np.ndarray, counts: np.ndarray, bits: int) -> np.ndarray:
    """Per-doc SimHash: bit i set iff more than half of the doc's
    `counts[j]` hashes have bit i set."""
    ones = np.zeros((len(counts), bits), dtype=np.int64)
    tmp = np.empty(_CHUNK_ELEMS, dtype=np.int64)
    for s0, e0, d0, d1, loc in _blocks(counts):
        hc = h60[s0:e0]
        tl = tmp[: e0 - s0]
        for bit in range(bits):
            np.right_shift(hc, bit, out=tl)
            np.bitwise_and(tl, 1, out=tl)
            part = np.add.reduceat(tl, loc)
            np.add(ones[d0:d1, bit], part, out=ones[d0:d1, bit])
    maj = (2 * ones > counts[:, None]).astype(np.int64)
    return (maj << np.arange(bits)[None, :]).sum(axis=1)


def _fold_bands(sig: np.ndarray, cfg: DedupConfig) -> np.ndarray:
    """Band hashes, vectorized across docs: the order-sensitive polynomial
    fold of each lsh_rows-slot slice mod the 31-bit Mersenne prime
    (dialect.band_hash, datasketch_compat.band_hashes). The seed's
    `% p` is a no-op on md5/poly slots and reduces datasketch's uint32
    slots; every product stays inside int64."""
    bands = np.empty((len(sig), cfg.lsh_bands), dtype=np.int64)
    for i in range(cfg.lsh_bands):
        acc = sig[:, i * cfg.lsh_rows] % MERSENNE_31
        for c in range(1, cfg.lsh_rows):
            acc = (acc * _BAND_MULT + sig[:, i * cfg.lsh_rows + c]) % MERSENNE_31
        bands[:, i] = acc
    return bands


def _batch_signatures(
    texts: list[str], cfg: DedupConfig, a: np.ndarray, b: np.ndarray, family: str
) -> tuple[list[str], np.ndarray, np.ndarray, np.ndarray]:
    """Whole-batch signatures of one family: (content hashes, sig, bands,
    simhash), sig/bands int64. Per-doc work is normalize + sha256 + the
    family's token hashing; all the arithmetic runs as segmented numpy
    over the batch's concatenated token hashes."""
    n_docs = len(texts)
    ch = [None] * n_docs
    nts: list[str] = [None] * n_docs  # type: ignore[list-item]
    cps = np.empty(n_docs, dtype=np.int64)
    for j, text in enumerate(texts):
        nt = normalize_text(text)
        ch[j] = hashlib.sha256(nt.encode("utf-8")).hexdigest()
        nts[j] = nt
        cps[j] = len(nt) or 1
    # chunk docs so the 1-D working buffers stay <= 8 MB (glibc recycles
    # heap blocks this size; larger blocks hit the slow mmap/fault path).
    # Chunking happens BEFORE hashing (codepoint budget ~ window budget),
    # so nothing is hashed twice.
    bounds = [0]
    tot = 0
    for j in range(n_docs):
        if tot and tot + cps[j] > _PREP_BUDGET:
            bounds.append(j)
            tot = 0
        tot += cps[j]
    bounds.append(n_docs)
    parts = []
    for i, j in zip(bounds, bounds[1:]):
        mh, mh_n, h60, h60_n = _family_tokens(nts[i:j], cfg, family)
        sig = _minhash_pass(mh, mh_n, a, b, *_SLOT_ARITH[family])
        sim = _simhash_pass(h60, h60_n, cfg.simhash_bits)
        parts.append((sig, _fold_bands(sig, cfg), sim))
    sig, bands, sim = (np.concatenate(x) for x in zip(*parts))
    return ch, sig, bands, sim


def _batch_signatures_poly(
    texts: list[str], cfg: DedupConfig, a: np.ndarray, b: np.ndarray
) -> tuple[list[str], np.ndarray, np.ndarray, np.ndarray]:
    """`_batch_signatures` of the poly family (the production path)."""
    return _batch_signatures(texts, cfg, a, b, "poly")


def _permutations(cfg: DedupConfig, family: str) -> tuple[np.ndarray, np.ndarray]:
    """A family's (a, b) permutation constants: cfg's mod-2^31−1 draws, or
    datasketch's own RandomState(seed 1) draws of uint64 constants."""
    if family == "datasketch":
        from quarrycore_spark.operators.datasketch_compat import permutations

        return permutations(cfg.num_perm)
    a = np.array([p[0] for p in cfg.minhash_perms], dtype=np.int64)
    b = np.array([p[1] for p in cfg.minhash_perms], dtype=np.int64)
    return a, b


def with_signatures(
    docs: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
    text_col: str = "text",
    family: str = "md5",
) -> DataFrame:
    """docs(id, text, ...) → (id, content_hash, sig, bands, simhash).

    Arrow-batched; each task processes its partition independently — no
    shuffle, scales linearly with executors. family="md5" is the
    oracle-parity scheme, "poly" the production scheme, "datasketch" the
    reference's MinHash scheme (banded cfg.lsh_bands × cfg.lsh_rows, the
    datasketch S-curve optimum for cfg's threshold — pinned by
    tests/test_datasketch_compat.py::test_optimal_param_matches_config).
    """
    if family not in _SLOT_ARITH:
        raise ValueError(f"with_signatures: unknown family {family!r}")
    a, b = _permutations(cfg, family)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf[text_col].astype(str).tolist()
            ch, sig, bands, sim = _batch_signatures(texts, cfg, a, b, family)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "content_hash": ch,
                    # every slot is < 2^32: its uint32 bit pattern as int32
                    "sig": list(sig.astype(np.uint32).view(np.int32)),
                    "bands": list(bands.astype(np.int32)),
                    "simhash": sim,
                }
            )

    from quarrycore_spark.operators._partitioning import spread

    return spread(docs.select(id_col, text_col)).mapInPandas(
        compute, schema=SIG_SCHEMA
    )
