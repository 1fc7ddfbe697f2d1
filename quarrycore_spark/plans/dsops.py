"""Datasketch-family oracle surface: CORRECTNESS-checked queries over the
datasketch-scheme arithmetic of the signature kernel
(operators/signatures.py, family="datasketch" — the bit-compatible
reimplementation of the public datasketch MinHash the reference pins,
minhash_redis.py:186-202; definitions in operators/datasketch_compat.py).

What the oracle can and cannot check: DuckDB has no sha1, so the token
hash (sha1 → first 4 bytes little-endian) is NOT SQL-expressible; it is
covered by pytest property tests (tests/test_datasketch_compat.py).
Everything downstream of the token hash — the part that is actually
datasketch-specific — IS checked bit-for-bit here:

* the 128 numpy-RandomState-drawn (a, b) permutation constants, inlined
  into the SQL as literals (the oracle can't run numpy either);
* the universal-hash arithmetic ((a*h + b) wrapped mod 2^64 — datasketch
  computes in numpy uint64 where a*h overflows, and bit-compatibility
  means reproducing exactly that wrap — then mod 2^61−1, masked to
  32 bits; DuckDB side computes in HUGEINT with an explicit % 2^64);
* the empty-set init value (max hash + 1 = 2^32);
* the order-sensitive polynomial band fold over the (bands, rows) =
  (CFG.lsh_bands, CFG.lsh_rows) slicing — the S-curve optimum
  optimal_param(0.85, 128), pinned by tests/test_datasketch_compat.py.

The driver ships no token-hash table, so token hashes derive from doc_id
by a closed-form uint32 formula (same synthesis device as
structops/mediaops): doc n has `doc_id % 37` tokens (docs with
doc_id % 37 == 0 pin the empty-set init path) with
h_i = (doc_id * 2654435761 + i * 2246822519 + 12345) % 2^32.
The SPARK side feeds those hashes, one batch at a time, to the REAL
kernel code — signatures._minhash_pass with the datasketch slot
arithmetic and signatures._fold_bands, as with_signatures(family=
"datasketch") runs them; the DUCKDB side recomputes the arithmetic from
the literals. Any drift in the constants, the wrap, the mask, the init,
or the band fold breaks the hash match.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quarrycore_spark.config import DEFAULT_CONFIG as CFG
from quarrycore_spark.config import DS_MERSENNE_61
from quarrycore_spark.functions.dialect import SPARK
from quarrycore_spark.plans.registry import REGISTRY, Query, register

NUM_PERM = 128
_INIT = 1 << 32  # datasketch empty-set init (max hash + 1)
_MASK = (1 << 32) - 1
_N_MOD = 37
_HA, _HB, _HC = 2654435761, 2246822519, 12345

# Drawn once at import — identical constants reach the Spark kernel and the
# generated SQL literals, so the check pins the *drawing* too (a seed or
# draw-order change in permutations() breaks the oracle match).
from quarrycore_spark.operators.datasketch_compat import permutations  # noqa: E402
from quarrycore_spark.operators.signatures import (  # noqa: E402
    _SLOT_ARITH,
    _fold_bands,
    _minhash_pass,
)

_A, _B = permutations(NUM_PERM)
_NB, _NR = CFG.lsh_bands, CFG.lsh_rows


def synthetic_hashes(doc_id: int) -> np.ndarray:
    n = doc_id % _N_MOD
    i = np.arange(n, dtype=np.int64)
    return ((doc_id * _HA + i * _HB + _HC) % (1 << 32)).astype(np.uint64)


def _spark_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quarrycore_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")["documents"].select("doc_id")

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(np.int64)
            hs = [synthetic_hashes(int(d)) for d in ids]
            counts = np.array([len(h) for h in hs], dtype=np.int64)
            # empty token sets keep the init value; the kernel's segments
            # are the non-empty docs
            sigs = np.full((len(ids), NUM_PERM), _INIT, dtype=np.int64)
            live = counts > 0
            if live.any():
                sigs[live] = _minhash_pass(
                    np.concatenate(hs), counts[live], _A, _B,
                    *_SLOT_ARITH["datasketch"],
                )
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "sig": list(sigs),
                    "bands": list(_fold_bands(sigs, CFG)),
                }
            )

    return docs.mapInPandas(
        compute, schema="doc_id bigint, sig array<bigint>, bands array<bigint>"
    )


def _spark_ds_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spark_sigs(spark, sf_dir).select(
        "doc_id", F.posexplode("sig").alias("perm_idx", "ds_minhash")
    )


def _spark_ds_band_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spark_sigs(spark, sf_dir).select(
        "doc_id", F.posexplode("bands").alias("band_idx", "ds_band_hash")
    )


def _hashes_cte(dialect: str) -> str:
    expr = f"(doc_id * {_HA} + i * {_HB} + {_HC}) % {1 << 32}"
    if dialect == SPARK:
        lst = f"transform(sequence(0, doc_id % {_N_MOD} - 1), i -> {expr})"
        # sequence(0, -1) yields [0, -1] in Spark, not [] — gate empties
        lst = f"CASE WHEN doc_id % {_N_MOD} = 0 THEN array() ELSE {lst} END"
    else:
        lst = f"list_transform(range(0, doc_id % {_N_MOD}), i -> {expr})"
    return f"_hs AS (SELECT doc_id, {lst} AS hs FROM documents)"


def _slot(dialect: str, a: int, b: int) -> str:
    """One signature slot: min over hs of the wrapped universal hash.

    DuckDB-only by contract: the uint64 wrap of a*h + b needs int128,
    which Spark SQL lacks — the Spark side of both ds_* queries is the
    real numpy kernel (spark_fn). Registration below asserts spark_fn is
    set so a refactor that drops it fails at import, not query time
    (ADVICE r5)."""
    if dialect == SPARK:
        raise ValueError(
            "ds_* SQL is DuckDB(oracle)-only; the Spark side runs the "
            "Arrow kernel via spark_fn"
        )
    term = (
        f"(((({a}::HUGEINT) * h + {b}) % 18446744073709551616)"
        f" % {DS_MERSENNE_61})::BIGINT & {_MASK}"
    )
    return (
        f"coalesce(list_min(list_transform(hs, h -> {term})), {_INIT})"
    )


def _ds_minhash_signatures(dialect: str) -> str:
    from quarrycore_spark.functions import dialect as D

    slots = ", ".join(
        _slot(dialect, int(a), int(b)) for a, b in zip(_A, _B)
    )
    return f"""
WITH {_hashes_cte(dialect)},
_sig AS (SELECT doc_id, [{slots}] AS sig FROM _hs)
SELECT doc_id, {D.posexplode('sig', 'perm_idx', 'ds_minhash', dialect)}
FROM _sig
"""


def _ds_band_hashes(dialect: str) -> str:
    # order-sensitive polynomial fold of each {_NR}-slot slice mod 2^31-1
    # (signatures._fold_bands: acc = acc*1000003 + s, seeded with the
    # slice head mod 2^31-1) — expanded per band since the fold is a fixed-length
    # recurrence, not a reduce DuckDB can express over ORDINALITY cleanly.
    slots = [
        _slot(dialect, int(a), int(b)) for a, b in zip(_A, _B)
    ]
    m31 = (1 << 31) - 1
    bands = []
    for bi in range(_NB):
        acc = f"({slots[bi * _NR]} % {m31})"
        for s in slots[bi * _NR + 1 : (bi + 1) * _NR]:
            acc = f"((({acc}) * 1000003 + {s}) % {m31})"
        bands.append(acc)
    blist = ", ".join(bands)
    from quarrycore_spark.functions import dialect as D

    return f"""
WITH {_hashes_cte(dialect)},
_b AS (SELECT doc_id, [{blist}] AS bands FROM _hs)
SELECT doc_id, {D.posexplode('bands', 'band_idx', 'ds_band_hash', dialect)}
FROM _b
"""


register(
    Query(
        "ds_minhash_signatures",
        "datasketch family: 128-perm signatures over synthetic token "
        "hashes — numpy-drawn constants, uint64-wrap universal hash, "
        "32-bit mask, empty-set init, all pinned against SQL literals",
        _ds_minhash_signatures,
        spark_fn=_spark_ds_minhash_signatures,
    )
)

register(
    Query(
        "ds_band_hashes",
        "datasketch family: S-curve-optimal (8,16) polynomial band fold "
        "over the same signatures",
        _ds_band_hashes,
        spark_fn=_spark_ds_band_hashes,
    )
)

# ds_* queries have oracle-only SQL (_slot raises for SPARK) — their Spark
# side MUST come from spark_fn. Enforced at import (explicit raise, not
# assert, so `python -O` can't compile the guard away) so Query.run_spark
# can never reach the SQL branch.
for _name in ("ds_minhash_signatures", "ds_band_hashes"):
    if REGISTRY[_name].spark_fn is None:
        raise RuntimeError(f"{_name} requires spark_fn: its SQL is DuckDB-only")
