"""Dual-dialect (Spark SQL / DuckDB SQL) expression builders.

Every oracle-checked dedup operator is built from these snippets so the
Spark plan and the DuckDB oracle compute *bit-identical integers* — no float
arithmetic anywhere in the checked path. The Spark side consumes the
snippets via ``F.expr``; the oracle generator consumes the duckdb dialect.

Reference contracts encoded here:
* text normalization  lower/trim/collapse-whitespace — the shingle
  normalization rule (reference src/quarrycore/dedup/minhash_redis.py:174-176)
* char shingling k=7 with the short-text degenerate rule len(text)<k → {text}
  (reference minhash_redis.py:162-184)
* content hash sha256(text) (reference src/quarrycore/dedup/hash_db.py:326-336)

Hashing: md5-prefix → int64. ``H32`` = first 8 hex chars (32-bit value),
``H31`` = H32 mod the 31-bit Mersenne prime so universal hashing
(a*h+b) % p stays inside int64 in both engines. ``H60`` = first 15 hex
chars (60-bit) for SimHash.
"""

from __future__ import annotations

from quarrycore_spark.config import MERSENNE_31, DedupConfig
from quarrycore_spark.extraction.canonical import TRIM_WS

SPARK = "spark"
DUCKDB = "duckdb"


def hex_int(expr: str, nchars: int, dialect: str) -> str:
    """md5-prefix of a string expression as a non-negative int64."""
    if dialect == SPARK:
        return f"cast(conv(substring(md5({expr}), 1, {nchars}), 16, 10) as bigint)"
    return f"('0x' || substr(md5({expr}), 1, {nchars}))::BIGINT"


def h32(expr: str, dialect: str) -> str:
    return hex_int(expr, 8, dialect)


def h31(expr: str, dialect: str) -> str:
    return f"({h32(expr, dialect)} % {MERSENNE_31})"


def h60(expr: str, dialect: str) -> str:
    return hex_int(expr, 15, dialect)


def norm_text(expr: str, dialect: str) -> str:
    """Shingle normalization contract: collapse whitespace, strip, lowercase.

    Spark's plain `trim` removes only U+0020, so the Spark side names
    DuckDB's trim set (U+0020 and Unicode Zs, canonical.TRIM_WS)."""
    if dialect == SPARK:
        return (
            f"lower(trim(BOTH '{TRIM_WS}' FROM "
            f"regexp_replace({expr}, '\\\\s+', ' ')))"
        )
    # duckdb replaces only the first match unless the 'g' flag is given
    return f"lower(trim(regexp_replace({expr}, '\\s+', ' ', 'g')))"


def content_hash(expr: str, dialect: str) -> str:
    """sha256 hex digest of (already normalized) text."""
    if dialect == SPARK:
        return f"sha2({expr}, 256)"
    return f"sha256({expr})"


def _transform(lst: str, lam: str, dialect: str) -> str:
    fn = "transform" if dialect == SPARK else "list_transform"
    return f"{fn}({lst}, {lam})"


def _array_min(lst: str, dialect: str) -> str:
    fn = "array_min" if dialect == SPARK else "list_min"
    return f"{fn}({lst})"


def _array_distinct(lst: str, dialect: str) -> str:
    fn = "array_distinct" if dialect == SPARK else "list_distinct"
    return f"{fn}({lst})"


def _seq0(n_expr: str, dialect: str) -> str:
    """List [0 .. n_expr] inclusive (n_expr >= 0 assumed)."""
    if dialect == SPARK:
        return f"sequence(0, {n_expr})"
    return f"range(0, ({n_expr}) + 1)"


def char_shingles(expr: str, k: int, dialect: str) -> str:
    """Distinct char k-shingles of a normalized text expression.

    Degenerate rule: len(text) < k → single shingle = whole text — a
    deliberate extension of the reference's short-text rule
    (minhash_redis.py:172-173) to empty/whitespace-collapsed texts, where
    the reference instead yields an empty set and makes all degenerate docs
    mutual near-dups (see operators/signatures.py:char_shingles for the
    full rationale). Both engines and the recall simulator share this rule.
    """
    body = _transform(
        _seq0(f"length({expr}) - {k}", dialect),
        f"i -> substring({expr}, i + 1, {k})" if dialect == SPARK else f"i -> substr({expr}, i + 1, {k})",
        dialect,
    )
    if dialect == SPARK:
        return f"case when length({expr}) < {k} then array({expr}) else {_array_distinct(body, dialect)} end"
    return f"case when length({expr}) < {k} then [{expr}] else {_array_distinct(body, dialect)} end"


def word_array(expr: str, dialect: str) -> str:
    """Distinct words of normalized text (whitespace split)."""
    if dialect == SPARK:
        return f"array_distinct(split({expr}, ' '))"
    return f"list_distinct(string_split({expr}, ' '))"


def shingle_hashes31(shingles_expr: str, dialect: str) -> str:
    """Map a shingle array to distinct 31-bit integer hashes."""
    lam = f"s -> {h31('s', dialect)}"
    return _array_distinct(_transform(shingles_expr, lam, dialect), dialect)


def minhash_element(hashes_expr: str, a: int, b: int, dialect: str) -> str:
    """min over shingle-hashes of (a*h+b) mod p — one signature slot."""
    lam = f"h -> (h * {a} + {b}) % {MERSENNE_31}"
    return _array_min(_transform(hashes_expr, lam, dialect), dialect)


def minhash_array(hashes_expr: str, cfg: DedupConfig, dialect: str) -> str:
    """Full signature as an array expression (num_perm elements)."""
    elems = ", ".join(
        minhash_element(hashes_expr, a, b, dialect) for a, b in cfg.minhash_perms
    )
    return f"array({elems})" if dialect == SPARK else f"[{elems}]"


def band_hash(hashes_expr: str, cfg: DedupConfig, band_idx: int, dialect: str) -> str:
    """Hash one LSH band (rows_per_band signature slots) to a single int64.

    Band content is combined order-sensitively with a polynomial fold mod the
    31-bit Mersenne prime (keeps every product inside int64 in both engines).
    Fold collisions are *identical* in Spark and DuckDB, so candidate sets
    still agree exactly; the production signature path (signatures.py) uses
    64-bit band hashing where collision rate matters at 10^12-doc scale.
    """
    lo = band_idx * cfg.lsh_rows
    slots = [
        minhash_element(hashes_expr, a, b, dialect)
        for a, b in cfg.minhash_perms[lo : lo + cfg.lsh_rows]
    ]
    acc = slots[0]
    for s in slots[1:]:
        acc = f"((({acc}) * 1000003 + ({s})) % {MERSENNE_31})"
    return acc


def simhash(hashes_expr: str, cfg: DedupConfig, dialect: str) -> str:
    """SimHash over shingle hashes: bit b set iff majority of shingles have
    bit b set in their 60-bit hash. Uses H60-widened shingle hashes.

    Note: takes the *shingle array* (strings) and hashes to 60-bit inside.
    """
    n = f"cast(size({hashes_expr}) as bigint)" if dialect == SPARK else f"len({hashes_expr})::BIGINT"
    terms = []
    for b in range(cfg.simhash_bits):
        if dialect == SPARK:
            ones_lam = f"h -> cast(shiftright(h, {b}) & 1 as bigint)"
        else:
            ones_lam = f"h -> ((h >> {b}) & 1)::BIGINT"
        ones = _list_sum(_transform(hashes_expr, ones_lam, dialect), dialect)
        bit = f"case when 2 * ({ones}) > {n} then {1 << b} else 0 end"
        terms.append(bit)
    return "(" + " + ".join(terms) + ")"


def _list_sum(lst: str, dialect: str) -> str:
    if dialect == SPARK:
        return f"aggregate({lst}, 0L, (acc, x) -> acc + x)"
    return f"list_sum({lst})"


def shingle_hashes60(shingles_expr: str, dialect: str) -> str:
    lam = f"s -> {h60('s', dialect)}"
    return _array_distinct(_transform(shingles_expr, lam, dialect), dialect)


def band_hash_array(hashes_expr: str, cfg: DedupConfig, dialect: str) -> str:
    """Array of all LSH band hashes for one doc."""
    elems = ", ".join(band_hash(hashes_expr, cfg, i, dialect) for i in range(cfg.lsh_bands))
    return f"array({elems})" if dialect == SPARK else f"[{elems}]"


def posexplode(array_col: str, idx_name: str, val_name: str, dialect: str) -> str:
    """SELECT-clause fragment exploding an array column to (idx, value) rows,
    idx 0-based. Caller appends it after other projected columns."""
    if dialect == SPARK:
        return f"posexplode({array_col}) AS ({idx_name}, {val_name})"
    return (
        f"generate_subscripts({array_col}, 1) - 1 AS {idx_name}, "
        f"unnest({array_col}) AS {val_name}"
    )


def sig_agreement(a_expr: str, b_expr: str, n: int, dialect: str) -> str:
    """Number of equal slots between two n-element signature arrays —
    the signature-Jaccard numerator (reference minhash_lsh.py:162-181 uses
    fraction of equal permutation slots)."""
    if dialect == SPARK:
        return (
            f"aggregate(zip_with({a_expr}, {b_expr}, (x, y) -> if(x = y, 1L, 0L)), "
            f"0L, (acc, v) -> acc + v)"
        )
    # list_sum returns HUGEINT (int128) in DuckDB; cast so the typed
    # value-hash of the oracle matches Spark's BIGINT.
    return (
        f"list_sum(list_transform(range(0, {n}), "
        f"i -> case when {a_expr}[i + 1] = {b_expr}[i + 1] then 1 else 0 end))::BIGINT"
    )


def xor(a: str, b: str, dialect: str) -> str:
    if dialect == SPARK:
        return f"({a} ^ {b})"
    return f"xor({a}, {b})"


def bit_count(e: str, dialect: str) -> str:
    return f"bit_count({e})"


def idiv(a: str, b: str, dialect: str) -> str:
    if dialect == SPARK:
        return f"({a} div {b})"
    return f"({a} // {b})"
