"""The Arrow signature kernel must be bit-identical to the SQL dialect
math used by the DuckDB oracle (md5 family) and to each family's per-doc
reference — this is the contract that makes the production path and the
correctness gate the same computation."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from quarrycore_spark.config import DEFAULT_CONFIG as CFG
from quarrycore_spark.functions import dialect as D
from quarrycore_spark.operators.datasketch_compat import band_hashes, minhash_signature
from quarrycore_spark.operators.signatures import (
    _batch_signatures,
    _permutations,
    char_shingles,
    doc_signature,
    normalize_text,
)

FAMILIES = ("md5", "poly", "datasketch")
A, B = _permutations(CFG, "md5")

EDGE_TEXTS = [
    "Hello   World  foo bar baz quux longer text here",
    "short",
    "",
    "\t\n  spaced \t out \n",
    "ünïcode tëxt with  spaces and more padding here",
    "a" * 6,
    "exactly7",
    "The quick brown fox jumps over the lazy dog. " * 5,
    # FS/US are str.split() whitespace but not \s: kept, like DuckDB
    "a\x1cb",
    "x\x1f y",
    # ... also at the ends: DuckDB's trim keeps them, and NEL
    "\x1ca",
    "a\x1f",
    "\x85a",
    # nbsp and the ideographic space are Unicode Zs: trimmed
    "\xa0abc",
    "abc\u3000",
]

# every ASCII character is drawn too; these add the unicode whitespace
# str.split() knows and re.ASCII \s does not
UNICODE_WS = "\x85\xa0\u1680\u2000\u2007\u200a\u2028\u2029\u202f\u205f\u3000"


def kernel(texts, family):
    """The batch kernel of with_signatures, without Spark."""
    a, b = _permutations(CFG, family)
    return _batch_signatures(texts, CFG, a, b, family)


def per_doc(text, family):
    """A family's per-doc reference: doc_signature for md5/poly; for
    datasketch, datasketch_compat's minhash_signature + band_hashes under
    the config's banding, with the poly SimHash."""
    if family != "datasketch":
        return doc_signature(text, CFG, A, B, family)
    a, b = _permutations(CFG, family)
    sig = minhash_signature(
        char_shingles(normalize_text(text), CFG.shingle_size), a, b
    )
    ch, _, _, sim = doc_signature(text, CFG, A, B, "poly")
    return ch, sig, band_hashes(sig, CFG.lsh_bands, CFG.lsh_rows), sim


def assert_kernel_matches_per_doc(texts, family, rows=None):
    ch_b, sig_b, bands_b, sim_b = kernel(texts, family)
    for j in range(len(texts)) if rows is None else rows:
        ch, sig, bands, sim = per_doc(texts[j], family)
        assert ch == ch_b[j], j
        assert (sig == sig_b[j]).all(), j
        assert (bands == bands_b[j]).all(), j
        assert sim == sim_b[j], (j, sim, sim_b[j])
    return ch_b, sig_b, bands_b, sim_b


@pytest.fixture(scope="module")
def corpus_texts():
    con = duckdb.connect()
    rows = con.sql(
        "select text from '/root/testdata/sf0.001/documents.parquet' limit 50"
    ).fetchall()
    return [r[0] for r in rows]


def duck_signature(text: str):
    con = duckdb.connect()
    d = "duckdb"
    nt = D.norm_text("t", d)
    sql = f"""
    WITH _n AS (SELECT ? AS t), _d AS (SELECT {nt} AS nt FROM _n),
    _s AS (SELECT nt, {D.char_shingles('nt', CFG.shingle_size, d)} AS sh FROM _d),
    _h AS (SELECT nt, {D.shingle_hashes31('sh', d)} AS hs,
                      {D.shingle_hashes60('sh', d)} AS h60s FROM _s)
    SELECT nt, {D.content_hash('nt', d)} AS ch,
           {D.minhash_array('hs', CFG, d)} AS sig,
           {D.band_hash_array('hs', CFG, d)} AS bands,
           {D.simhash('h60s', CFG, d)} AS simhash
    FROM _h
    """
    return con.execute(sql, [text]).fetchone()


@pytest.mark.parametrize("text", EDGE_TEXTS)
def test_edge_text_parity(text):
    """DuckDB == the per-doc reference == the batch kernel (md5 family)."""
    nt_sql, ch_sql, sig_sql, bands_sql, sim_sql = duck_signature(text)
    assert normalize_text(text) == nt_sql
    want = (ch_sql, sig_sql, bands_sql, sim_sql)
    ch, sig, bands, sim = doc_signature(text, CFG, A, B)
    assert (ch, sig.tolist(), bands.tolist(), sim) == want
    ch, sig, bands, sim = kernel([text], "md5")
    assert (ch[0], sig[0].tolist(), bands[0].tolist(), int(sim[0])) == want


def test_spark_norm_text_matches_duckdb(spark):
    """The Spark dialect's normalization equals DuckDB's (and
    normalize_text) on every edge text: Spark's plain trim removes only
    U+0020, so norm_text names DuckDB's trim set."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(list(enumerate(EDGE_TEXTS)), "i int, t string")
    got = {
        r["i"]: r["nt"]
        for r in df.select("i", F.expr(D.norm_text("t", D.SPARK)).alias("nt")).collect()
    }
    con = duckdb.connect()
    for i, text in enumerate(EDGE_TEXTS):
        want = con.execute(f"SELECT {D.norm_text('?', D.DUCKDB)}", [text]).fetchone()[0]
        assert got[i] == want == normalize_text(text), (text, got[i], want)


def test_whitespace_fast_path_matches_regex():
    """Property: the whitespace normalizer (its ASCII fast path included)
    equals the re.ASCII regex definition, trimmed by DuckDB's trim set,
    for any mix of ASCII and unicode whitespace. DuckDB is not the oracle
    here: RE2 \\s leaves out \\x0b, which Python re.ASCII and Java \\s
    include."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from quarrycore_spark.extraction.canonical import _WS, TRIM_WS, collapse_ws

    @settings(max_examples=500, deadline=None)
    @given(
        st.text(
            alphabet=st.one_of(
                st.characters(max_codepoint=0x7F), st.sampled_from(UNICODE_WS)
            ),
            max_size=30,
        )
    )
    def check(text):
        want = _WS.sub(" ", text).strip(TRIM_WS)
        assert collapse_ws(text) == want
        assert normalize_text(text) == want.lower()

    check()


def test_corpus_sample_parity(corpus_texts):
    ch_b, sig_b, bands_b, sim_b = kernel(corpus_texts, "md5")
    for j, text in enumerate(corpus_texts):
        ch, sig, bands, sim = doc_signature(text, CFG, A, B)
        _, ch_sql, sig_sql, bands_sql, sim_sql = duck_signature(text)
        want = (ch_sql, sig_sql, bands_sql, sim_sql)
        assert (ch, sig.tolist(), bands.tolist(), sim) == want
        assert (ch_b[j], sig_b[j].tolist(), bands_b[j].tolist(), int(sim_b[j])) == want


def test_poly_family_properties():
    """The vectorized pipeline family: deterministic, near-dup-sensitive."""
    a = np.array([p[0] for p in CFG.minhash_perms], dtype=np.int64)
    b = np.array([p[1] for p in CFG.minhash_perms], dtype=np.int64)
    base = "the quick brown fox jumps over the lazy dog " * 20
    near = base.replace("lazy", "hazy", 3)
    diff = "completely unrelated content with other words entirely " * 20
    ch1, s1, bd1, sm1 = doc_signature(base, CFG, a, b, family="poly")
    ch2, s2, _, _ = doc_signature(base, CFG, a, b, family="poly")
    assert (s1 == s2).all() and ch1 == ch2  # deterministic
    _, sn, _, smn = doc_signature(near, CFG, a, b, family="poly")
    _, sd, _, smd = doc_signature(diff, CFG, a, b, family="poly")
    agree_near = (s1 == sn).mean()
    agree_diff = (s1 == sd).mean()
    assert agree_near > 0.8 > agree_diff, (agree_near, agree_diff)
    ham_near = bin(sm1 ^ smn).count("1")
    ham_diff = bin(sm1 ^ smd).count("1")
    assert ham_near < 15 <= ham_diff, (ham_near, ham_diff)
    # content hash identical across families (sha256 of normalized text)
    ch_md5, *_ = doc_signature(base, CFG, a, b, family="md5")
    assert ch1 == ch_md5
    # short/empty text degenerates cleanly
    for t in ("", "ab", "exactly"):
        doc_signature(t, CFG, a, b, family="poly")


def test_shingles_short_text_rule():
    assert char_shingles("abc", 7) == ["abc"]
    assert char_shingles("", 7) == [""]
    assert char_shingles("exactly", 7) == ["exactly"]
    assert char_shingles("exactly7", 7) == ["exactly", "xactly7"]


@pytest.mark.parametrize("family", FAMILIES)
def test_batch_vs_per_doc_parity(family):
    """The batch kernel must be bit-identical to the family's per-doc
    reference — sig, bands, simhash, content hash — including degenerate
    docs."""
    rng = np.random.RandomState(3)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    texts = [
        " ".join(rng.choice(words, size=rng.randint(1, 200)).tolist())
        for _ in range(40)
    ]
    texts += ["", "ab", "exactly", "  spaces   and\ttabs \n newlines  "]
    ch_b, sig_b, bands_b, sim_b = assert_kernel_matches_per_doc(texts, family)
    # worker-lifetime scratch buffers must not leak state across calls
    ch_2, sig_2, bands_2, sim_2 = kernel(texts, family)
    assert ch_2 == ch_b and (sig_2 == sig_b).all()
    assert (bands_2 == bands_b).all() and (sim_2 == sim_b).all()


@pytest.mark.parametrize("family", FAMILIES)
def test_batch_parity_property(family):
    """Property test: arbitrary unicode (astral chars, whitespace runs,
    combining marks, exact-k-boundary lengths) — the batch kernel must be
    bit-identical to the per-doc reference for every generated corpus."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        st.lists(
            st.text(
                alphabet=st.characters(
                    codec="utf-32-le", categories=("L", "N", "P", "Z", "M", "S")
                ),
                min_size=0,
                max_size=40,
            ),
            min_size=1,
            max_size=8,
        )
    )
    def check(texts):
        assert_kernel_matches_per_doc(texts, family)

    check()


@pytest.mark.parametrize("family", FAMILIES)
def test_batch_parity_across_chunk_budget(family):
    """Same parity with docs big enough to cross BOTH the 1M-codepoint
    sub-batch budget (doc-range chunking) and many _CHUNK_ELEMS blocks
    inside the batched passes — boundary windows must still hash with
    their own doc's codepoints."""
    rng = np.random.RandomState(7)
    # 280 words: ~4.8k distinct shingles per doc, so the token streams of
    # the MinHash/SimHash passes cross _CHUNK_ELEMS blocks too
    words = [
        f"{w}{i}"
        for w in ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")
        for i in range(40)
    ]
    texts = [
        " ".join(rng.choice(words, size=7000).tolist())  # ~54k chars each
        for _ in range(24)
    ]
    texts.insert(7, "tiny")  # a short doc wedged between giants
    texts.insert(19, "")
    assert_kernel_matches_per_doc(texts, family, rows=(0, 7, 8, 19, 20, len(texts) - 1))
