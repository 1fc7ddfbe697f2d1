"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the
same rows, and `write_pages` / `write_registry_tables` turn them into
byte-identical parquet (pyarrow, fixed file split, no Spark-side
randomness such as `F.shuffle`). The program under test only ever sees
the parquet files.

Each page row carries a construction tag (`population`, `group_id`) that
stays on the Python side, so the output checks can name the planted pairs
without asking the engine.
"""

from __future__ import annotations

import datetime as dt
import functools
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from quarrycore_spark.config import DEFAULT_CONFIG as CFG
from quarrycore_spark.config import MERSENNE_31
from quarrycore_spark.operators.signatures import _poly_shingle_hashes
from quarrycore_spark.sources.corpus import PageRow, generate_pages

PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us"), nullable=False),
        pa.field("html", pa.binary(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)

# 100 syllable-pair words: unrelated 200-word texts share almost no
# 7-char shingles.
_VOCAB = [
    f"{a}{b}" for a in ("ka", "lo", "mi", "nu", "pe", "ro", "si", "tu", "ve", "zo")
    for b in ("ban", "cel", "dor", "fim", "gut", "hal", "jex", "kir", "lum", "mop")
]

_HTML = (
    "<html><head><title>{title}</title><script>var s = {i};</script></head>"
    "<body><h1>{title}</h1><p>{body}</p><footer>dense corpus</footer>"
    "</body></html>"
)

WARMUP_PAGES = 40
WARMUP_SEED = 7


def crawl_mix(n: int, seed: int) -> list[PageRow]:
    """The typical crawl: the FIXTURES bench variant of the repo's own
    generator (all eight populations, 40% hot domain)."""
    return generate_pages(n, seed=seed, hot_share=0.4)


def warmup_pages() -> list[PageRow]:
    """Small fixed corpus for the untimed warm-up pipeline (set-up)."""
    return generate_pages(WARMUP_PAGES, seed=WARMUP_SEED)


# dup_dense population shares and clique sizes. Cliques stay far below
# LSH_BUCKET_CAP, so none of their buckets is dropped.
CLIQUE_SHARE = 0.75
CLIQUE_SIZE = (40, 60)
# 15% of the pages (240 at 1,600) share one LSH band bucket, above
# LSH_BUCKET_CAP=200, without being duplicates of each other.
TEMPLATE_SHARE = 0.15
TEMPLATE_BAND = 0


def dup_dense(n: int, seed: int, clique_size: tuple[int, int] = CLIQUE_SIZE) -> list[PageRow]:
    """Duplicate-dense corpus: near-identical cliques dominate.

    Populations, in arrival order of their construction:
      * ``clique`` — a base text and `clique_size` variants, each with
        0.5% of its words substituted (every pair verifies at 0.85);
      * ``template`` — one shared template body plus a page-own tail of
        the same length (pages agree on about 55% of their MinHash
        values, so no pair verifies).
        Each tail is drawn so that none of its shingles takes the minimum
        of band `TEMPLATE_BAND`'s permutations from the template: every
        template page has the template's value in that band, one bucket
        above LSH_BUCKET_CAP that the cap drops;
      * ``chain`` — each doc mutates the previous one by 2% of its words,
        so components have a long diameter;
      * ``exact`` — 2–5 byte-identical pages under distinct urls;
      * ``borderline`` — pairs 25–35% apart, which must never merge;
      * ``unique`` — unrelated filler.
    Almost every page is in a duplicate component, so pair generation and
    connected components carry most of the pipeline's work.
    """
    rng = random.Random(seed)
    rows: list[PageRow] = []
    t0 = dt.datetime(2024, 1, 1)
    ts = 0
    gid = 0

    def words(k: int) -> list[str]:
        return [rng.choice(_VOCAB) for _ in range(k)]

    def mutate(base: list[str], share: float) -> list[str]:
        out = list(base)
        for _ in range(max(1, round(len(out) * share))):
            out[rng.randrange(len(out))] = rng.choice(_VOCAB)
        return out

    def emit(body: list[str], population: str, group: int, title: str) -> None:
        nonlocal ts
        i = len(rows)
        ts += rng.randrange(1, 120)
        text = " ".join(body)
        rows.append(
            PageRow(
                url=f"https://dense{i % 7}.example.org/{population}/doc-{i}",
                warc_ts=t0 + dt.timedelta(seconds=ts),
                html=_HTML.format(title=title, body=text, i=i).encode("utf-8"),
                text=f"{title} {text}",
                lang="en",
                population=population,
                group_id=group,
            )
        )

    clique_docs = round(n * CLIQUE_SHARE)
    while len(rows) < clique_docs:
        gid += 1
        base, title = words(rng.randrange(180, 240)), " ".join(words(3))
        for _ in range(min(rng.randrange(*clique_size), clique_docs - len(rows))):
            emit(mutate(base, 0.005), "clique", gid, title)
    gid += 1
    template, title = words(110), " ".join(words(3))
    band_min = _band_minhash(" ".join(template))
    for _ in range(round(n * TEMPLATE_SHARE)):
        body = template + _template_tail(rng, " ".join(template), band_min, 110)
        emit(body, "template", gid, title)
    while len(rows) < n:
        r = rng.random()
        gid += 1
        title = " ".join(words(3))
        if r < 0.35:
            cur = words(rng.randrange(180, 240))
            for _ in range(rng.randrange(6, 12)):
                emit(cur, "chain", gid, title)
                cur = mutate(cur, 0.02)
        elif r < 0.55:
            body = words(rng.randrange(120, 200))
            for _ in range(rng.randrange(2, 6)):
                emit(body, "exact", gid, title)
        elif r < 0.75:
            base = words(rng.randrange(150, 220))
            emit(base, "borderline", gid, title)
            emit(mutate(base, rng.uniform(0.25, 0.35)), "borderline", gid, title)
        else:
            emit(words(rng.randrange(120, 240)), "unique", -1, title)
    return rows[:n]


@functools.lru_cache(maxsize=1 << 14)
def _band_minhash(text: str) -> np.ndarray:
    """The MinHash values of band TEMPLATE_BAND's permutations over the
    shingles of `text` (poly family, as the pipeline signs). `text` is
    taken as normalized already: a snippet's edge spaces are shingle
    characters, not whitespace to trim."""
    rows = CFG.lsh_rows
    perms = CFG.minhash_perms[TEMPLATE_BAND * rows:(TEMPLATE_BAND + 1) * rows]
    a = np.array([p[0] for p in perms], dtype=np.int64)
    b = np.array([p[1] for p in perms], dtype=np.int64)
    hu = _poly_shingle_hashes(text, CFG.shingle_size)
    hs = (hu % np.uint64(MERSENNE_31)).astype(np.int64)
    return ((hs[:, None] * a[None, :] + b[None, :]) % MERSENNE_31).min(axis=0)


def _template_tail(rng: random.Random, head: str, band_min: np.ndarray, k: int) -> list[str]:
    """`k` random words to follow the text `head` whose shingles never
    undercut `band_min`: a word is redrawn when one of the shingles it
    ends would, the ones across the junctions on both sides included (the
    space after it too, so a kept word never leaves a dead end). A snippet
    is a word pair between spaces, so `_band_minhash`'s cache serves most."""
    tail: list[str] = []
    ctx = head[-(CFG.shingle_size - 1):]
    while len(tail) < k:
        w = rng.choice(_VOCAB)
        new = f"{ctx} {w} "
        if (_band_minhash(new) >= band_min).all():
            tail.append(w)
            ctx = new[-CFG.shingle_size:-1]
    return tail


WORKLOADS = {"crawl_mix": crawl_mix, "dup_dense": dup_dense}


def write_pages(rows: list[PageRow], path: str, files: int) -> None:
    """Write `rows` as `files` parquet files of contiguous row ranges."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(rows), files + 1).astype(int)
    for k in range(files):
        part = rows[bounds[k]:bounds[k + 1]]
        table = pa.table(
            {
                "url": [r.url for r in part],
                "warc_ts": [r.warc_ts for r in part],
                "html": [r.html for r in part],
                "text": [r.text for r in part],
                "lang": [r.lang for r in part],
            },
            schema=PAGES_SCHEMA,
        )
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))


# ---------------------------------------------------------------------------
# Registry tables: the `documents` / `embeddings` shapes of the sf* test
# tables (TESTDATA.md), generated here so the registry slice needs no
# outside data.
# ---------------------------------------------------------------------------

_DOC_VOCAB = (
    "a batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge data "
    "join vector the customer"
).split()


def documents_table(n: int, seed: int) -> pa.Table:
    """doc_id, text, lang, source, n_chars — random-word texts with a few
    exact copies, like the sf* `documents` table."""
    rng = random.Random(seed)
    texts = [
        " ".join(rng.choice(_DOC_VOCAB) for _ in range(rng.randrange(8, 100)))
        for _ in range(n)
    ]
    for _ in range(max(1, n // 600)):
        texts[rng.randrange(n)] = texts[rng.randrange(n)]
    langs = ["en"] * 4 + ["de", "es", "fr", "zh"] * 2
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": [rng.choice(langs) for _ in range(n)],
            "source": [f"src{i % 5}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(n: int, seed: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """vec_id, embedding (unit-norm float32), label — points scattered
    around `labels` centroids, like the sf* `embeddings` table."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(labels, dim))
    lab = rng.integers(0, labels, size=n)
    vec = centers[lab] + rng.normal(scale=1.5, size=(n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(lab, pa.int32()),
        }
    )


def write_registry_tables(sf_dir: str, seed: int, docs: int, vecs: int) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(documents_table(docs, seed), os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(embeddings_table(vecs, seed), os.path.join(sf_dir, "embeddings.parquet"))
