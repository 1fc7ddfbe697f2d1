"""Output checks. All of them run outside the timed window.

`simulate_reference` is the arrival-order reference the recall gate is
scored against: the QuarryCore HybridDeduplicator semantics (exact sha256
layer with first-writer-wins, then MinHash-LSH query-before-insert with
signature-agreement verification), under the pipeline's own shingle /
permutation / banding configuration.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterable, Sequence

import numpy as np

from quarrycore_spark.config import DEFAULT_CONFIG as CFG
from quarrycore_spark.extraction.canonical import canonicalize_html
from quarrycore_spark.operators.signatures import _batch_signatures_poly, normalize_text


def simulate_reference(rows: Sequence) -> set[tuple[int, int]]:
    """Dup pairs (earlier row index, later row index) found by the
    arrival-order reference over `rows` (PageRow-like: url, warc_ts, html,
    text)."""
    a = np.array([p[0] for p in CFG.minhash_perms], dtype=np.int64)
    b = np.array([p[1] for p in CFG.minhash_perms], dtype=np.int64)
    order = sorted(range(len(rows)), key=lambda i: (rows[i].warc_ts, rows[i].url))
    content = [
        hashlib.sha256(normalize_text(canonicalize_html(r.html)).encode("utf-8")).hexdigest()
        for r in rows
    ]
    # the batch kernel is bit-identical to the per-doc `doc_signature`
    # (pinned by the repo's signature parity tests) and several times cheaper
    _, sigs, bands, _ = _batch_signatures_poly([r.text for r in rows], CFG, a, b)
    first: dict[str, int] = {}
    buckets: dict[tuple[int, int], list[int]] = {}
    pairs: set[tuple[int, int]] = set()
    for i in order:
        if content[i] in first:
            pairs.add((first[content[i]], i))
            continue
        first[content[i]] = i
        cands: set[int] = set()
        for bi, bh in enumerate(bands[i]):
            cands.update(buckets.get((bi, int(bh)), ()))
        for j in cands:
            if int((sigs[j] == sigs[i]).sum()) * 100 >= CFG.num_perm * CFG.jaccard_threshold_pct:
                pairs.add((j, i))
        for bi, bh in enumerate(bands[i]):
            buckets.setdefault((bi, int(bh)), []).append(i)
    return pairs


def recall(pairs: Iterable[tuple[int, int]], cluster_of: Sequence) -> float:
    """Share of reference pairs whose two rows landed in one cluster.
    `cluster_of[i]` is the cluster id of row i."""
    pairs = list(pairs)
    if not pairs:
        return 1.0
    hit = sum(1 for i, j in pairs if cluster_of[i] == cluster_of[j])
    return hit / len(pairs)


def planted_groups(rows: Sequence, population: str) -> list[list[int]]:
    groups: dict[int, list[int]] = {}
    for i, r in enumerate(rows):
        if r.population == population:
            groups.setdefault(r.group_id, []).append(i)
    return [g for g in groups.values() if len(g) == 2]


def borderline_merges(rows: Sequence, cluster_of: Sequence) -> int:
    """Planted borderline pairs (25-35% apart) that share a cluster."""
    return sum(
        1 for i, j in planted_groups(rows, "borderline") if cluster_of[i] == cluster_of[j]
    )


def containment_found(rows: Sequence, id_of: Sequence, substring: dict) -> float:
    """Share of planted containment pairs (B = A + extra) that the substring
    stage reports as contains / contained_in. `substring` maps
    (a_id, b_id) -> match_type."""
    groups = planted_groups(rows, "contain")
    if not groups:
        return 1.0
    found = 0
    for i, j in groups:
        key = (min(id_of[i], id_of[j]), max(id_of[i], id_of[j]))
        if substring.get(key) in ("contains", "contained_in"):
            found += 1
    return found / len(groups)


def value_hash(rows: Iterable[Sequence]) -> tuple[int, str]:
    """(row count, order-insensitive hash) of result rows, with the value
    normalization of the oracle parity test: floats rounded to 6 places,
    -0.0 folded to 0.0, NaN to None, every value stringified."""
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                v = None if math.isnan(v) else round(v, 6) + 0.0
            vals.append(str(v))
        out.append("\x1f".join(vals))
    out.sort()
    return len(out), hashlib.sha256("\x1e".join(out).encode("utf-8")).hexdigest()
