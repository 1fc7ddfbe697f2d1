"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke test starts Spark (about 50 s); the others are pure Python.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import corpora  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for base, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(base, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("workload", sorted(corpora.WORKLOADS))
def test_pages_parquet_is_a_function_of_the_seed(tmp_path, workload):
    gen = corpora.WORKLOADS[workload]
    digests = []
    for run, seed in enumerate((3, 3, 4)):
        path = str(tmp_path / f"{run}")
        corpora.write_pages(gen(300, seed), path, files=4)
        digests.append(_digest(path))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_registry_tables_are_a_function_of_the_seed(tmp_path):
    digests = []
    for run, seed in enumerate((3, 3, 4)):
        path = str(tmp_path / f"{run}")
        corpora.write_registry_tables(path, seed, docs=200, vecs=100)
        digests.append(_digest(path))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_recall_scores_planted_pairs():
    pairs = {(0, 1), (0, 2), (3, 4), (5, 6)}
    # rows 0-2 together, 3/4 split, 5/6 together: 3 of 4 pairs kept
    cluster_of = [0, 0, 0, 3, 4, 5, 5]
    assert checks.recall(pairs, cluster_of) == 0.75
    assert checks.recall(set(), cluster_of) == 1.0


def test_reference_finds_every_clique_pair_and_no_borderline_pair():
    rows = corpora.dup_dense(400, seed=5, clique_size=(10, 14))
    ref = checks.simulate_reference(rows)
    cliques: dict[int, list[int]] = {}
    for i, r in enumerate(rows):
        if r.population == "clique":
            cliques.setdefault(r.group_id, []).append(i)
    clustered = list(range(len(rows)))
    for members in cliques.values():
        for i in members:
            clustered[i] = members[0]
    # every clique member pairs with an earlier member of its clique, so
    # clustering by clique keeps every reference pair among clique rows
    clique_pairs = {(i, j) for i, j in ref if rows[i].population == "clique"}
    assert clique_pairs
    assert checks.recall(clique_pairs, clustered) == 1.0
    assert not any(rows[i].population == "borderline" for i, _ in ref)
    assert checks.borderline_merges(rows, clustered) == 0
    # putting a borderline pair in one cluster is caught
    i, j = checks.planted_groups(rows, "borderline")[0]
    clustered[j] = clustered[i]
    assert checks.borderline_merges(rows, clustered) == 1


def test_template_pages_overflow_one_band_bucket_without_dup_pairs():
    import numpy as np

    from quarrycore_spark.config import DEFAULT_CONFIG as CFG
    from quarrycore_spark.config import LSH_BUCKET_CAP
    from quarrycore_spark.extraction.canonical import cascade_extract
    from quarrycore_spark.operators.signatures import _batch_signatures_poly

    import run

    rows = corpora.dup_dense(run.WORKLOADS["dup_dense"]["pages"], seed=5)
    tmpl = [r for r in rows if r.population == "template"]
    assert len(tmpl) > LSH_BUCKET_CAP
    # the texts the pipeline signs share one value in the template band ...
    a = np.array([p[0] for p in CFG.minhash_perms], dtype=np.int64)
    b = np.array([p[1] for p in CFG.minhash_perms], dtype=np.int64)
    texts = [cascade_extract(r.html, url=r.url, lang=r.lang)[0] for r in tmpl]
    _, _, bands, _ = _batch_signatures_poly(texts, CFG, a, b)
    assert len({int(bd[corpora.TEMPLATE_BAND]) for bd in bands}) == 1
    # ... and share no value in the others beyond chance
    for k in range(CFG.lsh_bands):
        if k != corpora.TEMPLATE_BAND:
            assert len({int(bd[k]) for bd in bands}) > 0.9 * len(tmpl)
    # no template page is a duplicate of another, by the reference
    ref = checks.simulate_reference(rows)
    assert not any(rows[i].population == "template" for pair in ref for i in pair)


def test_value_hash_is_order_insensitive_and_normalizes_floats():
    a = checks.value_hash([(1, "x", 0.1234567), (2, "y", -0.0)])
    b = checks.value_hash([(2, "y", 0.0), (1, "x", 0.12345671)])
    assert a == b
    assert a != checks.value_hash([(1, "x", 0.1234567)])


def test_smoke_runs_every_workload(tmp_path):
    """Tiny corpora, one session, every workload's pipeline and checks."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        capture_output=True, text=True, timeout=170,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], result
    assert set(result["workloads"]) == set(corpora.WORKLOADS)
