"""Contention harness for the signature kernel (VERDICT r5 #1).

Runs the exact per-batch work of operators/signatures.with_signatures
(family='poly') on realistic bench-corpus texts, in P concurrent worker
processes, and reports per-process wall + a per-phase split:

  prep      — normalize_text + sha256 + the family's token step
              (_family_tokens: the batched rolling hash for poly)
  minhash   — the cache-blocked MinHash pass (_minhash_pass)
  simhash   — the cache-blocked SimHash pass (_simhash_pass)
  fold      — band folding (_fold_bands)
  full_batch— the whole kernel again, as with_signatures calls it
              (_batch_signatures, with its codepoint-budget chunking)

Usage: python tools/profile_sig_kernel.py [P ...]   (default: 1 4)

Efficiency(P) = wall(1 proc) / wall(P procs each doing the SAME work).
A perfectly contention-immune kernel scores ~1.0; anything that fights
over the sandbox's serialized page-fault handler or memory bandwidth
scores below it. This is the same quantity the driver's N-vs-4N legs
expose, minus all Spark machinery.
"""
from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DOCS_PER_PROC = int(os.environ.get("PROF_DOCS", "40000"))
BATCH = 2048


def _texts(n: int) -> list[str]:
    from quarrycore_spark.sources.corpus import generate_pages

    base = [r.text for r in generate_pages(2000, seed=7)]
    out = []
    while len(out) < n:
        out.extend(base)
    return out[:n]


def worker(n_docs: int, q) -> None:
    import hashlib

    from quarrycore_spark.config import DEFAULT_CONFIG as cfg
    from quarrycore_spark.operators import signatures as S

    family = "poly"
    texts = _texts(n_docs)
    a, b = S._permutations(cfg, family)
    # warm one batch (numpy pools, import costs)
    S._batch_signatures(texts[:BATCH], cfg, a, b, family)
    names = ("prep", "minhash", "simhash", "fold", "full_batch")
    phases = dict.fromkeys(names, 0.0)
    t0 = time.time()
    for i in range(0, len(texts), BATCH):
        chunk = texts[i : i + BATCH]
        marks = [time.time()]
        nts = []
        for x in chunk:
            nt = S.normalize_text(x)
            hashlib.sha256(nt.encode("utf-8")).hexdigest()
            nts.append(nt)
        mh, mh_n, h60, h60_n = S._family_tokens(nts, cfg, family)
        marks.append(time.time())
        sig = S._minhash_pass(mh, mh_n, a, b, *S._SLOT_ARITH[family])
        marks.append(time.time())
        S._simhash_pass(h60, h60_n, cfg.simhash_bits)
        marks.append(time.time())
        S._fold_bands(sig, cfg)
        marks.append(time.time())
        S._batch_signatures(chunk, cfg, a, b, family)
        marks.append(time.time())
        for name, m0, m1 in zip(names, marks, marks[1:]):
            phases[name] += m1 - m0
    q.put({"wall": time.time() - t0, **phases})


def run(procs: int) -> dict:
    q = mp.Queue()
    ps = [mp.Process(target=worker, args=(DOCS_PER_PROC, q)) for _ in range(procs)]
    t0 = time.time()
    for p in ps:
        p.start()
    res = [q.get() for _ in ps]
    for p in ps:
        p.join()
    wall = time.time() - t0
    agg = {k: round(max(r[k] for r in res), 2) for k in res[0]}
    agg["procs"] = procs
    agg["outer_wall"] = round(wall, 2)
    return agg


if __name__ == "__main__":
    levels = [int(x) for x in sys.argv[1:]] or [1, 4]
    out = {}
    for p in levels:
        r = run(p)
        out[p] = r
        print(json.dumps(r), flush=True)
    if 1 in out and 4 in out:
        print(
            json.dumps(
                {
                    "eff_wall": round(out[1]["wall"] / out[4]["wall"], 3),
                    "eff_prep": round(out[1]["prep"] / out[4]["prep"], 3),
                    "eff_batch": round(
                        out[1]["full_batch"] / out[4]["full_batch"], 3
                    ),
                }
            )
        )
