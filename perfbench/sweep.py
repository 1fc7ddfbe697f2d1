#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and report each metric's median
and spread (interquartile distance ÷ median), the steadiness test the
benchmark's bounds are checked with.

    python3 perfbench/sweep.py --seeds 1-10 [--workloads crawl_mix,dup_dense]
                               [--trace 0] [--out results.json]

Run it from the repository root. Runs are sequential (one benchmark
process at a time). Raw per-run values go to --out when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()

    raw: dict[str, list[dict]] = {}
    for wl in args.workloads.split(","):
        for seed in args.seeds:
            cmd = spec["command"] + ["--workload", wl, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]),
                                     "--trace", str(args.trace)]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            raw.setdefault(wl, []).append({"seed": seed, "wall_s": wall, "result": res})
            if res is None:
                print(f"{wl} seed {seed}: FAILED rc={p.returncode}\n{p.stderr[-2000:]}",
                      file=sys.stderr)
                continue
            vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
            print(f"{wl} seed {seed}: {wall:.1f}s correct={res['correct']} "
                  f"{json.dumps(vals) if args.trace == 0 else ''}", file=sys.stderr, flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(raw, f, indent=1)

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for wl, runs in raw.items():
        ok = [r["result"] for r in runs if r["result"]]
        print(f"\n{wl}: {len(ok)}/{len(runs)} runs ok, all correct: "
              f"{all(r['correct'] for r in ok)}, run wall median "
              f"{statistics.median(r['wall_s'] for r in runs):.1f}s max "
              f"{max(r['wall_s'] for r in runs):.1f}s")
        if len(ok) < 2:
            continue
        for name in ok[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in ok]
            med = statistics.median(vals)
            sp = spread(vals) if med and len(vals) >= 2 else 0.0
            b = bounds.get(name)
            flag = "" if b is None else f" bound {b} ({'ok' if sp <= b / 3 else 'WIDE'})"
            print(f"  {name:36s} median {med:12.4f} {ok[0]['metrics'][name]['unit']:7s} "
                  f"spread {sp:.3f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
