#!/usr/bin/env python3
"""quarrycore_spark benchmark: dedup pipeline workloads, checked outputs,
end-to-end metrics (timed run) or per-layer metrics (traced run).

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last stdout line is one JSON object
with `correct`, `attempted`, `failed` and `metrics`; all Spark and
progress output goes to stderr.

Load model: a closed loop with one client. The harness submits one
pipeline job at a time and waits for it; nothing else runs on the
session. Cores come from the process's CPU affinity (what `nproc`
prints), never from the `SPARK_GRAFT_CPUS=32` fallback of `get_spark`.

Timed run (`--trace 0`): one session at local[nproc] in a fresh JVM.
Set-up is `get_spark`, shipping the package and one untimed warm-up
pipeline on a small fixed corpus; then pipeline jobs on the workload's
corpus run for `--seconds` (at least one, and none that would overrun).
Every job's output is checked after its timer stops; a failed check
counts that job as failed.

Traced run (`--trace 1`): one session with the Spark UI on loopback.
It runs the pipeline once, calls each layer's public function on the
stage checkpoints of that run, materializes each result to the `noop`
sink, and records a span and the Spark REST metrics per call. On
dup_dense a slice of the query registry runs on generated
`documents`/`embeddings` tables and is checked against its DuckDB oracle.
On crawl_mix, last, the job runs again in contexts restarted at
local[nproc] and at local[1], the N-vs-1 scaling legs. Spans are written
to `.perfbench_work/traces/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# Corpus size, pipeline options and the traced run's extra parts per
# workload. Both time the north-rule detection pipeline (checkpointed,
# substring stage off, as plans/bench_pipeline.py runs it): with the
# substring stage on, a timed run no longer fits the benchmark's time
# budget on a 4-vCPU host. The traced run's extras are split so that each
# traced run stays well inside its time limit: the substring layer and the
# N-vs-1 scaling legs on crawl_mix, the registry slice on dup_dense.
WORKLOADS = {
    # the typical crawl: all eight FIXTURES populations, 40% hot domain
    "crawl_mix": {"pages": 2500, "pipeline": {"substring": False},
                  "traced": ("substring", "scaling")},
    # near-identical cliques: pair generation dominates; a template
    # population overflows LSH_BUCKET_CAP in one band. The substring layer
    # is not traced here (it is quadratic in clique size).
    "dup_dense": {"pages": 1600, "pipeline": {"substring": False},
                  "traced": ("registry",)},
}

RECALL_GATE = 0.99

END_TO_END_UNITS = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "dup_recall": "ratio",
    "peak_rss_mb": "MB",
}


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout and the UI on
    loopback. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    # no hsperfdata files in the system temp dir, for every JVM spark-submit
    # starts (its launcher included)
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


class Bench:
    def __init__(self, workload: str, seed: int, work: str, ui: bool, pages: int | None = None):
        self.workload = workload
        self.seed = seed
        self.work = work
        self.ui = ui
        self.spec = WORKLOADS[workload]
        self.pages = pages or self.spec["pages"]
        self.cores = host_cores()
        self.spark = None

    # -- session ------------------------------------------------------------
    def open_session(self, cores: int, warmup: str = "pipeline") -> dict:
        """get_spark + ensure_py_files + warm-up; returns the phase walls.

        warmup="pipeline": the untimed warm-up pipeline on the small fixed
        corpus (a fresh JVM: JIT, codegen, parquet writers, Python workers).
        warmup="workers": a context restarted in an already-warm JVM only
        needs its Python workers started and the kernels imported, so it
        runs extraction and signatures on a few rows.
        warmup="none": nothing (smoke mode).
        """
        from quarrycore_spark.session import ensure_py_files, get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.ui.enabled": "true" if self.ui else "false",
            "spark.ui.port": "0",
        }
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", cores=cores, extra_conf=conf)
        t1 = time.perf_counter()
        ensure_py_files(self.spark)
        t2 = time.perf_counter()
        if warmup == "pipeline":
            out, _ = self.run_pipeline(self.warm_path, "warmup")
            shutil.rmtree(out, ignore_errors=True)
        elif warmup == "workers":
            self.warm_workers()
        t3 = time.perf_counter()
        return {"get_spark_s": t1 - t0, "ensure_py_files_s": t2 - t1, "warmup_s": t3 - t2,
                "setup_s": t3 - t0}

    def warm_workers(self) -> None:
        from pyspark.sql import functions as F

        from quarrycore_spark.extraction.canonical import extract_pages
        from quarrycore_spark.operators.signatures import with_signatures

        few = self.spark.read.parquet(self.warm_path).limit(8)
        extract_pages(few).write.format("noop").mode("overwrite").save()
        docs = few.select(F.xxhash64("url").alias("doc_id"), "text")
        with_signatures(docs, family="poly").write.format("noop").mode("overwrite").save()

    def close_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown_jvm(self) -> None:
        """Stop the py4j JVM (and with it the Python workers) and wait."""
        from pyspark import SparkContext

        self.close_session()
        # `session.ensure_py_files` zips the package to this fixed path (not
        # TMPDIR); Spark keeps its own copy, so the zip can go now
        zip_path = os.path.join("/tmp", f"quarrycore_spark_{os.getpid()}.zip")
        if os.path.exists(zip_path):
            os.remove(zip_path)
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — already gone
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        wait_children()

    # -- inputs -------------------------------------------------------------
    def make_inputs(self) -> None:
        import corpora

        self.rows = corpora.WORKLOADS[self.workload](self.pages, self.seed)
        self.pages_path = os.path.join(self.work, "pages")
        corpora.write_pages(self.rows, self.pages_path, files=self.cores)
        self.warm_path = os.path.join(self.work, "warmup")
        corpora.write_pages(corpora.warmup_pages(), self.warm_path, files=self.cores)
        self.index_of = {r.url: i for i, r in enumerate(self.rows)}

    def run_pipeline(self, pages_path: str, tag: str):
        from quarrycore_spark.plans.pipeline import run_pipeline

        out = os.path.join(self.work, f"out-{tag}")
        res = run_pipeline(
            self.spark, self.spark.read.parquet(pages_path), out,
            resume=False, **self.spec["pipeline"],
        )
        return out, res

    # -- checks -------------------------------------------------------------
    def check_output(self, out: str, ref_pairs) -> dict:
        """Recall, planted-pair gates and row count of one pipeline output."""
        import checks
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(out, "docs_dedup"),
                          columns=["url", "cluster_id"]).to_pydict()
        n = len(self.rows)
        cluster_of = [None] * n
        for url, cid in zip(t["url"], t["cluster_id"]):
            cluster_of[self.index_of[url]] = cid
        res = {
            "rows": len(t["url"]),
            "recall": checks.recall(ref_pairs, cluster_of),
            "borderline_merges": checks.borderline_merges(self.rows, cluster_of),
            "assignment": hash(tuple(cluster_of)),
        }
        res["ok"] = (
            res["rows"] == n and None not in cluster_of
            and res["recall"] >= RECALL_GATE and res["borderline_merges"] == 0
        )
        return res


def wait_children(timeout_s: float = 20.0) -> None:
    import probe

    deadline = time.time() + timeout_s
    while time.time() < deadline:
        kids = probe.children_map().get(os.getpid(), [])
        if not kids:
            return
        time.sleep(0.2)


# ---------------------------------------------------------------------------
# timed run
# ---------------------------------------------------------------------------


def timed_run(b: Bench, seconds: float) -> dict:
    import checks
    import probe

    ref_pairs = checks.simulate_reference(b.rows)
    log(f"inputs and reference ready: {len(b.rows)} pages, {len(ref_pairs)} reference pairs")
    os.environ["SPARK_GRAFT_STAGE_FILES"] = str(4 * b.cores)
    walls, results = [], []
    attempted = failed = 0
    with probe.RssSampler() as rss:
        setup = b.open_session(b.cores)
        log("set-up " + " ".join(f"{k}={v:.2f}" for k, v in setup.items()))
        end = time.perf_counter() + seconds
        while True:
            attempted += 1
            try:
                t0 = time.perf_counter()
                out, _ = b.run_pipeline(b.pages_path, f"job{attempted}")
                wall = time.perf_counter() - t0
                res = b.check_output(out, ref_pairs)
                shutil.rmtree(out, ignore_errors=True)
            except Exception as e:  # noqa: BLE001 — a failed job counts, then stop
                log(f"job failed: {type(e).__name__}: {e}")
                failed += 1
                break
            walls.append(wall)
            results.append(res)
            if not res["ok"]:
                failed += 1
            log(f"{len(b.rows)} docs in {wall:.2f}s recall={res['recall']:.4f} ok={res['ok']}")
            # stop when another job of the same length would overrun
            if time.perf_counter() + wall > end:
                break
        b.shutdown_jvm()
    if not walls:
        return {"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}
    metrics = {
        "setup_s": setup["setup_s"],
        "docs_per_s": len(b.rows) / statistics.median(walls),
        "dup_recall": min(r["recall"] for r in results),
        "peak_rss_mb": rss.peak / (1 << 20),
    }
    log(f"walls={[round(w, 2) for w in walls]} "
        f"driver_mem={os.environ.get('SPARK_DRIVER_MEM', '48g (get_spark default)')}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()},
    }


# ---------------------------------------------------------------------------
# smoke mode
# ---------------------------------------------------------------------------

SMOKE_PAGES = 150


def smoke(seed: int) -> dict:
    """Every workload at SMOKE_PAGES pages in one session, no warm-up, no
    timing: one pipeline run each, with the output checks."""
    import checks

    work = os.path.join(WORK_ROOT, f"smoke-{os.getpid()}")
    prepare_env(work)
    result = {"correct": True, "workloads": {}}
    spark, b = None, None
    try:
        for name in WORKLOADS:
            b = Bench(name, seed, os.path.join(work, name), ui=False, pages=SMOKE_PAGES)
            b.make_inputs()
            if spark is None:
                b.open_session(b.cores, warmup="none")
                spark = b.spark
            b.spark = spark
            t0 = time.perf_counter()
            out, _ = b.run_pipeline(b.pages_path, "smoke")
            wall = time.perf_counter() - t0
            res = b.check_output(out, checks.simulate_reference(b.rows))
            result["workloads"][name] = {"wall_s": wall, "recall": res["recall"], "ok": res["ok"]}
            result["correct"] = result["correct"] and res["ok"]
    finally:
        if b is not None:
            b.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny corpora, all workloads, one session (no metrics)")
    args = ap.parse_args(argv)
    if not args.smoke and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    sys.path.insert(0, ROOT)
    try:
        import quarrycore_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test: {e}")
        return 2

    if args.smoke:
        result = smoke(args.seed or 1)
        print(json.dumps(result))
        return 0 if result["correct"] else 1

    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-{os.getpid()}")
    prepare_env(work)
    b = Bench(args.workload, args.seed, work, ui=bool(args.trace))
    try:
        b.make_inputs()
        if args.trace:
            import traced

            result = traced.traced_run(b)
        else:
            result = timed_run(b, args.seconds)
    finally:
        b.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    log("done")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
