"""Traced run: per-layer metrics from one session with the Spark UI on.

Each layer's public function is called on its own, on the stage
checkpoints of one completed pipeline run, and materialized to the `noop`
sink. Every call gets a span (parent: the workload span) and the Spark
SQL metrics of the executions it spawned. Layer names are the program's
module names.
"""

from __future__ import annotations

import os
import statistics
import sys

import checks
import probe

# name -> unit, in output order. Every traced run reports all of them; a
# layer or extra (WORKLOADS[...]["traced"]) the workload does not run
# reports 0.
PER_LAYER_UNITS = {
    "pipeline.extracted_s": "s",
    "pipeline.signatures_s": "s",
    "pipeline.pairs_s": "s",
    "pipeline.substring_pairs_s": "s",
    "pipeline.clusters_s": "s",
    "pipeline.docs_dedup_s": "s",
    "pipeline.other_s": "s",
    "pipeline.jobs": "count",
    "pipeline.bytes_written": "bytes",
    "pipeline.partition_skew": "ratio",
    "extraction.extract_pages_s": "s",
    "extraction.python_s": "s",
    "extraction.error_rows": "count",
    "signatures.with_signatures_s": "s",
    "signatures.python_s": "s",
    "signatures.python_bytes_sent": "bytes",
    "lsh.band_rows": "count",
    "lsh.cap_dropped_rows": "count",
    "lsh.candidate_pairs": "count",
    "lsh.verified_pairs": "count",
    "lsh.verify_yield": "ratio",
    "lsh.verified_pairs_s": "s",
    "lsh.shuffle_bytes": "bytes",
    "simhash.band_rows": "count",
    "simhash.cap_dropped_rows": "count",
    "simhash.pairs": "count",
    "simhash.simhash_pairs_s": "s",
    "simhash.shuffle_bytes": "bytes",
    "substring.candidate_pairs": "count",
    "substring.extent_pairs": "count",
    "substring.yield": "ratio",
    "substring.winnow_doc_pairs_s": "s",
    "substring.substring_extents_s": "s",
    "substring.python_s": "s",
    "cc.edges": "count",
    "cc.connected_components_s": "s",
    "cc.star_loop_s": "s",
    "cc.iterations": "count",
    "cc.jobs": "count",
    "final.final_table_s": "s",
    "session.get_spark_s": "s",
    "session.ensure_py_files_s": "s",
    "session.warmup_s": "s",
    "registry.trigram_jaccard_pairs_s": "s",
    "registry.embedding_dup_pairs_s": "s",
    "registry.ann_topk_s": "s",
    "registry.media_phash_pairs_s": "s",
    "registry.minhash_verified_pairs_s": "s",
    "registry.simhash_pairs_s": "s",
    "registry.substring_pairs_s": "s",
    "registry.driver_s": "s",
    "registry.python_s": "s",
    "registry.shuffle_bytes": "bytes",
    "registry.executions": "count",
    "trace.pipeline_wall_s": "s",
    "scaling.docs_per_s_n1": "docs/s",
    "scaling.efficiency": "ratio",
}

# Registry queries run on generated tables: the four leaves whose earlier
# speedups ROADMAP lists as disputed, plus the md5 oracle family of the
# pipeline's own operators.
REGISTRY_SLICE = (
    "trigram_jaccard_pairs",
    "embedding_dup_pairs",
    "ann_topk",
    "media_phash_pairs",
    "minhash_verified_pairs",
    "simhash_pairs",
    "substring_pairs",
)
REGISTRY_DOCS = 500
REGISTRY_VECS = 500
CONTAINMENT_GATE = 0.9

PY_S = "time to run Python workers"
PY_SENT = "data sent to Python workers"
SHUFFLE = "shuffle bytes written"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def materialize(df):
    """Compute every row and column once and keep the result (for a
    follow-up count or check) — the cost of a noop write plus storage."""
    return df.localCheckpoint(eager=True)


def partition_skew(lineage_dir: str) -> float:
    """Largest max/median rows-per-partition ratio over the lineage
    table's stages."""
    import pyarrow.parquet as pq

    t = pq.read_table(lineage_dir).to_pydict()
    per_stage: dict[str, list[int]] = {}
    for stage, rows in zip(t["stage"], t["rows"]):
        per_stage.setdefault(stage, []).append(rows)
    return max(max(r) / max(statistics.median(r), 1) for r in per_stage.values())


def traced_run(b) -> dict:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from quarrycore_spark.config import DEFAULT_CONFIG as CFG
    from quarrycore_spark.config import LSH_BUCKET_CAP
    from quarrycore_spark.extraction.canonical import extract_pages
    from quarrycore_spark.operators import cc
    from quarrycore_spark.operators.lsh import band_buckets, candidate_pairs, verified_pairs
    from quarrycore_spark.operators.signatures import with_signatures
    from quarrycore_spark.operators.simhash import simhash_bands, simhash_pairs
    from quarrycore_spark.plans.pipeline import final_table

    spans = probe.Spans(f"{b.workload}-s{b.seed}")
    m: dict[str, float] = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    attempted = failed = 0
    ref_pairs = checks.simulate_reference(b.rows)
    os.environ["SPARK_GRAFT_STAGE_FILES"] = str(4 * b.cores)

    with spans.span("workload", workload=b.workload, seed=b.seed) as root:
        with spans.span("setup", parent="workload"):
            setup = b.open_session(b.cores)
        for k in ("get_spark_s", "ensure_py_files_s", "warmup_s"):
            m[f"session.{k}"] = setup[k]
        spark = b.spark
        rest = probe.RestHarvest(spark)

        def call(name: str, fn, metric: str | None = None):
            """Run one layer call in a span, its wall going to `metric`;
            returns (result, REST counters of the call)."""
            rest.mark()
            with spans.span(name, parent="workload") as s:
                out = fn()
            h = rest.harvest()
            spans.items[-1].update({"executions": h["executions"], "jobs": h["jobs"],
                                    "python_s": h[PY_S], "shuffle_bytes": h[SHUFFLE]})
            if metric:
                m[metric] = s.wall
            return out, h

        # ---- the pipeline itself --------------------------------------
        attempted += 1
        (out, res), h = call("run_pipeline", lambda: b.run_pipeline(b.pages_path, "traced"),
                             "trace.pipeline_wall_s")
        wall = m["trace.pipeline_wall_s"]
        stages = {x["stage"]: x.get("wall_s") or 0.0 for x in res.metrics if "wall_s" in x}
        for st in ("extracted", "signatures", "pairs", "substring_pairs", "clusters", "docs_dedup"):
            m[f"pipeline.{st}_s"] = stages.get(st, 0.0)
        m["pipeline.other_s"] = wall - sum(stages.values())
        m["pipeline.jobs"] = h["jobs"]
        m["pipeline.bytes_written"] = h["written output"]
        m["pipeline.partition_skew"] = partition_skew(os.path.join(out, "lineage"))
        verdict = b.check_output(out, ref_pairs)
        if not verdict["ok"]:
            failed += 1

        # ---- per-layer calls on the stage checkpoints ------------------
        par = spark.sparkContext.defaultParallelism
        pages = spark.read.parquet(b.pages_path)
        src = pages if pages.rdd.getNumPartitions() >= par else pages.repartition(par)
        _, h = call("extract_pages", lambda: noop(extract_pages(src)),
                    "extraction.extract_pages_s")
        m["extraction.python_s"] = h[PY_S]
        extracted = spark.read.parquet(os.path.join(out, "extracted"))
        m["extraction.error_rows"] = extracted.filter(F.col("extract_error").isNotNull()).count()

        w = Window.partitionBy("content_hash").orderBy("warc_ts", "url")
        docs = (
            extracted.select("doc_id", "url", "warc_ts", "content_hash")
            .withColumn("is_exact_canonical", F.row_number().over(w) == 1)
            .localCheckpoint()
        )
        survivors = (
            docs.filter("is_exact_canonical").select("doc_id")
            .join(extracted.select("doc_id", F.col("extracted_text").alias("text")), "doc_id")
            .localCheckpoint()
        )
        _, h = call("with_signatures",
                    lambda: noop(with_signatures(survivors, CFG, family="poly")),
                    "signatures.with_signatures_s")
        m["signatures.python_s"] = h[PY_S]
        m["signatures.python_bytes_sent"] = h[PY_SENT]

        sigs = spark.read.parquet(os.path.join(out, "signatures"))
        (kept, all_rows), _ = call("band_buckets", lambda: (
            band_buckets(sigs).count(), band_buckets(sigs, cap=1 << 62).count()))
        m["lsh.band_rows"] = kept
        m["lsh.cap_dropped_rows"] = all_rows - kept
        m["lsh.candidate_pairs"], _ = call("candidate_pairs",
                                           lambda: candidate_pairs(sigs).count())
        vp, h = call("verified_pairs", lambda: materialize(verified_pairs(sigs, CFG)),
                     "lsh.verified_pairs_s")
        m["lsh.shuffle_bytes"] = h[SHUFFLE]
        m["lsh.verified_pairs"] = vp.count()
        m["lsh.verify_yield"] = m["lsh.verified_pairs"] / max(m["lsh.candidate_pairs"], 1)

        def simhash_bucket_rows():
            sizes = simhash_bands(sigs, CFG).groupBy("bkey").count()
            r = sizes.agg(
                F.sum(F.when(F.col("count").between(2, LSH_BUCKET_CAP), F.col("count")))
                .alias("kept"),
                F.sum(F.when(F.col("count") > LSH_BUCKET_CAP, F.col("count"))).alias("dropped"),
            ).collect()[0]
            return r["kept"] or 0, r["dropped"] or 0

        (m["simhash.band_rows"], m["simhash.cap_dropped_rows"]), _ = call(
            "simhash_bands", simhash_bucket_rows)
        sp, h = call("simhash_pairs", lambda: materialize(simhash_pairs(sigs, CFG)),
                     "simhash.simhash_pairs_s")
        m["simhash.shuffle_bytes"] = h[SHUFFLE]
        m["simhash.pairs"] = sp.count()

        if "substring" in b.spec["traced"]:
            from quarrycore_spark.operators.substring import substring_extents, winnow_doc_pairs

            mo = CFG.min_overlap
            cand, _ = call("winnow_doc_pairs",
                           lambda: materialize(winnow_doc_pairs(survivors, mo)),
                           "substring.winnow_doc_pairs_s")
            m["substring.candidate_pairs"] = cand.count()
            ext, h = call("substring_extents",
                          lambda: materialize(substring_extents(survivors, cand, mo)),
                          "substring.substring_extents_s")
            m["substring.python_s"] = h[PY_S]
            m["substring.extent_pairs"] = ext.count()
            # planted containment pairs must come out as contains/contained_in
            ids = dict(extracted.select("url", "doc_id").collect())
            id_of = [ids[r.url] for r in b.rows]
            found = {(r.a_id, r.b_id): r.match_type
                     for r in ext.select("a_id", "b_id", "match_type").collect()}
            attempted += 1
            if checks.containment_found(b.rows, id_of, found) < CONTAINMENT_GATE:
                failed += 1
            m["substring.yield"] = m["substring.extent_pairs"] / max(m["substring.candidate_pairs"], 1)

        pairs = spark.read.parquet(os.path.join(out, "pairs"))
        canon = docs.filter("is_exact_canonical").select(
            "content_hash", F.col("doc_id").alias("canon_id"))
        exact_edges = (
            docs.filter(~F.col("is_exact_canonical")).select("content_hash", "doc_id")
            .join(canon, "content_hash")
            .select(F.col("doc_id").alias("u"), F.col("canon_id").alias("v"))
        )
        edges = exact_edges.union(
            pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        ).distinct().localCheckpoint()
        m["cc.edges"] = edges.count()

        def components(name: str, small_graph_edges: int, metric: str):
            return call(name, lambda: materialize(cc.connected_components(
                edges, docs.select("doc_id"),
                checkpoint_dir=os.path.join(b.work, name), resume=False,
                small_graph_edges=small_graph_edges,
            )), metric)

        # as the pipeline calls it (driver union-find up to 100k edges, the
        # distributed large-star/small-star loop above) ...
        clusters, h = components("connected_components", 100_000, "cc.connected_components_s")
        solved = [clusters]
        if cc.LAST_ITERATIONS == -1:
            # ... and, when that was the union-find, with the loop forced
            star, h = components("star_loop", 0, "cc.star_loop_s")
            solved.append(star)
        else:
            m["cc.star_loop_s"] = m["cc.connected_components_s"]
        m["cc.iterations"] = cc.LAST_ITERATIONS
        m["cc.jobs"] = h["jobs"]
        # the layer on its own, both paths, must reproduce the pipeline
        theirs = sorted(map(tuple, spark.read.parquet(os.path.join(out, "clusters"))
                            .select("doc_id", "cluster_id").collect()))
        for got in solved:
            attempted += 1
            if sorted(map(tuple, got.select("doc_id", "cluster_id").collect())) != theirs:
                failed += 1

        mh = pairs.filter(F.col("kind") == "minhash")
        sh = pairs.filter(F.col("kind") == "simhash")
        call("final_table",
             lambda: noop(final_table(extracted, docs, clusters, mh, sh, CFG)),
             "final.final_table_s")

        # ---- registry slice ---------------------------------------------
        if "registry" in b.spec["traced"]:
            reg = registry_slice(b, spark, rest, spans)
            attempted += reg.pop("attempted")
            failed += reg.pop("failed")
            m.update(reg)

        # ---- N vs 1 scaling legs ------------------------------------------
        # The same job on the same input with the same stage-file count,
        # timed the same way at local[nproc] and at local[1]: each in a
        # context restarted in the now-warm JVM, its Python workers warmed,
        # no REST harvest during the job; the UI is on in both legs.
        if "scaling" in b.spec["traced"]:
            legs = {}
            for cores in (b.cores, 1):
                b.close_session()
                with spans.span(f"setup_n{cores}", parent="workload"):
                    b.open_session(cores, warmup="workers")
                attempted += 1
                with spans.span(f"run_pipeline_n{cores}", parent="workload") as s:
                    out_n, _ = b.run_pipeline(b.pages_path, f"traced-n{cores}")
                legs[cores] = s.wall
                res_n = b.check_output(out_n, ref_pairs)
                if not res_n["ok"] or res_n["assignment"] != verdict["assignment"]:
                    failed += 1
            m["scaling.docs_per_s_n1"] = len(b.rows) / legs[1]
            m["scaling.efficiency"] = (legs[1] / legs[b.cores]) / b.cores

    trace_dir = os.path.join(os.path.dirname(b.work), "traces")
    os.makedirs(trace_dir, exist_ok=True)
    spans.write(os.path.join(trace_dir, f"{b.workload}-s{b.seed}.json"))
    print(f"# traced run: {root.wall:.1f}s, pipeline {m['trace.pipeline_wall_s']:.2f}s",
          file=sys.stderr, flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": PER_LAYER_UNITS[k]} for k, v in m.items()},
    }


def registry_slice(b, spark, rest, spans) -> dict:
    """REGISTRY_SLICE on generated tables. Per query: one untimed collect
    checked against the DuckDB oracle (row count + order-insensitive value
    hash), which also warms the query, then one timed noop write."""
    import duckdb

    import corpora
    from quarrycore_spark.plans.registry import REGISTRY

    sf = os.path.join(b.work, "registry_sf")
    corpora.write_registry_tables(sf, b.seed, REGISTRY_DOCS, REGISTRY_VECS)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf, t)}.parquet'")
    out = {"attempted": 0, "failed": 0}
    tot = {"wall": 0.0, "exec": 0.0, "py": 0.0, "shuffle": 0.0, "executions": 0}
    for name in REGISTRY_SLICE:
        q = REGISTRY[name]
        out["attempted"] += 1
        sdf = q.run_spark(spark, sf)
        cols = sorted(sdf.columns)
        got = checks.value_hash(tuple(r[c] for c in cols) for r in sdf.collect())
        rel = con.sql(q.oracle())
        dcols = sorted(rel.columns)
        idx = [rel.columns.index(c) for c in dcols]
        want = checks.value_hash(tuple(r[i] for i in idx) for r in rel.fetchall())
        if cols != dcols or got != want:
            print(f"# registry {name}: parity FAILED spark={got} duckdb={want}",
                  file=sys.stderr, flush=True)
            out["failed"] += 1
        rest.mark()
        with spans.span(f"registry.{name}", parent="workload") as s:
            noop(q.run_spark(spark, sf))
        h = rest.harvest()
        out[f"registry.{name}_s"] = s.wall
        tot["wall"] += s.wall
        tot["exec"] += h["exec_s"]
        tot["py"] += h[PY_S]
        tot["shuffle"] += h[SHUFFLE]
        tot["executions"] += h["executions"]
    out["registry.driver_s"] = tot["wall"] - tot["exec"]
    out["registry.python_s"] = tot["py"]
    out["registry.shuffle_bytes"] = tot["shuffle"]
    out["registry.executions"] = tot["executions"]
    return out
