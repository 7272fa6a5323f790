#!/usr/bin/env python3
"""One sf1 scale point for the relational core (r7 verdict item 7) AND
the LLM-pipeline flagship families (r9 verdict item 2).

BASELINE.md's protocol numbers are all sf0.1; this stages a 10x corpus and
times the 44-entry TPC-H + SSB core plus a 16-entry pipeline set
(dedup funnel, ANN build+serve, text-index build+BM25 serve,
pagerank/CC), so the band claim ("~linear, no query blows past 2x the
data step") is measured instead of argued for BOTH halves of the engine.

Staging: the driver ships no sf1 testdata (and /root/testdata is
read-only), so the corpus is synthesized from sf0.1 by KEY-SALTED
replication — copy i offsets every join key (custkey/suppkey/partkey/
orderkey) by i·(max+1), so each copy joins within itself and the join
fan-outs, group cardinalities per key, and selectivities of the literal
predicates all match a genuinely larger corpus; region/nation stay fixed
(TPC-H dimensions are constant across SF by spec).

Pipeline tables get the same treatment with content salting on top of
key salting — a 10x corpus has ~10x the documents at the SAME dup rate,
not every document duplicated 10x, so naive replication would explode
every LSH bucket 10x and every candidate-pair set 100x (a quadratic
artifact of the synthesis, not of the algorithms):
- documents: copy i>0 suffixes every whitespace token with `_i` — a
  bijective token rename that preserves each copy's INTERNAL duplicate/
  shingle/co-occurrence structure exactly (so dup pairs, posting-list
  shapes and the term graph all scale ~linearly) while making cross-copy
  Jaccard ~0; n_chars is recomputed from the salted text.
- embeddings: copy i rotates each vector left by i positions — a norm-
  preserving permutation that decorrelates copies (identical vectors
  would put all 10 copies in one LSH/IVF bucket — the same quadratic
  artifact).  vec_id offsets by i·(max+1).
events stays symlinked unscaled — no events gate is in the pipeline set.

Usage: python -u scripts/sf1_bench.py   (stages to /tmp/sf1_data once,
~2 min; then the bench.py protocol: warm session, median of N_RUNS full
materializations per query).  Writes BENCH_sf1.json at the repo root and
prints one JSON line; per-query ratios vs the sf0.1 numbers in
BENCH_full.json ride along when that artifact exists.
SF1_FAMILIES=relational|pipeline|all (default all) selects the halves.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from codecdb_queryengine_spark.session import get_spark

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.environ.get("SF1_DIR", "/tmp/sf1_data")
FACTOR = int(os.environ.get("SF1_FACTOR", "10"))
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def stage(spark) -> None:
    done = os.path.join(OUT, "_STAGED")
    if os.path.exists(done):
        return
    os.makedirs(OUT, exist_ok=True)

    def rd(t):
        return spark.read.parquet(os.path.join(BASE, f"{t}.parquet"))

    for t in ("region", "nation"):
        rd(t).write.mode("overwrite").parquet(os.path.join(OUT, f"{t}.parquet"))
    strides = {
        t: rd(t).agg(F.max(k)).collect()[0][0] + 1
        for t, k in (
            ("customer", "c_custkey"),
            ("supplier", "s_suppkey"),
            ("part", "p_partkey"),
            ("orders", "o_orderkey"),
        )
    }
    offsets = {
        "customer": {"c_custkey": strides["customer"]},
        "supplier": {"s_suppkey": strides["supplier"]},
        "part": {"p_partkey": strides["part"]},
        "orders": {
            "o_orderkey": strides["orders"],
            "o_custkey": strides["customer"],
        },
        "lineitem": {
            "l_orderkey": strides["orders"],
            "l_partkey": strides["part"],
            "l_suppkey": strides["supplier"],
        },
    }
    for t, keymap in offsets.items():
        df = rd(t)
        parts = []
        for i in range(FACTOR):
            p = df
            for col, stride in keymap.items():
                p = p.withColumn(col, F.col(col) + F.lit(i * stride))
            parts.append(p)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.repartition(32).write.mode("overwrite").parquet(
            os.path.join(OUT, f"{t}.parquet")
        )
    for t in ("events", "documents", "embeddings"):
        dst = os.path.join(OUT, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(BASE, f"{t}.parquet"), dst)
    open(done, "w").close()


# The pipeline flagship set (r9 verdict item 2): the families the 100 TB
# mandate actually exercises — dedup funnel, ANN build+serve (fixed-K
# Lloyd tiers: the centroid_mod stand-in grows K with the corpus, which is
# quadratic BY CONSTRUCTION and so meaningless as a scale probe), persisted
# text index + BM25 serve, and the document graph.  All read only
# documents/embeddings.
PIPELINE = (
    "dedup_exact",
    "dedup_minhash",
    "dedup_minhash_verified",
    "dedup_simhash",
    "dedup_simhash_clusters",
    "dedup_embedding",
    "dedup_embedding_fixed4",
    "dedup_report",
    "sim_topk",
    "sim_ann_lsh",
    "sim_ann_ivf_lloyd_indexed",
    "sim_ann_ivfpq_lloyd_indexed",
    "docs_search_index",
    "docs_search_ranked",
    "docs_tfidf",
    "graph_pagerank",
    "graph_cc_chain",
)


def _dedup_embedding_fixed4(spark, sf_dir):
    """The FIXED-plane contrast twin (roles swapped in r11 — verdict
    item 2): dedup_embedding's default is now the planes-per-corpus-
    doubling policy (at this 20k staging, embdup_planes picks 7
    planes/band → 128 buckets, holding per-bucket population ~constant,
    ~linear cost), so THIS entry pins the old 4-band/4-plane config whose
    16 buckets/band saturate at 20k vectors and re-introduce the quadratic
    candidate term — the measured `embdup_fixed` law in SCALE_MEASURED.md,
    kept as the named what-the-default-used-to-cost row."""
    from codecdb_queryengine_spark.catalog import load_tables
    from codecdb_queryengine_spark.operators import dedup as D

    emb = load_tables(spark, sf_dir)["embeddings"]
    return D.embedding_near_dups(
        emb, "embedding", "vec_id", threshold=0.4, dim=64,
        bands=4, planes_per_band=4,
    )


def stage_pipeline(spark) -> None:
    """Replace the unscaled documents/embeddings symlinks with key- and
    content-salted 10x copies (see module docstring for why content
    salting is required for honest ~linear scaling)."""
    done = os.path.join(OUT, "_STAGED_PIPELINE")
    if os.path.exists(done):
        return

    def rd(t):
        return spark.read.parquet(os.path.join(BASE, f"{t}.parquet"))

    docs = rd("documents")
    doc_stride = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    parts = []
    for i in range(FACTOR):
        p = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * doc_stride))
        if i:
            p = p.withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda x: F.concat(x, F.lit(f"_{i}")),
                    ),
                    " ",
                ),
            ).withColumn("n_chars", F.length("text").cast("long"))
        parts.append(p)
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    dst = os.path.join(OUT, "documents.parquet")
    tmp = dst + ".staging"
    u.repartition(32).write.mode("overwrite").parquet(tmp)
    if os.path.islink(dst):
        os.unlink(dst)
    elif os.path.isdir(dst):
        import shutil as _sh

        _sh.rmtree(dst)
    os.rename(tmp, dst)
    # the relational half (same session) already listed this path through
    # the catalog footer pass — drop the cached file index or pipeline
    # reads resolve to the replaced part files (FILE_NOT_EXIST)
    spark.catalog.refreshByPath(dst)

    emb = rd("embeddings")
    vec_stride = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    dim = len(emb.select("embedding").first()[0])
    parts = []
    for i in range(FACTOR):
        p = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * vec_stride))
        if i:
            p = p.withColumn(
                "embedding",
                F.concat(
                    F.slice("embedding", i + 1, dim - i),
                    F.slice("embedding", 1, i),
                ),
            )
        parts.append(p)
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    dst = os.path.join(OUT, "embeddings.parquet")
    tmp = dst + ".staging"
    u.repartition(8).write.mode("overwrite").parquet(tmp)
    if os.path.islink(dst):
        os.unlink(dst)
    elif os.path.isdir(dst):
        import shutil as _sh

        _sh.rmtree(dst)
    os.rename(tmp, dst)
    spark.catalog.refreshByPath(dst)
    open(done, "w").close()


def _time_set(spark, queries, per_query: dict[str, float]) -> None:
    for name, fn in queries.items():
        times = []
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            fn(spark, OUT).collect()
            times.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        per_query[name] = round(statistics.median(times), 4)
        print(f"{name}: {per_query[name]}s", file=sys.stderr)


def main() -> int:
    from codecdb_queryengine_spark.queries import pipeline, ssb, tpch

    families = os.environ.get("SF1_FAMILIES", "all")
    # match BENCH_full's protocol (bench.py sets the same): pure-serve
    # lifecycle gates amortize their base build, so the sf1/sf0.1 ratio
    # compares serve vs serve, not build+serve vs serve
    os.environ.setdefault("SPARK_GRAFT_PREBUILT_LAYOUTS", "1")
    spark = get_spark("sf1-bench")
    stage(spark)
    per_query: dict[str, float] = {}
    pipe_query: dict[str, float] = {}
    if families in ("relational", "all"):
        queries = {g.name: g.fn for g in tpch.GATES + ssb.GATES}
        queries["q6"](spark, OUT).collect()  # warm session + IO, untimed
        _time_set(spark, queries, per_query)
    if families in ("pipeline", "all"):
        stage_pipeline(spark)
        # warm the Python worker pool + Arrow path (bench.py's rationale)
        spark.range(256).repartition(32).mapInPandas(
            lambda it: it, "id long"
        ).collect()
        pq = {
            n: (
                _dedup_embedding_fixed4
                if n == "dedup_embedding_fixed4"
                else getattr(pipeline, n)
            )
            for n in PIPELINE
        }
        _time_set(spark, pq, pipe_query)

    payload = {
        "metric": "tpch_ssb_core_total_median_wall",
        "unit": "sec",
        "sf": 1.0,
        "factor_vs_base": FACTOR,
    }
    # Only record a family's fields when it actually RAN this invocation
    # (r10 advice: a relational-only run with no pre-existing artifact
    # wrote pipeline_value=0.0, which reads as a measured zero-cost
    # pipeline half rather than 'not run').  The merge below preserves the
    # other family's rows from a prior artifact when present.
    if families in ("relational", "all"):
        payload["value"] = round(sum(per_query.values()), 4)
        payload["queries"] = per_query
    if families in ("pipeline", "all"):
        payload["pipeline_value"] = round(sum(pipe_query.values()), 4)
        payload["pipeline_queries"] = pipe_query
    base_bench = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_full.json",
    )
    if os.path.exists(base_bench):
        with open(base_bench) as f:
            base = json.load(f)["queries"]

        def fold(measured: dict[str, float], prefix: str) -> None:
            ratios = {
                n: round(measured[n] / base[n], 2)
                for n in measured
                if n in base and base[n] > 0
            }
            if not ratios:
                return
            payload[f"{prefix}ratio_vs_sf0.1"] = ratios
            payload[f"{prefix}ratio_median"] = round(
                statistics.median(ratios.values()), 2
            )
            payload[f"{prefix}ratio_max"] = max(ratios.values())

        fold(per_query, "")
        fold(pipe_query, "pipeline_")
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_sf1.json",
    )
    # preserve the other family's rows when only one was re-run
    if families != "all" and os.path.exists(out):
        with open(out) as f:
            old = json.load(f)
        for k, v in old.items():
            is_pipe = k.startswith("pipeline_")
            if families == "relational" and is_pipe:
                payload[k] = v
            if families == "pipeline" and not is_pipe and k in (
                "value", "queries", "ratio_vs_sf0.1", "ratio_median", "ratio_max"
            ):
                payload[k] = v
    try:
        with open(out, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
    except OSError as e:
        print(f"BENCH_sf1.json not written: {e}", file=sys.stderr)
    print(json.dumps(payload))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
