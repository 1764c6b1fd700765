"""Scale probe for the round-5 session-5 operators (bm25_search,
hostgraph_hits, embedding_decontaminate) well past the driver gates.

- BM25 (default 1M tiled docs, 200-query batch): the tiled corpus is the
  documented adversarial regime for term-driven retrieval (tiny vocab —
  every base doc has ~2000 copies, so query terms match tens of thousands
  of docs).  The probe uses a 1-in-5000 query predicate (200 queries at
  1M docs) instead of the registry's 1-in-50: a 20k-query batch over a
  2000x-duplicated corpus multiplies scored rows ~40x for no extra signal.
- Zipf BM25 (default 500k docs, 200k vocab, 100 mixed rare+stopword
  queries): the realistic web regime, where MaxScore pruned serving
  (spark/bm25index.py) should beat the single-pass plan — stopwords own
  most postings but carry tiny score upper bounds, so pass 2 filters them
  map-side against the broadcast candidate set instead of shuffling them.
- HITS (default 200k hosts / 2M edges, 10 rounds): synthetic power-law-ish
  host graph built from hash expressions (deterministic, distributed, no
  driver materialization); per-round cost should be flat — the probe
  records total and per-round seconds.
- embedding_decontaminate (default 500k x 64-dim corpus vs 1k-vector
  benchmark): the broadcast-matmul Arrow pass; throughput scales linearly
  with executors (map-only).

Sections are individually skippable with --docs 0 / --zipf-docs 0 /
--hosts 0 / --vecs 0.

Usage: python scripts/bench_retrieval_scale.py [--docs 1000000]
       [--zipf-docs 500000] [--hosts 200000] [--edges 2000000]
       [--vecs 500000]
Writes one JSON line; redirect to BENCH/ to record.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench_new_ops_r5 import synth_embeddings, tiled_documents  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--zipf-docs", type=int, default=500_000)
    ap.add_argument("--hosts", type=int, default=200_000)
    ap.add_argument("--edges", type=int, default=2_000_000)
    ap.add_argument("--vecs", type=int, default=500_000)
    ap.add_argument("--hits-rounds", type=int, default=10)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from extractor_spark.spark.bm25index import (
        bm25_search_index,
        build_bm25_index,
        tokenize_expr,
    )
    from extractor_spark.spark.queries import release_query_caches
    from extractor_spark.spark.session import get_spark

    spark = get_spark("retrieval-scale-r5", cpus=32)
    out: dict = {
        "docs": args.docs,
        "zipf_docs": args.zipf_docs,
        "hosts": args.hosts,
        "edges": args.edges,
        "vecs": args.vecs,
    }

    if args.docs:
        # ---- BM25 over tiled docs, 200-query batch ----------------------
        from extractor_spark.spark.queries import _BM25_BATCH_SPARK

        docs = tiled_documents(spark, args.docs)
        docs.createOrReplaceTempView("documents")
        # query modulus must be coprime to the 500-doc tile period, else
        # every query doc is a copy of the SAME base doc (200 identical
        # queries whose shared hot terms quadratically inflate the scored
        # join — measured 41 s vs ~8 s at 100k docs)
        q_mod = args.docs // 200
        while q_mod % 2 == 0 or q_mod % 5 == 0:
            q_mod += 1
        probe_sql = _BM25_BATCH_SPARK.replace("% 50 = 0", f"% {q_mod} = 0")
        t0 = time.time()
        out["bm25_rows"] = spark.sql(probe_sql).count()
        out["bm25_s"] = round(time.time() - t0, 2)

        # ---- stored-index BM25: build once, serve the same query batch ---
        idx_path = tempfile.mkdtemp(prefix="bm25idx_") + "/idx"
        t0 = time.time()
        build_bm25_index(docs.select("doc_id", "text"), idx_path)
        out["bm25_index_build_s"] = round(time.time() - t0, 2)
        queries = [
            (int(r["doc_id"]), list(r["terms"]))
            for r in docs.select("doc_id", tokenize_expr().alias("t"))
            .where(f"doc_id % {q_mod} = 0 AND size(t) >= 7")
            .selectExpr("doc_id", "array_distinct(slice(t, 5, 3)) AS terms")
            .collect()
        ]
        t0 = time.time()
        out["bm25_index_serve_rows"] = bm25_search_index(
            spark, idx_path, queries, topk=10
        ).count()
        out["bm25_index_serve_s"] = round(time.time() - t0, 2)
        release_query_caches()
        docs.unpersist()

    if args.zipf_docs:
        # ---- MaxScore pruned serving on a Zipf corpus --------------------
        # the tiled corpus above is the degenerate all-hot regime where the
        # full plan IS the right plan (pruning falls back by design); Zipf
        # is the realistic web regime where the two-pass MaxScore plan cuts
        # the hot-postings shuffle to the broadcast candidate set
        zdocs = spark.range(args.zipf_docs, numPartitions=32).selectExpr(
            "id AS doc_id",
            """concat_ws(' ', transform(sequence(1, 60), i ->
                 concat('w', cast(floor(exp(
                   (pmod(hash(id * 131 + i), 1000000) / 1000000.0) * ln(200000)
                 )) AS string)))) AS text""",
        )
        zidx = tempfile.mkdtemp(prefix="bm25zipf_") + "/idx"
        t0 = time.time()
        build_bm25_index(zdocs, zidx)
        out["zipf_index_build_s"] = round(time.time() - t0, 2)
        dfs = spark.read.parquet(zidx + "/_df")
        rare = [
            r["term"]
            for r in dfs.where("df BETWEEN 20 AND 200")
            .orderBy(F.desc("df"), "term")
            .limit(200)
            .collect()
        ]
        hot = [
            r["term"]
            for r in dfs.orderBy(F.desc("df"), "term").limit(4).collect()
        ]
        zq = [
            (i, [rare[2 * i], rare[2 * i + 1], hot[i % 2], hot[2 + i % 2]])
            for i in range(100)
        ]
        t0 = time.time()
        out["zipf_full_rows"] = bm25_search_index(
            spark, zidx, zq, topk=10, prune=False
        ).count()
        out["zipf_full_serve_s"] = round(time.time() - t0, 2)
        pstats: dict = {}
        t0 = time.time()
        out["zipf_pruned_rows"] = bm25_search_index(
            spark, zidx, zq, topk=10, stats_out=pstats
        ).count()
        out["zipf_pruned_serve_s"] = round(time.time() - t0, 2)
        out["zipf_pruned_stats"] = pstats
        release_query_caches()

    if args.hosts and args.edges:
        # ---- HITS over a synthetic power-law host graph ------------------
        from extractor_spark.spark.webgraph import hits

        n_hosts = args.hosts
        edges = (
            spark.range(args.edges, numPartitions=32)
            .selectExpr(
                f"concat('h', pmod(hash(id), {n_hosts})) AS src_host",
                # nested mod biases destinations toward low host ids → a
                # heavy-tailed in-degree distribution (authority skew)
                f"concat('h', pmod(hash(id + 7), 1 + pmod(hash(id + 13), {n_hosts}))) AS dst_host",
                "CAST(1 + pmod(hash(id + 29), 3) AS INT) AS n_links",
            )
            .filter("src_host <> dst_host")
            .groupBy("src_host", "dst_host")
            .agg(F.sum("n_links").cast("int").alias("n_links"))
        )
        t0 = time.time()
        hs = hits(edges, max_iter=args.hits_rounds)
        row = hs.agg(
            F.count("*").alias("n"),
            F.sum("hub").alias("sh"),
            F.sum("authority").alias("sa"),
        ).first()
        dt = time.time() - t0
        out["hits_hosts"] = row["n"]
        out["hits_mass"] = [round(row["sh"], 9), round(row["sa"], 9)]
        out["hits_s"] = round(dt, 2)
        out["hits_s_per_round"] = round(dt / args.hits_rounds, 2)
        release_query_caches()

    if args.vecs:
        # ---- embedding decontamination, broadcast matmul pass ------------
        from extractor_spark.spark.queries import (
            _EMB_DECON_THRESHOLD,
            embedding_decontaminate_frame,
        )

        emb = synth_embeddings(spark, args.vecs)
        corpus = emb.filter("vec_id >= 1000")
        bench = emb.filter("vec_id < 1000")
        t0 = time.time()
        out["decon_flagged"] = embedding_decontaminate_frame(
            corpus, bench, _EMB_DECON_THRESHOLD
        ).count()
        dt = time.time() - t0
        out["decon_s"] = round(dt, 2)
        out["decon_vecs_per_s"] = round((args.vecs - 1000) / dt)
        emb.unpersist()

    print(json.dumps(out))


if __name__ == "__main__":
    main()
