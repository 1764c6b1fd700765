"""Gates for the stored BM25 index (spark/bm25index.py).

Equivalence chain: serving the registry query set from the STORED index ≡
the fused registry SQL (`_BM25_BATCH_SPARK`), which itself is pinned to a
DuckDB twin and a hand-computed formula corpus — so stored-index serving
inherits oracle strength transitively.  Plus: partition-pruned scan plan
gate, OR-semantics for absent terms, and top-k boundary behavior.
"""

from __future__ import annotations

import pytest

from extractor_spark.spark.bm25index import bm25_search_index, build_bm25_index

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bm25_idx(spark, tmp_path_factory):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    path = str(tmp_path_factory.mktemp("bm25idx") / "idx")
    build_bm25_index(docs, path)
    return docs, path


def _registry_queries(spark, docs):
    """The fused SQL's deterministic query set: distinct tokens 5..7 of
    every 50th doc with ≥7 tokens, query_id = doc_id."""
    from extractor_spark.spark.bm25index import tokenize_expr

    rows = (
        docs.select("doc_id", tokenize_expr().alias("t"))
        .where("doc_id % 50 = 0 AND size(t) >= 7")
        .selectExpr("doc_id", "array_distinct(slice(t, 5, 3)) AS terms")
        .collect()
    )
    return [(int(r["doc_id"]), list(r["terms"])) for r in rows]


def test_stored_index_serving_equals_fused_sql(spark, bm25_idx):
    from extractor_spark.spark.queries import _BM25_BATCH_SPARK

    docs, path = bm25_idx
    docs.createOrReplaceTempView("documents")
    fused = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in spark.sql(_BM25_BATCH_SPARK).collect()
    }
    queries = _registry_queries(spark, docs)
    assert queries, "registry query set must be non-empty at sf0.001"
    served = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in bm25_search_index(spark, path, queries, topk=10).collect()
    }
    assert served.keys() == fused.keys()
    for key in fused:
        assert abs(served[key] - fused[key]) < 1.5e-4, key


def test_serving_scan_is_partition_pruned(spark, bm25_idx):
    # prune=False keeps the single-pass plan lazy in the returned frame so
    # the scan is inspectable (the MaxScore pass-1 scan runs eagerly inside
    # a localCheckpoint; its pass-2 plan gate lives in test_bm25_maxscore)
    _docs, path = bm25_idx
    # two real index terms (absent terms are dropped before the scan now,
    # so they can no longer contribute buckets to the partition filter)
    terms = [
        r["term"]
        for r in spark.read.parquet(path + "/_df").orderBy("term").limit(2).collect()
    ]
    df = bm25_search_index(spark, path, [(0, terms)], topk=5, prune=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "bucket" in pf and (" IN (" in pf or " = " in pf), pf


def test_absent_terms_are_or_ignored(spark, bm25_idx):
    _docs, path = bm25_idx
    with_ghost = {
        tuple(r)
        for r in bm25_search_index(
            spark, path, [(7, ["the", "zzz_not_in_corpus_zzz"])], topk=10
        ).collect()
    }
    without = {
        tuple(r)
        for r in bm25_search_index(spark, path, [(7, ["the"])], topk=10).collect()
    }
    assert with_ghost == without and with_ghost


def test_topk_boundary_and_empty_query(spark, bm25_idx):
    docs, path = bm25_idx
    # a term in exactly a handful of docs: topk larger than matches → all
    term_row = (
        spark.read.parquet(path)
        .groupBy("term")
        .count()
        .where("count >= 2")
        .orderBy("count", "term")
        .first()
    )
    rows = bm25_search_index(
        spark, path, [(1, [term_row["term"]])], topk=1000
    ).collect()
    assert len(rows) == term_row["count"]
    assert bm25_search_index(spark, path, [], topk=5).count() == 0
