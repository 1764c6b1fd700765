"""Cell-partitioned IVF index: build → partition-pruned search → recall.

Pins the three claims the module makes:
1. the index directory is physically partitioned by cell,
2. a search SCANS ONLY the nprobe probed cells' files (inputFiles check —
   this is the property that makes query cost ∝ nprobe/k at 100 TB),
3. recall@10 vs exact brute-force cosine clears the same gate as the
   in-session ivf_topk query (isotropic test embeddings are the ANN
   worst case; the gate matches tests/test_queries_oracle.py).
"""

import os

import numpy as np
import pytest

pytestmark = pytest.mark.spark

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    from extractor_spark.spark.ivf import build_index

    out = str(tmp_path_factory.mktemp("ivf") / "index")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    stats = build_index(spark, emb, out)
    return out, stats


def test_index_is_cell_partitioned(index):
    out, stats = index
    cells = [d for d in os.listdir(out) if d.startswith("cell=")]
    assert len(cells) == stats["cells"] and len(cells) > 1
    assert stats["rows"] == 500


def test_search_scans_only_probed_cells(spark, index):
    from extractor_spark.spark.ivf import load_centroids, search

    out, _ = index
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where("vec_id = 0").first()["embedding"]

    nprobe = 4
    result = search(spark, out, q, nprobe=nprobe, topk=10, exclude_vec_id=0)
    # inputFiles() lists the unpruned relation; partition pruning happens at
    # planning — assert the cell predicate landed in the scan's
    # PartitionFilters (same style as the pipeline's manifest-prune pin)
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:", 1)[1].split("]", 1)[0]
    assert "cell" in pf, f"no cell partition filter in scan:\n{pf}"
    centroids = load_centroids(out)
    qv = np.asarray(q, dtype=np.float64)
    expect = sorted(
        int(p) for p in np.argsort(-(centroids @ (qv / np.linalg.norm(qv))))[:nprobe]
    )
    for cell in expect:
        assert str(cell) in pf, f"probed cell {cell} missing from filter {pf}"
    # the executed row count is bounded by the probed cells' contents
    idx = spark.read.parquet(out)
    probed_rows = idx.where(idx.cell.isin([int(c) for c in expect])).count()
    scanned = result.count()
    assert scanned <= 10 and probed_rows < idx.count()


def test_search_recall_vs_exact(spark, index):
    from extractor_spark.spark.ivf import search

    out, _ = index
    rows = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
    q = vecs[0]
    qn = q / np.linalg.norm(q)
    exact = sorted(
        ((vid, float(v @ qn / np.linalg.norm(v))) for vid, v in vecs.items() if vid != 0),
        key=lambda t: (-round(t[1], 4), t[0]),
    )[:10]
    exact_ids = {vid for vid, _ in exact}

    got = search(spark, out, q, nprobe=8, topk=10, exclude_vec_id=0).collect()
    got_ids = {r["vec_id"] for r in got}
    recall = len(exact_ids & got_ids) / 10
    assert recall >= 0.75, f"IVF index recall {recall}"
