"""Checkpoint release through the checkpoint's own plan (spark/caches.py).

``caches.local_checkpoint`` is the library's only localCheckpoint: its
handle must name exactly the RDD that checkpoint persisted, so releasing
it frees that checkpoint's blocks and nothing else — also while another
thread checkpoints at the same time.  The leak gate runs every
checkpointing loop the benchmark and registry drive and checks that
``release_query_caches()`` returns the persisted set to where it started.
"""

import pathlib
import sys
import threading
from functools import partial

import pandas as pd
import pytest

from extractor_spark.spark import caches
from extractor_spark.spark.queries import QUERIES, release_query_caches

from .conftest import persistent_rdd_ids

REPO = pathlib.Path(__file__).resolve().parent.parent
SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("eager", [False, True], ids=["lazy", "eager"])
def test_handle_is_the_single_new_persistent_rdd(spark, eager):
    keep, keep_handle = caches.local_checkpoint(spark.range(10))
    before = persistent_rdd_ids(spark)
    df, handle = caches.local_checkpoint(
        spark.range(100).selectExpr("id", "id * 2 AS y").repartition(3), eager=eager
    )
    assert persistent_rdd_ids(spark) - before == {handle._jrdd.id()}
    assert df.agg({"y": "sum"}).first()[0] == 9900
    handle.unpersist()
    assert persistent_rdd_ids(spark) == before
    # the other checkpoint is untouched and still readable
    assert keep.count() == 10
    keep_handle.unpersist()


def _run_threads(targets, timeout=300):
    errors: list = []

    def guarded(fn):
        try:
            fn()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    threads = [threading.Thread(target=guarded, args=(fn,)) for fn in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout)
        assert not t.is_alive(), "checkpointing thread did not finish"
    if errors:
        raise errors[0]


def test_concurrent_checkpoints_release_only_their_own(spark):
    """Two threads checkpoint interleaved: A creates, B creates, A releases.
    B's blocks must survive A's release (a global persistent-id diff taken
    by A around its checkpoint would have captured B's).  Then more threads
    than cores each run a lazy-checkpoint chain that releases its previous
    generation every round — reading a released truncated-lineage parent
    fails, so any cross-release surfaces as an error or a wrong sum."""
    before = persistent_rdd_ids(spark)
    a_made, b_made, a_released = threading.Event(), threading.Event(), threading.Event()

    def thread_a():
        try:
            df, handle = caches.local_checkpoint(spark.range(7), eager=False)
            a_made.set()
            assert b_made.wait(60)
            assert df.count() == 7
            handle.unpersist()
        finally:
            a_made.set()
            a_released.set()

    def thread_b():
        try:
            assert a_made.wait(60)
            df, handle = caches.local_checkpoint(spark.range(11), eager=True)
            b_made.set()
            assert a_released.wait(60)
            assert handle._jrdd.id() in persistent_rdd_ids(spark)
            assert df.count() == 11
            handle.unpersist()
        finally:
            b_made.set()

    _run_threads([thread_a, thread_b])
    assert persistent_rdd_ids(spark) == before

    sums: dict = {}

    def chain(key):
        start = 1000 * key
        df, handle = caches.local_checkpoint(spark.range(start, start + 50), eager=False)
        for _ in range(3):
            nxt, nxt_handle = caches.local_checkpoint(
                df.selectExpr("id + 1 AS id"), eager=False
            )
            total = nxt.agg({"id": "sum"}).first()[0]
            handle.unpersist()
            df, handle = nxt, nxt_handle
        sums[key] = total
        handle.unpersist()

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        _run_threads([partial(chain, k) for k in range(6)])
    finally:
        sys.setswitchinterval(old_interval)
    assert sums == {k: sum(range(1000 * k + 3, 1000 * k + 53)) for k in range(6)}
    assert persistent_rdd_ids(spark) == before


def test_checkpointing_loops_release_everything(spark, tmp_path):
    from extractor_spark.spark.curate import curate
    from extractor_spark.spark.webgraph import hits, pagerank, spam_mass_ranks

    release_query_caches()
    before = persistent_rdd_ids(spark)

    edges = spark.createDataFrame(
        [("a.org", "b.org", 1), ("b.org", "c.org", 2), ("c.org", "a.org", 1),
         ("a.org", "c.org", 3), ("c.org", "d.org", 1)],
        "src_host string, dst_host string, n_links int",
    )
    assert pagerank(edges, max_iter=5, tol=0.0).count() == 4
    assert hits(edges, max_iter=5).count() == 4
    pr, tr = spam_mass_ranks(edges, ["a.org"], max_iter=5, tol=0.0)
    assert pr.count() == 4 and tr.count() == 4

    text = ("the quick brown fox jumps over the lazy dog while the river "
            "runs past the old mill beyond the quiet hills")
    docs = [{"url": f"https://c.test/{i}", "markdown": text, "text": f"{text} {i}"}
            for i in range(6)]
    inp = str(tmp_path / "extract_out")
    spark.createDataFrame(pd.DataFrame(docs)).write.parquet(inp)
    stats = curate(spark, inp, str(tmp_path / "curated"), min_tokens=5, pack_budget=32)
    assert stats["n_packs"] > 0

    for name in ("sequence_packing", "incremental_minhash_dedup"):
        assert QUERIES[name][0](spark, SF_DIR).collect()

    release_query_caches()
    assert persistent_rdd_ids(spark) - before == set()


def test_local_checkpoint_is_the_only_checkpoint_call():
    """Every localCheckpoint in the library goes through
    caches.local_checkpoint, so every checkpoint has a handle that names
    its own blocks."""
    offenders = [
        f"{path.relative_to(REPO)}:{i}"
        for path in sorted((REPO / "extractor_spark").rglob("*.py"))
        if path.name != "caches.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "localCheckpoint(" in line
    ]
    assert not offenders, (
        f"localCheckpoint( outside caches.py — use caches.local_checkpoint: "
        f"{offenders}"
    )
