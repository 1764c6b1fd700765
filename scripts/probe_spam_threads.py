"""In-process interleaved A/B of the host-graph loops' execution mechanisms.

Cold-process A/B on a shared box is JIT/window-noise-bound (identical code
measured 7.7-16.6 s across reps).  This probe warms ONE session, builds
the host graph of the ``llm_curate`` benchmark corpus once (checkpointed),
then times the graph phase the benchmark runs — ``pagerank``, ``hits``
and ``spam_mass_ranks`` with fixed rounds — in interleaved arms:

- ``threads``: the library as shipped (spam-mass loops on two driver
  threads, codegen off in tiny-regime graph loops);
- ``sequential``: ``pagerank()`` then ``trustrank()`` instead of the
  threaded ``spam_mass_ranks``;
- ``codegen``: the graph loops keep whole-stage/expression codegen on;
- ``aqe`` (with ``--aqe``): the graph loops keep AQE on.

The first three arms must produce repr-identical PageRank, HITS and
spam-mass PageRank/TrustRank rows in every cycle (asserted).  AQE changes
floating-point summation order, so the ``aqe`` arm only reports how many
values of each vector differ.  Prints per-arm median and quartiles of the phase seconds.

Usage: python scripts/probe_spam_threads.py [--cycles 10] [--rounds 3]
       [--seed 1] [--aqe]
"""

from __future__ import annotations

import argparse
import contextlib
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cycles", type=int, default=10)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--aqe", action="store_true")
    args = ap.parse_args()

    from perfbench import corpus
    from perfbench.workloads import TRUST_SEEDS, LlmCurate

    from extractor_spark.spark import caches, webgraph
    from extractor_spark.spark.session import get_spark

    spark = get_spark("probe_spam_threads", cpus=len(os.sched_getaffinity(0)))
    work = tempfile.mkdtemp(prefix="probe_spam_")
    pages_path = os.path.join(work, "pages")
    corpus.write_corpus(spark, pages_path, args.seed, LlmCurate.n_pages, LlmCurate.recrawls)
    pages = spark.read.parquet(pages_path).select("url", "html")
    edges = webgraph.host_graph(webgraph.extract_outlinks(pages)).localCheckpoint()
    rounds = args.rounds
    shipped_conf = webgraph.scoped_loop_conf

    def rows(df):
        return sorted(tuple(map(repr, r)) for r in df.collect())

    def phase(sequential: bool) -> dict:
        out = {
            "pagerank": rows(webgraph.pagerank(edges, max_iter=rounds, tol=0.0)),
            "hits": rows(webgraph.hits(edges, max_iter=rounds)),
        }
        if sequential:
            pr = webgraph.pagerank(edges, max_iter=rounds, tol=0.0)
            tr = webgraph.trustrank(edges, TRUST_SEEDS, max_iter=rounds, tol=0.0)
        else:
            pr, tr = webgraph.spam_mass_ranks(edges, TRUST_SEEDS, max_iter=rounds, tol=0.0)
        out["spam_mass.pagerank"], out["spam_mass.trustrank"] = rows(pr), rows(tr)
        caches.retire_all()
        return out

    def codegen_on(spark, n_parts, codegen=True):
        return shipped_conf(spark, n_parts, codegen=True)

    @contextlib.contextmanager
    def aqe_on(spark, n_parts, codegen=True):
        with shipped_conf(spark, n_parts, codegen):
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            yield  # the shipped scope restores the caller's AQE setting

    arms = {
        "threads": (shipped_conf, False),
        "sequential": (shipped_conf, True),
        "codegen": (codegen_on, False),
    }
    if args.aqe:
        arms["aqe"] = (aqe_on, False)

    def run(arm: str) -> tuple[float, dict]:
        conf, sequential = arms[arm]
        webgraph.scoped_loop_conf = conf
        try:
            t0 = time.perf_counter()
            out = phase(sequential)
            return time.perf_counter() - t0, out
        finally:
            webgraph.scoped_loop_conf = shipped_conf

    _, ref = run("threads")  # warm-up, untimed
    for arm in arms:
        run(arm)
    times: dict[str, list[float]] = {arm: [] for arm in arms}
    for cycle in range(args.cycles):
        for arm in arms:
            s, out = run(arm)
            times[arm].append(s)
            if arm == "aqe":
                n_diff = {
                    k: sum(a != b for ra, rb in zip(ref[k], out[k]) for a, b in zip(ra, rb))
                    for k in ref
                }
                print(f"cycle {cycle} aqe: values differing from the shipped arm {n_diff}")
            else:
                assert out == ref, f"{arm} output diverged on cycle {cycle}"
        print(f"cycle {cycle}: " + "  ".join(f"{a} {t[-1]:.3f}" for a, t in times.items()), flush=True)

    hosts = len(ref["pagerank"])
    print(f"graph phase over {hosts} hosts, {rounds} rounds, {args.cycles} cycles "
          f"({len(os.sched_getaffinity(0))} cores):")
    for arm, t in times.items():
        q1, med, q3 = statistics.quantiles(t, n=4)
        print(f"  {arm:<10} median {med:.3f} s  quartiles {q1:.3f}-{q3:.3f}")
    print("threads, sequential and codegen outputs repr-identical in every cycle")
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
