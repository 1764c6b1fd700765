"""Web link-graph construction + PageRank, Spark-first.

The extraction tier's classic downstream consumer: every crawl pipeline
(reference scope: lightfeed/extractor's per-page extraction,
/root/reference/src/extractors/index.ts) feeds a link graph — outlink
extraction per page, host-level aggregation, and a centrality measure
(PageRank, Brin & Page 1998 — public algorithm) used for crawl
prioritization and quality weighting of training corpora (e.g. the
Common Crawl host-rank lists).

Design for 10^12 pages / ~10^8 hosts:

- ``extract_outlinks`` is one Arrow ``mapInPandas`` pass over the pages
  table (no per-row Python UDF): the engine's HTML tokenizer streams tags
  (no DOM materialization — anchors only), hrefs resolve against the page
  url with the Node-parity legacy resolver.  Per-page work is O(bytes);
  the stage is embarrassingly parallel and repartition-defended from AQE
  coalescing like every other Python stage in this repo.
- ``host_graph`` reduces page-level links to (src_host, dst_host,
  n_links) with one map-side-combined groupBy — the only full shuffle of
  the build.  At web scale the host graph is ~10^9 edges: small enough to
  iterate on, which is exactly why PageRank runs on the host graph first.
- ``pagerank`` is the standard power iteration as DataFrame joins: each
  round is contributions = ranks ⋈ edges (pre-normalized out-weights,
  partitioned once on src and persisted) → groupBy(dst).sum — one shuffle
  per round, state localCheckpoint'ed every round so the plan stays flat
  (lineage depth O(1), not O(iterations)).  Dangling mass (hosts with no
  outlinks) is computed with a broadcastable scalar aggregate and
  redistributed uniformly, so ranks sum to 1 every round.  Weighted
  transition: a host linking 10× to one neighbor sends 10× the mass
  (link-multiplicity PageRank; the unweighted variant is n_links=1).
"""

from __future__ import annotations

from functools import partial
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import caches
from .tuning import loop_partitions, scoped_loop_conf


# ---------------------------------------------------------------------------
# outlink extraction (engine tokenizer, streaming — no DOM build)
# ---------------------------------------------------------------------------


class _AnchorCollector:
    """Tokenizer builder that records (href, anchor_text) of <a> tags only.

    Anchor nesting follows the browser rule (a start-tag implicitly closes
    an open anchor); text between start and close accumulates as the
    anchor's text.  Implements the full builder protocol as no-ops so the
    tokenizer's CDATA/comment/decl handling stays on its normal paths.
    """

    __slots__ = ("pairs", "_href", "_buf")

    def __init__(self) -> None:
        self.pairs: list[tuple[str, str]] = []
        self._href: str | None = None
        self._buf: list[str] = []

    def _flush(self) -> None:
        if self._href is not None:
            self.pairs.append((self._href, "".join(self._buf)))
            self._href = None
        self._buf.clear()

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "a":
            self._flush()
            for name, value in attrs:
                if name == "href" and value:
                    self._href = value
                    break

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag == "a":
            self._flush()
            for name, value in attrs:
                if name == "href" and value:
                    self.pairs.append((value, ""))
                    break

    def handle_endtag(self, tag: str) -> None:
        if tag == "a":
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._href is not None:
            self._buf.append(data)

    def handle_comment(self, data: str) -> None:
        pass

    def handle_decl(self, decl: str) -> None:
        pass

    def handle_pi(self, data: str) -> None:
        pass

    def unknown_decl(self, data: str) -> None:
        pass


def page_links(url: str, html: str) -> list[tuple[str, str]]:
    """All (resolved_target, anchor_text) pairs of one page in document
    order — engine parity resolver, http(s) only, NOT de-duplicated (one
    pair per anchor occurrence; anchor-text stats need the multiplicity)."""
    from ..engine.tokenizer import tokenize
    from ..engine.urlresolve import resolve_url

    collector = _AnchorCollector()
    try:
        tokenize(html, collector)
    except Exception:
        return []  # poisoned page yields no links, never a task failure
    collector._flush()  # EOF with an unclosed anchor
    out: list[tuple[str, str]] = []
    for href, text in collector.pairs:
        try:
            resolved = resolve_url(url, href)
        except Exception:
            continue
        if resolved.startswith(("http://", "https://")):
            out.append((resolved, text))
    return out


def page_outlinks(url: str, html: str) -> list[str]:
    """Distinct <a href> targets of one page, resolved absolute,
    http(s) only, preserving first-seen order."""
    out: list[str] = []
    seen: set[str] = set()
    for resolved, _ in page_links(url, html):
        if resolved not in seen:
            seen.add(resolved)
            out.append(resolved)
    return out


def _host_of(url: str) -> str | None:
    rest = url.split("://", 1)[1] if "://" in url else url
    host = rest.split("/", 1)[0].split("?", 1)[0].split("#", 1)[0]
    host = host.rsplit("@", 1)[-1].split(":", 1)[0].lower()
    return host or None


def extract_outlinks(pages: DataFrame, partitions: int | None = None) -> DataFrame:
    """(url, html) pages → one row per (src_url, src_host, dst_url, dst_host).

    One Arrow pass; explicit repartition count defends Python-stage
    parallelism from AQE coalescing (repo invariant #4).
    """
    import pandas as pd

    spark = pages.sparkSession
    n_parts = partitions or spark.sparkContext.defaultParallelism

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            src_urls: list[str] = []
            src_hosts: list[str] = []
            dst_urls: list[str] = []
            dst_hosts: list[str] = []
            for url, html in zip(pdf["url"], pdf["html"]):
                if html is None:
                    continue
                if isinstance(html, (bytes, bytearray)):
                    html = bytes(html).decode("utf-8", "replace")
                src_host = _host_of(url)
                if src_host is None:
                    continue
                for dst in page_outlinks(url, html):
                    dst_host = _host_of(dst)
                    if dst_host is None:
                        continue
                    src_urls.append(url)
                    src_hosts.append(src_host)
                    dst_urls.append(dst)
                    dst_hosts.append(dst_host)
            yield pd.DataFrame(
                {
                    "src_url": pd.Series(src_urls, dtype="object"),
                    "src_host": pd.Series(src_hosts, dtype="object"),
                    "dst_url": pd.Series(dst_urls, dtype="object"),
                    "dst_host": pd.Series(dst_hosts, dtype="object"),
                }
            )

    return pages.select("url", "html").repartition(n_parts).mapInPandas(
        run, schema="src_url string, src_host string, dst_url string, dst_host string"
    )


def extract_anchor_texts(pages: DataFrame, partitions: int | None = None) -> DataFrame:
    """(url, html) pages → one row per anchor occurrence:
    (src_host, dst_host, anchor_text).  Anchor text is the query-independent
    relevance signal for the TARGET page (the classic web-search/corpus
    augmentation: what other sites call this host).  Same single-Arrow-pass
    shape as ``extract_outlinks``; no dedup — multiplicity is the signal."""
    import pandas as pd

    spark = pages.sparkSession
    n_parts = partitions or spark.sparkContext.defaultParallelism

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            src_hosts: list[str] = []
            dst_hosts: list[str] = []
            texts: list[str] = []
            for url, html in zip(pdf["url"], pdf["html"]):
                if html is None:
                    continue
                if isinstance(html, (bytes, bytearray)):
                    html = bytes(html).decode("utf-8", "replace")
                src_host = _host_of(url)
                if src_host is None:
                    continue
                for dst, text in page_links(url, html):
                    dst_host = _host_of(dst)
                    if dst_host is None:
                        continue
                    src_hosts.append(src_host)
                    dst_hosts.append(dst_host)
                    texts.append(text)
            yield pd.DataFrame(
                {
                    "src_host": pd.Series(src_hosts, dtype="object"),
                    "dst_host": pd.Series(dst_hosts, dtype="object"),
                    "anchor_text": pd.Series(texts, dtype="object"),
                }
            )

    return pages.select("url", "html").repartition(n_parts).mapInPandas(
        run, schema="src_host string, dst_host string, anchor_text string"
    )


def anchor_term_index(anchors: DataFrame, top_k: int = 5) -> DataFrame:
    """Anchor occurrences → top-``top_k`` terms per TARGET host:
    (dst_host, term, n_mentions, rk).  Off-site anchors only (on-site nav
    text like "Home" describes the site to itself, not to the web), terms
    lowercased \\\\W+ splits, ties broken lexically so output is
    deterministic.  One map-side-combined count shuffle + one top-k window
    partitioned by host — no all-rows sort at any scale."""
    from pyspark.sql import Window

    terms = (
        anchors.filter(F.col("src_host") != F.col("dst_host"))
        .select(
            "dst_host",
            F.explode(
                F.filter(
                    F.split(F.lower("anchor_text"), r"[^a-z0-9]+"),
                    lambda t: t != "",
                )
            ).alias("term"),
        )
        .groupBy("dst_host", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_mentions"))
    )
    w = Window.partitionBy("dst_host").orderBy(
        F.col("n_mentions").desc(), F.col("term")
    )
    return (
        terms.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select("dst_host", "term", "n_mentions", F.col("rk").cast("int"))
    )


def host_graph(outlinks: DataFrame, drop_self_loops: bool = True) -> DataFrame:
    """Page-level outlinks → weighted host edges (src_host, dst_host, n_links).

    Single map-side-combined aggregation; self-links dropped by default
    (standard for PageRank so a host cannot vote for itself)."""
    edges = outlinks.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("n_links")
    )
    if drop_self_loops:
        edges = edges.filter(F.col("src_host") != F.col("dst_host"))
    return edges


# ---------------------------------------------------------------------------
# PageRank / TrustRank (power iteration, one shuffle per round, flat lineage)
# ---------------------------------------------------------------------------


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 40,
    tol: float = 1e-9,
) -> DataFrame:
    """Weighted PageRank over (src_host, dst_host, n_links) edges.

    Returns (host, rank) over the union of sources and destinations; ranks
    sum to 1.  The rank state carries an ``is_dangling`` flag and each
    round is exactly ONE action: a LAZY localCheckpoint on the new state
    whose materializing job is the combined aggregate computing both the
    L1 convergence delta and the NEXT round's dangling mass (the aggregate
    touches every partition, so the checkpoint blocks it persists as a
    side effect are complete) — no per-round semi-join, no separate
    checkpoint job, no extra contrib materialization."""
    # edges is consumed three times before the loop (node set, dangling
    # flags, transition weights); without a persist each consumer re-runs
    # the caller's full upstream plan (for the host graph: the Python
    # outlink extraction over every page)
    edges = edges.persist()
    try:
        return _run(edges, _pagerank_setup(edges, damping), max_iter, tol)
    finally:
        edges.unpersist()


def trustrank(
    edges: DataFrame,
    seeds: list[str] | DataFrame,
    damping: float = 0.85,
    max_iter: int = 40,
    tol: float = 1e-9,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004 — public
    algorithm): PageRank with the teleport vector concentrated on a trusted
    seed set instead of uniform, so trust flows outward from the seeds and
    hosts unreachable from them converge to rank 0.  The downstream spam
    signal is relative spam mass (Gyöngyi et al. 2006),
    (pagerank − trustrank)/pagerank — both vectors sum to 1, and a host
    whose PageRank is NOT backed by trusted reachability gets mass ≈ 1.

    Deliberately a separate function from :func:`pagerank` rather than a
    teleport parameter: the uniform base term there is ``(1−d)/n`` while
    the seeded one is ``(1−d)·s_i`` — algebraically equal for uniform s
    but not bit-identical in floating point, and pagerank's numpy twin is
    pinned at ±1e-12.  Same execution shape: state carries
    (rank, is_dangling, s); ONE Spark job per round — a lazy
    localCheckpoint whose materializing action is the combined
    delta + dangling-mass aggregate; previous round's blocks released
    AFTER the action; dangling mass redistributes to the SEED
    distribution (the personalized-PageRank convention), preserving unit
    mass.  Seeds absent from the graph are ignored; t₀ = s (the
    Gyöngyi initialization).  Twin: numpy same-iterate ±1e-12
    (tests/test_webgraph.py).
    """
    edges = edges.persist()  # see pagerank
    try:
        return _run(edges, _trustrank_setup(edges, seeds, damping), max_iter, tol)
    finally:
        edges.unpersist()


def _node_set(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src_host").alias("host"))
        .unionAll(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )


def _pagerank_setup(edges: DataFrame, damping: float):
    """Sizing and rank rule of the uniform-teleport loop →
    ``(n_parts, loop)`` with ``loop(max_iter, tol)``, or None for the
    empty graph.  ``edges`` must already be persisted."""
    nodes = _node_set(edges)
    n = nodes.count()
    if n == 0:
        return None
    # r6: the loop's shuffle width follows the graph size, not the core
    # count — 40 rounds of full-width stages over a host-sized frame are
    # pure scheduling overhead at small scale (tuning.py).
    n_parts = loop_partitions(edges.sparkSession.sparkContext, max(n, edges.count()))
    c_base = F.lit((1.0 - damping) / n)
    c_damping = F.lit(damping)

    def init(joined: DataFrame, is_dangling) -> DataFrame:
        return joined.select("host", F.lit(1.0 / n).alias("rank"), is_dangling)

    def rank(contrib, dangling_mass: float):
        return c_base + c_damping * (contrib + F.lit(dangling_mass / n))

    return n_parts, partial(_power_loop, edges, nodes, n_parts, init, ("is_dangling",), rank)


def _trustrank_setup(edges: DataFrame, seeds, damping: float):
    """Seeded counterpart of :func:`_pagerank_setup`; None when no seed
    intersects the graph."""
    spark = edges.sparkSession
    nodes = _node_set(edges)
    # seed lists are human-curated and bounded (thousands of hosts even at
    # web scale) — broadcastable by construction
    if isinstance(seeds, DataFrame):
        seed_df = seeds.select("host").distinct().withColumn("_seed", F.lit(True))
    else:
        seed_df = spark.createDataFrame(
            [(h,) for h in sorted(set(seeds))], "host string"
        ).withColumn("_seed", F.lit(True))
    n_seeds = nodes.join(F.broadcast(seed_df), "host").count()
    if n_seeds == 0:
        return None
    # r6: scale-adaptive loop width (see _pagerank_setup / tuning.py)
    n_parts = loop_partitions(spark.sparkContext, edges.count())
    c_teleport = F.lit(1.0 - damping) * F.col("s")
    c_damping = F.lit(damping)
    c_s = F.col("s")

    def init(joined: DataFrame, is_dangling) -> DataFrame:
        return (
            joined.join(F.broadcast(seed_df), "host", "left")
            .select(
                "host",
                F.when(F.coalesce("_seed", F.lit(False)), F.lit(1.0 / n_seeds))
                .otherwise(F.lit(0.0))
                .alias("s"),
                is_dangling,
            )
            .withColumn("rank", F.col("s"))
        )

    def rank(contrib, dangling_mass: float):
        return c_teleport + c_damping * (contrib + F.lit(dangling_mass) * c_s)

    carried = ("is_dangling", "s")
    return n_parts, partial(_power_loop, edges, nodes, n_parts, init, carried, rank)


def _run(edges: DataFrame, setup, max_iter: int, tol: float) -> DataFrame:
    if setup is None:
        return edges.sparkSession.createDataFrame([], "host string, rank double")
    n_parts, loop = setup
    with scoped_loop_conf(edges.sparkSession, n_parts, codegen=False):
        return loop(max_iter, tol)


def _power_loop(
    edges, nodes, n_parts, init, carried, rank, max_iter, tol
) -> DataFrame:
    """The power iteration both rank vectors share.  ``init(joined,
    is_dangling)`` builds the first state from the node set left-joined to
    the source flags; the state carries ``carried`` columns unchanged
    through every round; ``rank(contrib, dangling_mass)`` is the round's
    new-rank expression.  The caller owns ``edges``' persist."""
    # Pre-normalize transition weights once: w = n_links / total_out(src).
    out_totals = edges.groupBy("src_host").agg(F.sum("n_links").alias("out_total"))
    trans = (
        edges.join(out_totals, "src_host")
        .select(
            F.col("src_host").alias("host"),
            "dst_host",
            (F.col("n_links").cast("double") / F.col("out_total")).alias("w"),
        )
        .repartition(n_parts, "host")
    )
    # r6: eager localCheckpoint, not persist — a bare persist leaves the
    # full upstream LOGICAL plan (the Python outlink extraction) inside
    # trans, and every round's analysis/optimization re-walks it: the
    # cache short-circuits execution, not planning.  Truncating the
    # lineage makes each round's plan LogicalRDD-sized (measured ~-1 s
    # per 20-round loop at sf0.1, outputs bit-identical —
    # scripts/probe_unroll_pagerank.py).
    trans, trans_handle = caches.local_checkpoint(trans, eager=True)

    # Dangling = never appears as a source; flagged once, carried in state.
    srcs = edges.select(F.col("src_host").alias("host")).distinct().withColumn(
        "_has_out", F.lit(True)
    )
    is_dangling = (~F.coalesce(F.col("_has_out"), F.lit(False))).alias("is_dangling")
    ranks, prev_handle = caches.local_checkpoint(
        init(nodes.join(srcs, "host", "left"), is_dangling), eager=False
    )
    dangling_mass = (
        ranks.agg(
            F.coalesce(F.sum(F.when(F.col("is_dangling"), F.col("rank"))), F.lit(0.0))
        ).first()[0]
    )

    # Loop-invariant Column objects hoisted out of the rounds (r6): Columns
    # are immutable and reusable across DataFrames, and every F.* call is a
    # py4j round-trip — per-round expression building was a measurable slice
    # of the ~150 ms/round driver floor.  Only the dangling-mass literal is
    # rebuilt per round (inside ``rank``).
    c_dst = F.col("dst_host").alias("host")
    c_contrib_in = (F.col("rank") * F.col("w")).alias("c")
    c_contrib = F.sum("c").alias("contrib")
    c_old_rank = F.col("rank").alias("old_rank")
    c_coalesce0 = F.coalesce("contrib", F.lit(0.0))
    c_delta = F.sum(F.abs(F.col("rank") - F.col("old_rank"))).alias("delta")
    c_dangling = F.coalesce(
        F.sum(F.when(F.col("is_dangling"), F.col("rank"))), F.lit(0.0)
    ).alias("dangling")

    for _ in range(max_iter):
        contrib = (
            ranks.join(trans, "host")
            .select(c_dst, c_contrib_in)
            .groupBy("host")
            .agg(c_contrib)
        )
        new_ranks = (
            ranks.select("host", c_old_rank, *carried)
            .join(contrib, "host", "left")
            .select(
                "host",
                rank(c_coalesce0, dangling_mass).alias("rank"),
                "old_rank",
                *carried,
            )
        )
        new_ranks, cur_handle = caches.local_checkpoint(new_ranks, eager=False)
        # the aggregate below is the checkpoint's materializing job; once
        # it returns, the previous round's blocks have no dependents —
        # free them so peak rank storage is 2 rounds (same pattern as
        # graph.min_label_components)
        row = new_ranks.agg(c_delta, c_dangling).first()
        delta, dangling_mass = row["delta"], row["dangling"]
        ranks = new_ranks.select("host", "rank", *carried)
        prev_handle.unpersist()
        prev_handle = cur_handle
        if delta < tol:
            break

    trans_handle.unpersist()
    # the final checkpoint backs the (lazy) result — consumers release it
    # via queries.release_query_caches() after collecting
    caches.register(prev_handle)
    return ranks.select("host", "rank")


def spam_mass_ranks(
    edges: DataFrame,
    seeds,
    damping: float = 0.85,
    max_iter: int = 40,
    tol: float = 1e-9,
) -> tuple[DataFrame, DataFrame]:
    """PageRank and TrustRank over the SAME edge frame with the two
    power-iteration loops running CONCURRENTLY on two driver threads —
    returns ``(pagerank_df, trustrank_df)``.

    The loops are data-independent (they only share the immutable edge
    frame), and each round is ~45 ms of driver plan compile + one short
    job, so interleaving them overlaps one loop's driver work with the
    other's executor work: wall ≈ the slower loop instead of the sum
    (measured on the llm_curate seed-1 host graph, 3 rounds, 4 cores:
    running them one after the other adds ~0.7 s to a ~3.6 s graph
    phase — scripts/probe_spam_threads.py).

    Results are bit-identical to sequential ``pagerank()`` +
    ``trustrank()``:

    - the shared conf scope is entered ONCE with the width both loops
      derive independently; when the two widths differ (possible on very
      node-heavy graphs) this falls back to the sequential path, so every
      plan always compiles under exactly the conf it would have seen
      sequentially;
    - each loop's FP math touches only its own state frames;
    - each loop releases only the checkpoints it created: a release handle
      comes from its checkpoint's own plan (``caches.local_checkpoint``),
      so the threads are safe by construction, with no lock.

    The shared edge cache is released once, after both loops are done.
    """
    import threading

    edges = edges.persist()  # see pagerank
    try:
        pr = _pagerank_setup(edges, damping)
        tr = _trustrank_setup(edges, seeds, damping)
        if pr is None or tr is None or pr[0] != tr[0]:
            return _run(edges, pr, max_iter, tol), _run(edges, tr, max_iter, tol)

        results: list = [None, None]
        errors: list = []

        def runner(i, loop):
            try:
                results[i] = loop(max_iter, tol)
            except BaseException as e:  # noqa: BLE001 — re-raised on the caller thread
                errors.append(e)

        with scoped_loop_conf(edges.sparkSession, pr[0], codegen=False):
            threads = [
                threading.Thread(target=runner, args=(i, setup[1]), daemon=True)
                for i, setup in enumerate((pr, tr))
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        if errors:
            raise errors[0]
        return results[0], results[1]
    finally:
        edges.unpersist()


# ---------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg 1999 — public algorithm)
# ---------------------------------------------------------------------------


def hits(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Weighted HITS over (src_host, dst_host, n_links) edges →
    (host, hub, authority), each vector L1-normalized to sum 1.

    The mutually-recursive power iteration: authority(v) = Σ over in-edges
    of hub(u)·w, hub(u) = Σ over out-edges of authority(v)·w — the classic
    complement to PageRank for crawl seeding (hubs = link pages worth
    re-crawling for discovery, authorities = content pages worth keeping).

    Scale shape (same discipline as ``pagerank``):

    - Edges are persisted TWICE, pre-partitioned on src_host and on
      dst_host — each round's two joins then shuffle only the host-sized
      score frame, never the edge table.
    - Per-iteration normalization is deferred: each round consumes the
      previous round's hub vector scaled by the driver-scalar sum from the
      previous materializing action (per-round rescaling is a global
      constant, so the converged direction — the principal eigenvectors of
      WᵀW / WWᵀ — is unchanged; it only keeps magnitudes bounded).  The
      true L1 normalization happens once, on the final vectors.
    - Two jobs per round, both flat-lineage: an eager localCheckpoint on
      the authority frame (it feeds BOTH the hub join and the new state —
      unpersisted it would recompute the round's first join twice inside
      one job), then a lazy localCheckpoint on the new state whose
      materializing action is the sums aggregate that the NEXT round's
      scaling needs anyway.  Previous-generation blocks are released only
      after that action (repo invariant: a lazy checkpoint reads its
      parent; truncated lineage cannot recompute).
    - Fixed ``max_iter`` rounds (the batch operating point, matching the
      registry's fixed-20-round pagerank): deterministic output and
      bounded driver time; a convergence delta would cost a second scan
      per round for a loop that runs ~20 rounds regardless.
    """
    spark = edges.sparkSession
    sc = spark.sparkContext

    edges = edges.persist()
    # unlike pagerank, the node frame is re-joined EVERY round (zero-fill of
    # hosts missing from a round's sums) — an eager localCheckpoint both
    # caches it AND truncates its logical plan (a bare persist would leave
    # the full upstream lineage in every round's analysis, see
    # _power_loop)
    nodes, nodes_handle = caches.local_checkpoint(_node_set(edges), eager=True)
    n = nodes.count()
    if n == 0:
        nodes_handle.unpersist()
        edges.unpersist()
        return spark.createDataFrame([], "host string, hub double, authority double")

    # r6: scale-adaptive loop width (see pagerank / tuning.py)
    n_parts = loop_partitions(sc, max(n, edges.count()))
    with scoped_loop_conf(spark, n_parts, codegen=False):
        out = _hits_loop(edges, nodes, n, n_parts, max_iter)
    # the final state checkpoint (registered by the loop) backs the lazy
    # result; the node frame and the edges do not — free them now
    nodes_handle.unpersist()
    edges.unpersist()
    return out


def _hits_loop(edges, nodes, n, n_parts, max_iter) -> DataFrame:
    # In the tiny regime the a_raw subtree is a one-to-few-task join+agg:
    # recomputing it for its second consumer inside the same job is cheaper
    # than the ~45 ms/round physical-plan compile the lazy checkpoint call
    # costs.  At real widths the checkpoint stays — there the recompute is
    # a full extra shuffle's worth of work.  The two forms are NOT
    # bit-identical: inline, each consumer runs a_raw's floating-point sums
    # itself (measured on the llm_curate seed-1 host graph: at 3 rounds 26
    # of 33 hub and 3 of 33 authority values differ, by up to 1.1e-16; at
    # 20 rounds they are equal).
    inline_araw = n_parts <= 4
    w = edges.select("src_host", "dst_host", F.col("n_links").cast("double").alias("w"))
    # r6: eager localCheckpoints (not persists) so each round's plans are
    # LogicalRDD-sized — see _power_loop
    by_src, by_src_handle = caches.local_checkpoint(
        w.repartition(n_parts, "src_host"), eager=True
    )
    by_dst, by_dst_handle = caches.local_checkpoint(
        w.repartition(n_parts, "dst_host"), eager=True
    )

    state, prev_handle = caches.local_checkpoint(
        nodes.select(
            "host", F.lit(1.0 / n).alias("hub"), F.lit(1.0 / n).alias("authority")
        ),
        eager=False,
    )
    sh = state.agg(F.sum("hub")).first()[0]

    # loop-invariant Columns hoisted — see _power_loop (r6); only the
    # 1/sh literal is rebuilt per round
    c_src = F.col("host").alias("src_host")
    c_dst = F.col("dst_host").alias("host")
    c_sum_a = F.sum("c").alias("a_raw")
    c_dst2 = F.col("host").alias("dst_host")
    c_src2 = F.col("src_host").alias("host")
    c_hraw_in = (F.col("a_raw") * F.col("w")).alias("c")
    c_sum_h = F.sum("c").alias("h_raw")
    c_hub_out = F.coalesce("h_raw", F.lit(0.0)).alias("hub")
    c_auth_out = F.coalesce("a_raw", F.lit(0.0)).alias("authority")
    c_sum_hub = F.sum("hub")

    for _ in range(max_iter):
        # authority ← in-edge hubs (input hub scaled to unit L1 mass)
        a_raw = (
            state.select(c_src, "hub")
            .join(by_src, "src_host")
            .select(
                c_dst,
                (F.col("hub") * F.lit(1.0 / sh) * F.col("w")).alias("c"),
            )
            .groupBy("host")
            .agg(c_sum_a)
        )
        araw_handle = None
        if not inline_araw:
            # LAZY checkpoint (r6): consumed by the hub join AND the new
            # state, but a checkpoint shares ONE RDD between them — the
            # state's materializing aggregate computes a_raw's stages once
            # inside the same job (the recompute-twice hazard applies to
            # un-checkpointed frames, which duplicate at the plan level).
            # Eager here cost one extra job per round for nothing.
            a_raw, araw_handle = caches.local_checkpoint(a_raw, eager=False)
        # hub ← out-edge authorities (unnormalized a_raw: a global constant,
        # absorbed by the final normalization)
        h_raw = (
            a_raw.select(c_dst2, "a_raw")
            .join(by_dst, "dst_host")
            .select(c_src2, c_hraw_in)
            .groupBy("host")
            .agg(c_sum_h)
        )
        state, cur_handle = caches.local_checkpoint(
            nodes.join(a_raw, "host", "left")
            .join(h_raw, "host", "left")
            .select("host", c_hub_out, c_auth_out),
            eager=False,
        )
        sh = state.agg(c_sum_hub).first()[0]
        prev_handle.unpersist()
        if araw_handle is not None:
            araw_handle.unpersist()
        prev_handle = cur_handle

    sa = state.agg(F.sum("authority")).first()[0]
    by_src_handle.unpersist()
    by_dst_handle.unpersist()
    caches.register(prev_handle)
    return state.select(
        "host",
        (F.col("hub") / F.lit(sh)).alias("hub"),
        (F.col("authority") / F.lit(sa)).alias("authority"),
    )
