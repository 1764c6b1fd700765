"""Sitemap parsing + crawl-frontier gates (engine/sitemap.py,
spark/frontier.py).

Parser twin: xml.etree with namespace wildcarding, independently written
— must agree entry-for-entry on every WELL-FORMED synth sitemap.  The
tolerance cases (junk, missing loc, CDATA, entities) are pinned
explicitly.  Frontier twin: pure-Python set algebra over the same synth
inputs using the robots twin-grade engine matcher.
"""

import xml.etree.ElementTree as ET

import pandas as pd
import pytest

from extractor_spark.engine.sitemap import parse_sitemap

SF_DIR = "/root/testdata/sf0.001"


def _etree_twin(xml: str):
    """Independent parse of a WELL-FORMED sitemap via xml.etree."""
    root = ET.fromstring(xml)

    def local(tag):
        return tag.rsplit("}", 1)[-1].rsplit(":", 1)[-1]

    out = []
    for el in root.iter():
        if local(el.tag) not in ("url", "sitemap"):
            continue
        loc = lastmod = prio = None
        for ch in el:
            name = local(ch.tag)
            text = (ch.text or "").strip()
            if name == "loc" and text:
                loc = text
            elif name == "lastmod" and text:
                lastmod = text
            elif name == "priority" and text:
                try:
                    prio = round(float(text) * 1000)
                except ValueError:
                    prio = None
        if loc:
            out.append((local(el.tag), loc, lastmod, prio))
    return out


def test_parser_matches_etree_twin_on_synth_bodies():
    from extractor_spark.spark.frontier import synth_sitemaps_df

    # build the bodies without Spark: replicate the generator's loop by
    # calling it through pandas via a local SparkSession-free path —
    # the generator only needs createDataFrame, so fake it with a stub
    class _Stub:
        def createDataFrame(self, pdf):
            return pdf

    hosts = [f"host{i}.example.com" for i in range(12)]
    bodies = synth_sitemaps_df(_Stub(), hosts, known={hosts[0]: ["https://host0.example.com/article/1"]})
    for row in bodies.itertuples():
        got = [(e.kind, e.loc, e.lastmod, e.priority_milli) for e in parse_sitemap(row.xml)]
        want = _etree_twin(row.xml)
        assert got == want, (row.host, got[:3], want[:3])
        assert len(got) > 0


def test_parser_tolerance_cases():
    assert parse_sitemap("this is not xml at all") == []
    assert parse_sitemap("") == []
    # missing / blank loc skipped, junk children ignored
    es = parse_sitemap(
        "<urlset><url><lastmod>2026</lastmod></url>"
        "<url><loc>  </loc></url>"
        "<url><loc>https://x/a</loc><junk>z</junk></url></urlset>"
    )
    assert [(e.kind, e.loc) for e in es] == [("url", "https://x/a")]
    # CDATA + entities + namespace prefix + bad priority
    es = parse_sitemap(
        "<sm:urlset xmlns:sm='x'>"
        "<sm:url><sm:loc><![CDATA[https://x/c?a=1&b=2]]></sm:loc>"
        "<sm:priority>high</sm:priority></sm:url>"
        "<sm:url><sm:loc>https://x/d?a=1&amp;b=2</sm:loc>"
        "<sm:priority>0.8</sm:priority></sm:url></sm:urlset>"
    )
    assert [(e.loc, e.priority_milli) for e in es] == [
        ("https://x/c?a=1&b=2", None),
        ("https://x/d?a=1&b=2", 800),
    ]
    # sitemap-index entries keep their kind
    es = parse_sitemap(
        "<sitemapindex><sitemap><loc>https://x/s2.xml</loc></sitemap></sitemapindex>"
    )
    assert [(e.kind, e.loc) for e in es] == [("sitemap", "https://x/s2.xml")]


@pytest.fixture(scope="module")
def spark():
    from extractor_spark.spark.session import get_spark

    yield get_spark("frontier-tests", cpus=8)


def test_frontier_matches_set_algebra_twin(spark):
    from urllib.parse import urlsplit

    from pyspark.sql import functions as F

    from extractor_spark.engine.robots import RobotsMatcher
    from extractor_spark.spark.frontier import synth_sitemaps_df
    from extractor_spark.spark.queries import QUERIES, _webgraph_pages
    from extractor_spark.spark.robots import synth_robots_df

    fn, oracle = QUERIES["sitemap_frontier"]
    assert oracle is None
    out = fn(spark, SF_DIR).toPandas()
    assert len(out) > 0 and out["url"].is_unique

    # rebuild the same synth inputs and compute the frontier in pure Python
    pages = _webgraph_pages(spark)
    hp = [
        (r["host"], r["url"])
        for r in pages.select(
            F.lower(F.parse_url("url", F.lit("HOST"))).alias("host"), "url"
        ).collect()
    ]
    hosts = sorted({h for h, _ in hp})
    known: dict = {}
    for h, u in sorted(hp):
        known.setdefault(h, [])
        if len(known[h]) < 8:
            known[h].append(u)
    crawled = {u for _h, u in hp}
    bodies = {
        r["host"]: r["xml"]
        for r in synth_sitemaps_df(spark, hosts, known=known).collect()
    }
    robots = {
        r["host"]: r["body"] for r in synth_robots_df(spark, hosts).collect()
    }
    want = set()
    for host, xml in bodies.items():
        for e in parse_sitemap(xml):
            if e.kind != "url" or e.loc in crawled:
                continue
            parts = urlsplit(e.loc)
            path = (parts.path or "/") + (("?" + parts.query) if parts.query else "")
            body = robots.get(parts.netloc.lower())
            if body is None or RobotsMatcher(body, "extractor-spark").decide(path)[0]:
                want.add(e.loc)
    assert set(out["url"]) == want
    # the anti-join provably removed embedded known urls
    embedded = {u for us in known.values() for u in us}
    assert embedded and not (set(out["url"]) & embedded)
    # fetch order: priority desc nulls last, then url
    key = [(-(p if pd.notna(p) else -10**9), u) for p, u in zip(out["priority_milli"], out["url"])]
    assert key == sorted(key)


def test_crawl_budget_allocation_matches_pandas_twin(spark):
    """allocate_crawl_budget vs an independent pure-Python allocator over
    the same frontier rows: exact (url, host, priority, quota, slot)
    equality, plus the politeness invariants (quota respects the cap and
    the proportional floor, every represented host gets ≥1 slot, slots
    are the host's top-priority URLs in order)."""
    from extractor_spark.spark.queries import QUERIES

    fn, oracle = QUERIES["crawl_budget_allocation"]
    assert oracle is None
    got = [tuple(r) for r in fn(spark, SF_DIR).collect()]

    frontier = [
        (r["url"], r["host"], r["priority_milli"])
        for r in QUERIES["sitemap_frontier"][0](spark, SF_DIR).collect()
    ]
    budget, cap = 200, 8
    by_host: dict = {}
    for u, h, p in frontier:
        by_host.setdefault(h, []).append((u, p))
    total = len(frontier)
    want = []
    for h, items in by_host.items():
        n = len(items)
        quota = min(n, max(budget * n // total, 1), cap)
        # priority desc nulls last, then url
        items.sort(key=lambda t: (-(t[1] if t[1] is not None else -(10**9)), t[0]))
        for slot, (u, p) in enumerate(items[:quota], start=1):
            want.append((u, h, p, quota, slot))
    assert sorted(got, key=repr) == sorted(want, key=repr)
    assert {h for _u, h, *_ in got} == set(by_host)  # every host represented
    assert max(q for *_x, q, _s in got) <= cap


def test_frontier_rows_only_schema_stable(spark):
    from extractor_spark.spark.queries import QUERIES

    fn, _ = QUERIES["sitemap_frontier"]
    a = fn(spark, SF_DIR)
    b = fn(spark, SF_DIR)
    assert a.schema == b.schema
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]
