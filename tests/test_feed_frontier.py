"""RSS/Atom feed parsing + feed-frontier gates (engine/feeds.py,
spark/frontier.py:build_feed_frontier).

Parser twin: xml.etree with namespace wildcarding, independently written
— must agree entry-for-entry on every WELL-FORMED synth feed.  Date
normalization (RFC 822 / RFC 3339 → epoch seconds) is twinned through
the same stdlib primitives but exercised on explicit literal cases too.
Tolerance cases (junk payloads, linkless items, rel=self noise,
non-permalink guids, unparseable dates) are pinned explicitly.
Frontier twin: pure-Python set algebra over the same synth inputs using
the robots twin-grade engine matcher — the same gate shape as the
sitemap frontier's."""

import xml.etree.ElementTree as ET

import pandas as pd
import pytest

from extractor_spark.engine.feeds import parse_feed, parse_feed_date

SF_DIR = "/root/testdata/sf0.001"


def _etree_twin(xml: str):
    """Independent parse of a WELL-FORMED RSS/Atom body via xml.etree."""
    root = ET.fromstring(xml)

    def local(tag):
        return tag.rsplit("}", 1)[-1].rsplit(":", 1)[-1]

    out = []
    for el in root.iter():
        name = local(el.tag)
        if name not in ("item", "entry"):
            continue
        kind = "rss" if name == "item" else "atom"
        loc = raw_date = title = None
        alt_href = first_href = None
        guid_loc = None
        for ch in el:
            cname = local(ch.tag)
            text = (ch.text or "").strip()
            if cname == "link":
                if kind == "rss":
                    if text and loc is None:
                        loc = text
                else:
                    href = (ch.attrib.get("href") or "").strip()
                    rel = ch.attrib.get("rel", "alternate").lower()
                    if href:
                        if rel == "alternate" and alt_href is None:
                            alt_href = href
                        if first_href is None:
                            first_href = href
            elif cname == "guid" and kind == "rss" and text:
                if ch.attrib.get("isPermaLink", "true").lower() != "false":
                    guid_loc = text
            elif cname == "pubDate" and kind == "rss" and text:
                raw_date = raw_date or text
            elif cname in ("updated", "published") and kind == "atom" and text:
                if cname == "updated":
                    raw_date = text
                elif raw_date is None:
                    raw_date = text
            elif cname == "title" and text and title is None:
                title = text
        if kind == "atom":
            loc = alt_href or first_href
        elif loc is None:
            loc = guid_loc
        if loc:
            out.append((kind, loc, parse_feed_date(raw_date), title))
    return out


def test_parser_matches_etree_twin_on_synth_bodies():
    from extractor_spark.spark.frontier import synth_feeds_df

    class _Stub:
        def createDataFrame(self, pdf):
            return pdf

    hosts = [f"host{i}.example.com" for i in range(14)]
    bodies = synth_feeds_df(
        _Stub(), hosts, known={hosts[0]: ["https://host0.example.com/post/1"]}
    )
    parsed_any = 0
    for row in bodies.itertuples():
        if row.xml.startswith("this is not a feed"):
            assert parse_feed(row.xml) == []
            continue
        got = [(e.kind, e.loc, e.published_s, e.title) for e in parse_feed(row.xml)]
        want = _etree_twin(row.xml)
        assert got == want, (row.host, got[:3], want[:3])
        assert len(got) > 0
        parsed_any += 1
    assert parsed_any >= 10


def test_parser_tolerance_cases():
    assert parse_feed("not xml") == []
    assert parse_feed("") == []
    # linkless item skipped; rel=self noise before the real link survives
    es = parse_feed(
        "<rss><channel>"
        "<item><title>linkless</title></item>"
        '<item><atom:link href="https://proxy/self" rel="self"/>'
        "<link>https://x/a</link><title>ok</title></item>"
        "</channel></rss>"
    )
    assert [(e.kind, e.loc, e.title) for e in es] == [("rss", "https://x/a", "ok")]
    # permalink guid fallback; isPermaLink=false rejected
    es = parse_feed(
        "<rss><channel>"
        "<item><guid>https://x/g1</guid></item>"
        '<item><guid isPermaLink="false">tag:nope</guid></item>'
        '<item><guid isPermaLink="true">https://x/g2</guid></item>'
        "</channel></rss>"
    )
    assert [e.loc for e in es] == ["https://x/g1", "https://x/g2"]
    # CDATA + entities in links and titles
    es = parse_feed(
        "<rss><channel><item>"
        "<link><![CDATA[https://x/c?a=1&b=2]]></link>"
        "<title>A &amp; B</title></item>"
        "<item><link>https://x/d?a=1&amp;b=2</link></item>"
        "</channel></rss>"
    )
    assert [(e.loc, e.title) for e in es] == [
        ("https://x/c?a=1&b=2", "A & B"),
        ("https://x/d?a=1&b=2", None),
    ]
    # atom: enclosure-only entry falls back to its only href; alternate wins
    es = parse_feed(
        "<feed>"
        '<entry><link rel="enclosure" href="https://x/e.mp3"/></entry>'
        '<entry><link rel="enclosure" href="https://x/f.mp3"/>'
        '<link rel="alternate" href="https://x/f"/></entry>'
        '<entry><link href="https://x/g"/></entry>'
        "</feed>"
    )
    assert [e.loc for e in es] == ["https://x/e.mp3", "https://x/f", "https://x/g"]
    # namespace-prefixed entries parse like bare ones
    es = parse_feed(
        '<a:feed xmlns:a="x"><a:entry><a:link href="https://x/h"/>'
        "<a:updated>2025-01-02T03:04:05Z</a:updated></a:entry></a:feed>"
    )
    assert [(e.kind, e.loc, e.published_s) for e in es] == [
        ("atom", "https://x/h", 1735787045)
    ]


def test_feed_date_normalization():
    # RFC 822 with zone
    assert parse_feed_date("Mon, 07 Jul 2025 08:30:00 GMT") == 1751877000
    assert parse_feed_date("Mon, 07 Jul 2025 08:30:00 +0200") == 1751869800
    # RFC 3339 / ISO 8601
    assert parse_feed_date("2025-07-07T08:30:00Z") == 1751877000
    assert parse_feed_date("2025-07-07T08:30:00+02:00") == 1751869800
    # naive datetimes default to UTC on both grammars
    assert parse_feed_date("2025-07-07T08:30:00") == 1751877000
    # garbage / absent
    assert parse_feed_date("not a date") is None
    assert parse_feed_date("") is None
    assert parse_feed_date(None) is None


@pytest.fixture(scope="module")
def spark():
    from extractor_spark.spark.session import get_spark

    yield get_spark("feed-frontier-tests", cpus=8)


def test_feed_frontier_matches_set_algebra_twin(spark):
    from urllib.parse import urlsplit

    from pyspark.sql import functions as F

    from extractor_spark.engine.robots import RobotsMatcher
    from extractor_spark.spark.frontier import synth_feeds_df
    from extractor_spark.spark.queries import QUERIES, _webgraph_pages
    from extractor_spark.spark.robots import synth_robots_df

    fn, oracle = QUERIES["feed_frontier"]
    assert oracle is None
    out = fn(spark, SF_DIR).toPandas()
    assert len(out) > 0 and out["url"].is_unique

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
        for r in synth_feeds_df(spark, hosts, known=known).collect()
    }
    robots = {
        r["host"]: r["body"] for r in synth_robots_df(spark, hosts).collect()
    }
    want = {}  # loc -> freshest published_s (the dedupe the frontier does)
    for host, xml in bodies.items():
        for e in parse_feed(xml):
            if e.loc in crawled:
                continue
            parts = urlsplit(e.loc)
            path = (parts.path or "/") + (("?" + parts.query) if parts.query else "")
            body = robots.get(parts.netloc.lower())
            if body is None or RobotsMatcher(body, "extractor-spark").decide(path)[0]:
                cur = want.get(e.loc, -1)
                pub = e.published_s if e.published_s is not None else -1
                want[e.loc] = max(cur, pub)
    assert set(out["url"]) == set(want)
    got_pub = {
        u: (int(p) if pd.notna(p) else -1)
        for u, p in zip(out["url"], out["published_s"])
    }
    assert got_pub == want
    # the anti-join provably removed embedded known urls
    embedded = {u for us in known.values() for u in us}
    assert embedded and not (set(out["url"]) & embedded)
    # fetch order: freshest first (published_s desc nulls last), then url
    key = [
        (-(int(p) if pd.notna(p) else -(10**15)), u)
        for p, u in zip(out["published_s"], out["url"])
    ]
    assert key == sorted(key)
    # syndication dedupe really had work: at least one loc appeared in >1 body
    locs = []
    for xml in bodies.values():
        locs.extend(e.loc for e in parse_feed(xml))
    assert len(locs) > len(set(locs))
