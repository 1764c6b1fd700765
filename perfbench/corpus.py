"""Seeded ``pages`` corpora built from the public synthetic page generators.

The reference-checkout fixture pages are never included: only
``synth.synth_page_html`` / ``synth.adversarial_page_html`` pages and
``synth.pdf_rows`` PDFs.  The seed picks the page-id range; the shares stay
fixed because every range starts at a multiple of ``BLOCK`` and spans a
whole number of blocks:

- every ``synth.ADVERSARIAL_EVERY``-th page (1/16) is converter-hostile;
- every ``RECRAWL_EVERY``-th page (1/20) is crawled twice, a day apart and
  with a changed body, so latest-crawl dedup has work to do;
- ``N_PDFS`` PDF payloads ride along.
"""

from __future__ import annotations

import datetime
import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from extractor_spark.spark import synth

RECRAWL_EVERY = 20
BLOCK = 80  # lcm(ADVERSARIAL_EVERY, RECRAWL_EVERY)
N_PDFS = 8
N_HOSTS = 50
_BASE_TS = datetime.datetime(2024, 1, 1)

# zipf-ish host weights (host k ∝ 1/(k+1)) so hot hosts exist, as in crawls
_HOST_CUM: list[float] = []
for _k in range(N_HOSTS):
    _HOST_CUM.append((_HOST_CUM[-1] if _HOST_CUM else 0.0) + 1.0 / (_k + 1))
_HOST_CUM = [c / _HOST_CUM[-1] for c in _HOST_CUM]


def first_page_id(seed: int) -> int:
    """Start of the seed's page-id range (a multiple of BLOCK)."""
    return BLOCK * (1 + seed % 100_000) * 1_000


def _host(page_id: int) -> str:
    digest = hashlib.sha256(f"host:{page_id}".encode()).digest()
    u = int.from_bytes(digest[:8], "big") / 2**64
    k = next((i for i, c in enumerate(_HOST_CUM) if u < c), N_HOSTS - 1)
    return f"site-{k:02d}.example.org"


def page_row(page_id: int, variant: int = 0) -> dict:
    hostile = page_id % synth.ADVERSARIAL_EVERY == 7 and variant == 0
    html = (
        synth.adversarial_page_html(page_id)
        if hostile
        else synth.synth_page_html(page_id, variant)
    )
    ts = _BASE_TS + datetime.timedelta(seconds=page_id * 17 % 31_536_000, days=variant)
    return {
        "url": f"https://{_host(page_id)}/article/{page_id}",
        "warc_ts": ts,
        "html": html.encode("utf-8"),
        "text": None,
        "lang": "en",
    }


def pages_df(
    spark: SparkSession, seed: int, n_pages: int, recrawls: bool = True
) -> DataFrame:
    """The seed's corpus: ``n_pages`` pages (a multiple of BLOCK), their
    recrawls when ``recrawls``, and N_PDFS PDFs."""
    if n_pages % BLOCK:
        raise ValueError(f"n_pages must be a multiple of {BLOCK}")

    def generate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for page_id in pdf["id"]:
                page_id = int(page_id)
                rows.append(page_row(page_id))
                if recrawls and page_id % RECRAWL_EVERY == 0:
                    rows.append(page_row(page_id, variant=1))
            yield pd.DataFrame(rows)

    start = first_page_id(seed)
    pages = spark.range(start, start + n_pages, numPartitions=4).mapInPandas(
        generate, schema=synth.PAGES_SCHEMA
    )
    pdfs = spark.createDataFrame(pd.DataFrame(synth.pdf_rows(N_PDFS)), schema=synth.PAGES_SCHEMA)
    return pages.unionByName(pdfs)


def write_corpus(spark: SparkSession, path: str, seed: int, n_pages: int, recrawls: bool = True) -> None:
    pages_df(spark, seed, n_pages, recrawls).write.mode("overwrite").parquet(path)


def corpus_counts(spark: SparkSession, path: str, n_pages: int, recrawls: bool = True) -> dict:
    """What the written corpus holds (one small aggregate job)."""
    row = (
        spark.read.parquet(path)
        .agg(
            F.count("*").alias("rows"),
            F.countDistinct("url").alias("urls"),
            F.sum(F.length("html")).alias("html_bytes"),
        )
        .first()
    )
    return {
        "fixtures_included": False,
        "docs": row["rows"],
        "distinct_urls": row["urls"],
        "pages": n_pages,
        "recrawls": n_pages // RECRAWL_EVERY if recrawls else 0,
        "hostile_pages": n_pages // synth.ADVERSARIAL_EVERY,
        "pdfs": N_PDFS,
        "html_mb": round(row["html_bytes"] / 1e6, 3),
    }
