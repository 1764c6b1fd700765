"""Structured Streaming extraction and output-sink tests."""

import pytest

from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


def test_stream_convert_pages_incremental(spark, tmp_path):
    """New page files are converted incrementally; output matches the batch
    stage; a second drain with no new files adds nothing."""
    from extractor_spark.spark.stages import convert_stage
    from extractor_spark.spark.streaming import stream_convert_pages
    from extractor_spark.spark.synth import build_pages_df

    pages_dir = str(tmp_path / "pages_stream")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    first = build_pages_df(spark, 10, include_fixtures=False, dup_every=0)
    first.write.mode("overwrite").parquet(pages_dir)

    q = stream_convert_pages(spark, pages_dir, out_dir, ckpt)
    q.awaitTermination(120)

    got1 = spark.read.parquet(out_dir).count()
    assert got1 == 10

    # second batch of files lands
    more = build_pages_df(spark, 30, include_fixtures=False, dup_every=0).filter(
        "url like '%/article/2%'"
    )
    n_more = more.count()
    more.write.mode("append").parquet(pages_dir)

    q = stream_convert_pages(spark, pages_dir, out_dir, ckpt)
    q.awaitTermination(120)
    out = spark.read.parquet(out_dir)
    # incremental: only genuinely new files processed (the 10 originals are
    # not re-emitted; appended files include the first 10 ids again under
    # new filenames, which ARE new to the stream)
    assert out.count() >= got1 + n_more - 10
    assert "markdown" in out.columns
    sample = out.filter(F.col("markdown").isNotNull()).count()
    assert sample > 0


def test_stream_structured_extraction(spark, tmp_path):
    """foreachBatch extraction: streamed pages get convert + schema-guided
    extraction with a typed data struct, matching the batch pipeline."""
    from pyspark.sql import functions as F

    from extractor_spark.spark.streaming import stream_convert_pages
    from extractor_spark.spark.synth import FIXTURE_URLS, build_pages_df

    pages_dir = str(tmp_path / "pages")
    build_pages_df(spark, 6).write.parquet(pages_dir)
    schema = {
        "type": "object",
        "required": ["title"],
        "properties": {"title": {"type": "string"}},
    }
    q = stream_convert_pages(
        spark, pages_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"), schema=schema
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert "data" in out.columns
    blog = out.filter(F.col("url") == FIXTURE_URLS["blog-post"]).collect()
    assert blog and blog[0]["data"]["title"] == "Understanding Async/Await in JavaScript"


def test_jsonl_sink(spark, tmp_path):
    import json

    from extractor_spark.spark.sources import write_output
    from extractor_spark.spark.synth import build_pages_df
    from extractor_spark.spark.stages import convert_stage

    out = convert_stage(build_pages_df(spark, 5, include_fixtures=False, dup_every=0))
    export = out.select("url", "markdown", "text", "markdown_chars")
    path = str(tmp_path / "export")
    write_output(export, path, fmt="jsonl", partition_col=None)
    lines = []
    for f in (tmp_path / "export").glob("*.json"):
        lines += [json.loads(l) for l in f.read_text().splitlines()]
    assert len(lines) == 5
    assert all(set(l) <= {"url", "markdown", "text", "markdown_chars"} for l in lines)
    assert all(l["markdown"] for l in lines)
