"""Structured Streaming surface: continuous extraction.

The reference is a batch library (no streaming, SURVEY.md §2.5).
``stream_convert_pages`` is the streaming counterpart a crawl pipeline
needs: new page files landing in a directory are converted incrementally
via ``foreachBatch`` running the same Arrow-batched convert stage, with
exactly-once file-sink semantics from the checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from extractor_spark.spark.stages import convert_stage
from extractor_spark.spark.synth import PAGES_SCHEMA


def stream_convert_pages(
    spark: SparkSession,
    pages_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: dict | None = None,
    custom_prompt: str | None = None,
):
    """Continuous extraction pipeline: each micro-batch of newly-landed page
    files runs the batch convert stage — plus schema-guided structured
    extraction when ``schema`` is given — and appends to the output table.
    Returns the StreamingQuery (caller stops it)."""

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # DataFrame.isEmpty: no RDD conversion, one cheap limit-1 job
        if batch_df.isEmpty():
            return
        out = convert_stage(batch_df.select("url", "warc_ts", "html", "lang"))
        if schema is not None:
            from extractor_spark.spark.stages import extract_stage, with_typed_data

            out = with_typed_data(
                extract_stage(out, schema, custom_prompt=custom_prompt), schema
            ).drop("data_json")
        out.write.mode("append").parquet(output_dir)

    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
