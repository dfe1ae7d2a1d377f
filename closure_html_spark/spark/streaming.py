"""Structured Streaming ingest mode (SURVEY.md §2.10 "streaming").

The extraction stage is stateless per document, so the streaming pipeline
is: file-source readStream over arriving `pages` parquet -> the SAME
Arrow-batched extraction stage used in batch mode -> parquet sink
with checkpointing.  Exactly-once comes from the file-source + checkpoint
combination; no stateful operator is needed for parse itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .pipeline import extract_pages

PAGES_DDL = ("url string, warc_ts timestamp, html binary, text string, "
             "lang string, doc_id long")
# parquet files the source reads per micro-batch
MAX_FILES_PER_TRIGGER = 8


def read_pages_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (spark.readStream
            .schema(PAGES_DDL)
            .option("maxFilesPerTrigger", str(MAX_FILES_PER_TRIGGER))
            .parquet(input_dir))


def stream_extract(spark: SparkSession, input_dir: str, output_dir: str,
                   checkpoint_dir: str):
    """Start the streaming extraction job; returns the StreamingQuery.
    It drains everything currently in input_dir and stops (the
    availableNow batch-backfill trigger)."""
    pages = read_pages_stream(spark, input_dir)
    ext = extract_pages(pages, id_cols=("url", "doc_id"))
    writer = (ext.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append")
              .trigger(availableNow=True))
    return writer.start()

