"""Structured Streaming ingest mode (SURVEY.md §2.10 "streaming").

The extraction stage is stateless per document, so the streaming pipeline
is: file-source readStream over arriving `pages` parquet -> the SAME
Arrow-batched extraction mapInPandas used in batch mode -> parquet sink
with checkpointing.  Exactly-once comes from the file-source + checkpoint
combination; no stateful operator is needed for parse itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .pipeline import extract_pages

PAGES_DDL = ("url string, warc_ts timestamp, html binary, text string, "
             "lang string, doc_id long")


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    return (spark.readStream
            .schema(PAGES_DDL)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(input_dir))


def stream_extract(spark: SparkSession, input_dir: str, output_dir: str,
                   checkpoint_dir: str, available_now: bool = True):
    """Start the streaming extraction job; returns the StreamingQuery.
    available_now=True drains everything currently in input_dir and stops
    (the batch-backfill trigger); False runs continuously."""
    pages = read_pages_stream(spark, input_dir)
    ext = extract_pages(pages, id_cols=("url", "doc_id"))
    writer = (ext.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

