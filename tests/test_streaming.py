"""Structured Streaming ingest tests: streaming extraction must produce
exactly the batch results."""

import pytest
from pyspark.sql import functions as F

from closure_html_spark.spark.pages import pages_from_documents
from closure_html_spark.spark.streaming import stream_extract

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def staged_pages(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("pages_in")
    pages = pages_from_documents(spark, SF)
    pages.repartition(4).write.mode("overwrite").parquet(str(d))
    return str(d), pages.count()


def test_stream_extract_matches_batch(spark, staged_pages, tmp_path_factory):
    input_dir, n = staged_pages
    out = str(tmp_path_factory.mktemp("stream_out"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    q = stream_extract(spark, input_dir, out, ckpt)
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    assert got.count() == n
    # streaming result values identical to batch invariant
    bad = got.join(
        spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text"),
        "doc_id").filter(F.col("main_text") != F.col("text")).count()
    assert bad == 0

    # resume: restart with same checkpoint, nothing new -> no duplicates
    q2 = stream_extract(spark, input_dir, out, ckpt)
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == n

