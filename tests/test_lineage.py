"""Resume/lineage/skew tests (north_rule scale shell)."""

import pytest
from pyspark.sql import functions as F

from closure_html_spark.spark import lineage
from closure_html_spark.spark.lineage import (
    completed_buckets,
    run_extraction_with_lineage,
    salt_skewed,
    with_bucket,
)
from closure_html_spark.spark.pages import pages_from_documents

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pages(spark):
    return pages_from_documents(spark, SF).cache()


def test_lineage_run_and_resume(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lineage"))
    n_buckets = 8

    # partial run: pretend only buckets 0..3 were attempted
    subset = with_bucket(pages, n_buckets).filter(F.col("bucket") < 4) \
        .drop("bucket")
    r1 = run_extraction_with_lineage(spark, subset, out, n_buckets=n_buckets,
                                     group_size=4)
    done1 = completed_buckets(spark, out)
    assert set(r1["processed"]) == set(range(n_buckets))  # 4..7 complete empty
    assert done1 == set(range(n_buckets))

    # full resume over ALL pages: everything already marked -> no reprocess
    r2 = run_extraction_with_lineage(spark, pages, out, n_buckets=n_buckets,
                                     group_size=16)
    assert r2["processed"] == []
    assert set(r2["skipped"]) == set(range(n_buckets))


def test_lineage_counts_match_output(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lineage2"))
    r = run_extraction_with_lineage(spark, pages, out, n_buckets=4,
                                    group_size=2)
    assert set(r["processed"]) == {0, 1, 2, 3}
    ext = spark.read.parquet(f"{out}/extracted")
    man = spark.read.parquet(f"{out}/_lineage")
    assert ext.count() == pages.count()
    stats = {r["bucket"]: r for r in man.collect()}
    per_bucket = {r["bucket"]: r["c"] for r in
                  ext.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
                  .collect()}
    for b, cnt in per_bucket.items():
        assert stats[b]["output_count"] == cnt
        assert stats[b]["input_count"] == cnt
        assert stats[b]["status"] == "ok"
    # extraction results intact through the bucketed write
    row = ext.filter(F.col("extracted_text") != "").limit(1).collect()[0]
    assert row["extracted_text"].startswith("home about")


def test_lineage_empty_corpus(spark, pages, tmp_path_factory):
    """An all-empty input writes only _SUCCESS (no part files) for the
    first group; the stats read-back must use the explicit schema instead
    of inference (which fails on a file-less directory)."""
    out = str(tmp_path_factory.mktemp("lineage_empty"))
    empty = pages.filter(F.lit(False))
    r = run_extraction_with_lineage(spark, empty, out, n_buckets=4,
                                    group_size=2)
    assert set(r["processed"]) == {0, 1, 2, 3}
    man = spark.read.parquet(f"{out}/_lineage")
    assert man.count() == 4
    assert man.filter("status = 'ok' and output_count = 0").count() == 4


def test_salt_skewed_splits_hot_hosts(spark, pages, monkeypatch):
    with_host = pages.withColumn(
        "url_host", F.regexp_extract("url", r"https://([^/]+)/", 1))
    monkeypatch.setattr(lineage, "SKEW_FACTOR", 2.0)
    salted = salt_skewed(with_host)
    # host0 holds ~30% of pages (synthesis skew fixture) -> must be salted
    hot = salted.filter(F.col("url_host") == "host0.example")
    n_salts = hot.select("salt").distinct().count()
    assert n_salts > 1, "hot host not split"
    # normal hosts keep salt 0
    cold = salted.filter(F.col("url_host") != "host0.example")
    assert cold.select("salt").distinct().collect()[0]["salt"] == 0
    # salting never changes row count
    assert salted.count() == pages.count()


def test_resume_cleans_partial_bucket_output(spark, pages, tmp_path_factory):
    """A run killed mid-write leaves parquet under bucket=N with no
    manifest; resume must delete it before recomputing (exactly-once at
    bucket granularity)."""
    import shutil

    from closure_html_spark.spark.lineage import LINEAGE_SCHEMA
    out = str(tmp_path_factory.mktemp("partial"))
    run_extraction_with_lineage(spark, pages, out, n_buckets=8, group_size=2)
    n_full = spark.read.parquet(f"{out}/extracted").count()
    # recreate the kill state: manifests only for 0-3; bucket 5 output
    # present but unmanifested (partial write); 4,6,7 gone entirely
    man = [tuple(r) for r in
           spark.read.schema(LINEAGE_SCHEMA).parquet(f"{out}/_lineage")
           .filter("bucket < 4").collect()]
    shutil.rmtree(f"{out}/_lineage")
    spark.createDataFrame(man, LINEAGE_SCHEMA).write.parquet(f"{out}/_lineage")
    for b in (4, 6, 7):
        shutil.rmtree(f"{out}/extracted/bucket={b}")

    r = run_extraction_with_lineage(spark, pages, out, n_buckets=8,
                                    group_size=16)
    assert r["processed"] == [4, 5, 6, 7]
    assert r["cleaned_partial"] == [5]
    final = spark.read.parquet(f"{out}/extracted")
    assert final.count() == n_full
    assert final.select("url").distinct().count() == n_full


def test_lineage_failed_doc_does_not_lower_warn_count(spark, tmp_path_factory):
    """A failed document carries n_warns = -1 (null html: bytes(None)
    raises, so the row is marked error:TypeError).  The manifest's
    warn_count sums only the real warnings of the other documents."""
    out = str(tmp_path_factory.mktemp("lineage_failed"))
    rows = [("https://a.example/soup",
             bytearray(b"<table><td>x<ul>soup</table></p></b>")),
            ("https://a.example/null", None)]
    df = spark.createDataFrame(rows, "url string, html binary")
    run_extraction_with_lineage(spark, df, out, n_buckets=1, group_size=16)
    ext = {r["url"]: r for r in
           spark.read.parquet(f"{out}/extracted").collect()}
    assert ext["https://a.example/null"]["charset"] == "error:TypeError"
    assert ext["https://a.example/null"]["n_warns"] == -1
    warns = ext["https://a.example/soup"]["n_warns"]
    assert warns > 0
    (man,) = spark.read.parquet(f"{out}/_lineage").collect()
    assert (man["input_count"], man["output_count"]) == (2, 2)
    assert man["warn_count"] == warns
