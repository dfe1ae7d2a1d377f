"""The table reader: schemas from parquet footers equal Spark's own
inference, a read starts no Spark job, and every input the footers cannot
describe falls back to Spark's inference."""

import os

import pytest

from closure_html_spark.spark import relational as R
from closure_html_spark.spark.tables import footer_schema, read_table

def _inferred(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet").schema


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_footer_schema_equals_inferred(spark, sf_dir, sf):
    """For every table of the test data: StructType equality, nullability
    included.  The tz-naive `timestamp[us]` columns of events, lineitem
    and orders must come out as `timestamp_ntz`, as Spark infers them."""
    d = os.path.join(os.path.dirname(sf_dir), sf)
    names = sorted(f[:-len(".parquet")] for f in os.listdir(d)
                   if f.endswith(".parquet"))
    assert "events" in names and "embeddings" in names
    for name in names:
        got = footer_schema(d, name)
        assert got is not None, name
        assert got == _inferred(spark, d, name), name
        assert read_table(spark, d, name).schema == got, name


def test_footer_schema_follows_the_ntz_setting(spark, sf_dir):
    """With spark.sql.parquet.inferTimestampNTZ.enabled off Spark infers a
    tz-naive timestamp as `timestamp`; the reader follows the session."""
    from pyspark.sql.types import TimestampType
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    spark.conf.set(key, "false")
    try:
        got = read_table(spark, sf_dir, "events").schema
        assert TimestampType() in [f.dataType for f in got]
        assert got == _inferred(spark, sf_dir, "events")
    finally:
        spark.conf.unset(key)


def test_footer_schema_of_spark_written_file(spark, tmp_path):
    """A Spark-written file keeps its row schema in the footer: its INT96
    `ts` is `timestamp` there, where the Arrow mapping of the parquet type
    would give `timestamp_ntz`; non-null columns, arrays and maps come
    out nullable, as Spark reads them."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType
    key = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        (spark.range(3).select(
            "id", F.current_timestamp().alias("ts"),
            F.array("id").alias("arr"),
            F.create_map(F.lit("k"), F.col("id")).alias("m"))
         .write.parquet(str(tmp_path / "t.parquet")))
    finally:
        spark.conf.set(key, old)
    got = footer_schema(str(tmp_path), "t")
    assert got["ts"].dataType == TimestampType()
    assert got == _inferred(spark, str(tmp_path), "t")
    assert read_table(spark, str(tmp_path), "t").count() == 3


def test_table_reader_starts_no_job(spark, sf_dir):
    """The queries' reader (_t) takes every schema from the footers; a
    bare spark.read.parquet runs a schema-inference job."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    for name in ("documents", "embeddings", "events", "lineitem"):
        R._t(spark, sf_dir, name)
    assert set(tracker.getJobIdsForGroup()) == before
    spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert set(tracker.getJobIdsForGroup()) > before


def test_fallbacks_read_what_spark_infers(spark, sf_dir, tmp_path):
    """Where the footers cannot give Spark's schema the reader lets Spark
    infer it: a `file://` URI, a partitioned directory (Spark adds the
    partition column), files whose schemas differ, and a type outside the
    footer mapping (uint32, which Spark widens to bigint)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    uri = "file://" + sf_dir
    spark.read.parquet(f"{sf_dir}/documents.parquet").write \
        .partitionBy("lang").parquet(str(tmp_path / "parts.parquet"))
    mixed = tmp_path / "mixed.parquet"
    mixed.mkdir()
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}),
                   mixed / "0.parquet")
    pq.write_table(pa.table({"a": pa.array([1], pa.int64()),
                             "b": pa.array(["x"])}), mixed / "1.parquet")
    pq.write_table(pa.table({"u": pa.array([1, 2], pa.uint32())}),
                   tmp_path / "unsigned.parquet")
    cases = [(uri, "documents"), (str(tmp_path), "parts"),
             (str(tmp_path), "mixed"), (str(tmp_path), "unsigned")]
    for d, name in cases:
        assert footer_schema(d, name) is None, name
        assert read_table(spark, d, name).schema == \
            _inferred(spark, d, name), name
    assert "lang" in read_table(spark, str(tmp_path), "parts").columns
    assert read_table(spark, uri, "documents").count() == \
        read_table(spark, sf_dir, "documents").count()
