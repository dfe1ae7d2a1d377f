"""JSONL sharded export: round trip, deterministic shard layout, and
agreement with q_pack_sequences' shard assignment."""

import glob
import json

from pyspark.sql import functions as F

from closure_html_spark.spark import relational as R
from closure_html_spark.spark.sinks import write_jsonl_sharded
from references import read_jsonl_sharded, split_warc_file

SF = "/root/testdata/sf0.001"


def test_roundtrip_and_layout(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "lang", "text")
    out = str(tmp_path / "corpus")
    write_jsonl_sharded(docs, out, n_shards=8, shard_key="doc_id")
    dirs = sorted(glob.glob(f"{out}/shard=*"))
    assert len(dirs) == 8
    back = read_jsonl_sharded(
        spark, out, "doc_id long, lang string, text string")
    assert back.count() == 500
    a = {r.doc_id: (r.lang, r.text) for r in docs.collect()}
    b = {r.doc_id: (r.lang, r.text) for r in back.collect()}
    assert a == b


def test_shard_matches_pack_sequences(spark, tmp_path):
    """The file a doc lands in equals q_pack_sequences' shard for that
    doc -- the export layout and the packing plan agree."""
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")
    out = str(tmp_path / "corpus")
    write_jsonl_sharded(docs, out, n_shards=8, shard_key="doc_id")
    back = read_jsonl_sharded(spark, out, "doc_id long, text string") \
        .select("doc_id", "shard")
    packed = R.q_pack_sequences(spark, SF).select(
        "doc_id", F.col("shard").alias("pshard"))
    joined = back.join(packed, "doc_id")
    assert joined.count() == 500
    assert joined.filter("shard != pshard").count() == 0


def test_lines_are_json_objects(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text").limit(20)
    out = str(tmp_path / "c2")
    write_jsonl_sharded(docs, out, n_shards=2, shard_key="doc_id")
    files = glob.glob(f"{out}/shard=*/part-*")
    assert files
    line = open(files[0]).readline()
    obj = json.loads(line)
    assert set(obj) <= {"doc_id", "text"} and "doc_id" in obj


def test_roundtrip_embedded_newlines_and_quotes(spark, tmp_path):
    """Real corpus text contains newlines/quotes/backslashes; to_json must
    escape them so every row stays exactly one line."""
    rows = [(1, 'line one\nline two'), (2, 'quote " and \\ backslash'),
            (3, 'tab\there'), (4, '')]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "c3")
    write_jsonl_sharded(df, out, n_shards=2, shard_key="doc_id")
    files = glob.glob(f"{out}/shard=*/part-*")
    n_lines = sum(1 for f in files for _ in open(f))
    assert n_lines == 4
    back = read_jsonl_sharded(spark, out, "doc_id long, text string")
    got = {r.doc_id: r.text for r in back.collect()}
    assert got == dict(rows)


def test_wet_sink_roundtrip(spark, tmp_path):
    """write_wet_sharded output must re-parse through the repo's own
    ISO 28500 grammar: every record comes back type=conversion with the
    exact utf-8 payload, and shard ownership is the shared md5 hash."""
    import glob
    from closure_html_spark.spark.sinks import write_wet_sharded
    from closure_html_spark.warc import parse_warc_record
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .selectExpr("doc_id",
                        "'https://wet.example/p' || doc_id AS url",
                        "text").limit(100))
    expected = {r["url"]: r["text"] for r in docs.collect()}
    out = str(tmp_path / "wet")
    write_wet_sharded(docs, out, n_shards=4, url_col="url",
                      text_col="text")
    got = {}
    for f in glob.glob(out + "/shard=*/part-*"):
        data = open(f, "rb").read()
        for rec in split_warc_file(data):
            r = parse_warc_record(rec)
            assert r["warc_type"] == "conversion", r
            assert r["content_type"] == "text/plain"
            got[r["url"]] = r["html"].decode("utf-8")
    assert got == expected
