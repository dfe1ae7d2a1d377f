"""WARC ingest as a Spark stage + deterministic warc-record synthesis.

warc_records_to_pages turns a `record binary` column (one WARC record per
row -- what a .warc.gz member splitter or split_warc_file emits) into the
standard pages shape (url, warc_ts, html, content_type), which feeds
pipeline.extract_pages directly; its existing `content_type` handling
seeds the charset decoder from the HTTP header, so a latin-1 body with no
<meta> tag decodes correctly end-to-end.

Synthesis builds REAL response records from `documents` with JVM-side
column expressions only: WARC headers with a correct Content-Length, an
HTTP/1.1 message with `Content-Type: text/html; charset=iso-8859-1`, and
a LATIN-1-ENCODED body whose title carries a non-ASCII degree sign --
the gate query therefore proves the whole chain (record grammar, HTTP
header extraction, charset seeding, parse, extract) against a closed-form
oracle, not just the happy utf-8 path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from closure_html_spark.spark.tables import read_table


def _esc(col):
    return F.replace(
        F.replace(
            F.replace(col, F.lit("&"), F.lit("&amp;")),
            F.lit("<"), F.lit("&lt;")),
        F.lit(">"), F.lit("&gt;"))


def warcs_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents") \
        .select("doc_id", "text")
    i = F.col("doc_id").cast("string")
    h = (F.col("doc_id") % 50).cast("string")
    url = F.concat(F.lit("https://warc"), h, F.lit(".example/p"), i)
    # ° (0xB0 in latin-1) in the title pins the HTTP-charset path
    html = F.concat(
        F.lit("<html><head><title>Doc °"), i,
        F.lit("</title></head><body><p>"), _esc(F.col("text")),
        F.lit("</p></body></html>"))
    html_b = F.encode(html, "ISO-8859-1")
    http_head = ("HTTP/1.1 200 OK\r\n"
                 "Content-Type: text/html; charset=iso-8859-1\r\n\r\n")
    http_len = F.length(html_b) + F.lit(len(http_head))
    warc_head = F.concat(
        F.lit("WARC/1.0\r\n"
              "WARC-Type: response\r\n"
              "WARC-Target-URI: "), url,
        F.lit("\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n"
              "Content-Type: application/http; msgtype=response\r\n"
              "Content-Length: "), http_len.cast("string"),
        F.lit("\r\n\r\n" + http_head))
    record = F.concat(F.encode(warc_head, "US-ASCII"), html_b,
                      F.encode(F.lit("\r\n\r\n"), "US-ASCII"))
    return docs.select("doc_id", record.alias("record"))


def warc_records_to_pages(df: DataFrame,
                          id_cols: tuple[str, ...] = ()) -> DataFrame:
    """mapInArrow: `record binary` -> pages columns.  Non-response /
    broken records keep their row with null url/html and the error
    marker, so ingest accounting never silently drops records."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from ..warc import parse_warc_record

    ids = [name for name, _ in df.dtypes if name in id_cols]
    schema = ", ".join(
        [f"{n} {t}" for n, t in df.dtypes if n in id_cols]
        + ["url string", "warc_ts timestamp", "html binary",
           "content_type string", "http_status int", "warc_error string"])
    arrow_schema = to_arrow_schema(StructType.fromDDL(schema))

    def fn(batches):
        import datetime
        for batch in batches:
            raws = batch.column("record").to_pylist()
            urls, tss, htmls, cts, sts, errs = [], [], [], [], [], []
            for raw in raws:
                try:
                    r = parse_warc_record(bytes(raw) if raw is not None
                                          else b"")
                    u, d, b, c, s, e = (r["url"], r["warc_date"], r["html"],
                                        r["content_type"], r["http_status"],
                                        r["error"])
                except Exception as exc:  # pragma: no cover
                    u = d = b = c = s = None
                    e = f"error:{type(exc).__name__}"
                ts = None
                if d:
                    try:
                        ts = datetime.datetime.fromisoformat(
                            d.replace("Z", "+00:00")).replace(tzinfo=None)
                    except ValueError:
                        pass
                urls.append(u)
                tss.append(ts)
                htmls.append(b)
                cts.append(c)
                sts.append(s)
                errs.append(e)
            arrays = ([batch.column(c) for c in ids] +
                      [pa.array(urls, pa.string()),
                       pa.array(tss, pa.timestamp("us")),
                       pa.array(htmls, pa.binary()),
                       pa.array(cts, pa.string()),
                       pa.array(sts, pa.int32()),
                       pa.array(errs, pa.string())])
            yield pa.RecordBatch.from_arrays(arrays,
                                             names=arrow_schema.names)

    return df.select(*ids, "record").mapInArrow(fn, schema)


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: warc records -> pages -> extract; the latin-1 title
    degree sign survives only if the HTTP charset header actually seeds
    the decoder."""
    from .pipeline import extract_pages

    recs = warcs_from_documents(spark, sf_dir)
    pages = warc_records_to_pages(recs, id_cols=("doc_id",))
    ext = extract_pages(pages.select("doc_id", "url", "html",
                                     "content_type"),
                        id_cols=("doc_id", "url"),
                        columns=("title", "extracted_text", "charset"))
    return (ext.select("doc_id", "url", "title", "extracted_text",
                       "charset").orderBy("doc_id"))


ORACLE_WARC_EXTRACT = """
SELECT doc_id,
       'https://warc' || (doc_id % 50) || '.example/p' || doc_id AS url,
       'Doc ' || chr(176) || CAST(doc_id AS VARCHAR) AS title,
       text AS extracted_text,
       'latin-1' AS charset  -- decode_html's normalized name for the
                             -- iso-8859-1 the HTTP header declared
FROM documents ORDER BY doc_id
"""


def wet_record(url_col, text_col,
               date: str = "2024-01-01T00:00:00Z"):
    """WET-style conversion record (ISO 28500 §6.8; the CommonCrawl WET
    layout) as ONE JVM-side string column: WARC header + blank line +
    the UTF-8 plain-text payload.  Content-Length is the payload's
    OCTET length (octet_length of the utf-8 encoding, not the char
    count).  Like real WET writers, the body is not escaped -- a
    payload containing a literal CRLFCRLF"WARC/" sequence would
    confuse a magic-resyncing splitter (Content-Length remains
    authoritative for compliant readers)."""
    return F.concat(
        F.lit("WARC/1.0\r\n"
              "WARC-Type: conversion\r\n"
              "WARC-Target-URI: "), url_col,
        F.lit(f"\r\nWARC-Date: {date}\r\n"
              "Content-Type: text/plain\r\n"
              "Content-Length: "),
        F.octet_length(F.encode(text_col, "UTF-8")).cast("string"),
        F.lit("\r\n\r\n"), text_col, F.lit("\r\n\r\n"))


def q_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query for the WET export surface: build a conversion record
    per document JVM-side, parse it BACK through the repo's own ISO
    28500 grammar (the same Arrow stage the ingest path uses), and
    report url/type/byte-accounting plus an exact payload match flag.
    A writer/parser disagreement (header drift, length-vs-chars bug,
    charset slip) turns `match` to 0 and breaks the closed-form
    oracle loudly."""
    docs = read_table(spark, sf_dir, "documents") \
        .select("doc_id", "text")
    url = F.concat(F.lit("https://wet.example/p"),
                   F.col("doc_id").cast("string"))
    recs = docs.select(
        "doc_id", "text",
        F.encode(wet_record(url, F.col("text")), "UTF-8").alias("record"))

    import pyarrow as pa
    from ..warc import parse_warc_record

    out_schema = ("doc_id long, url string, warc_type string, "
                  "content_type string, body_len int, match int")

    def fn(batches):
        for batch in batches:
            ids = batch.column("doc_id").to_pylist()
            txts = batch.column("text").to_pylist()
            blobs = batch.column("record").to_pylist()
            rows = {k: [] for k in ("doc_id", "url", "warc_type",
                                    "content_type", "body_len", "match")}
            for i, blob in zip(range(len(ids)), blobs):
                r = parse_warc_record(bytes(blob))
                body = r["html"] or b""
                rows["doc_id"].append(ids[i])
                rows["url"].append(r["url"])
                rows["warc_type"].append(r["warc_type"])
                rows["content_type"].append(r["content_type"])
                rows["body_len"].append(len(body))
                rows["match"].append(
                    1 if body.decode("utf-8", "replace") == txts[i] else 0)
            yield pa.RecordBatch.from_arrays(
                [pa.array(rows["doc_id"], type=pa.int64()),
                 pa.array(rows["url"], type=pa.string()),
                 pa.array(rows["warc_type"], type=pa.string()),
                 pa.array(rows["content_type"], type=pa.string()),
                 pa.array(rows["body_len"], type=pa.int32()),
                 pa.array(rows["match"], type=pa.int32())],
                names=["doc_id", "url", "warc_type", "content_type",
                       "body_len", "match"])

    return (recs.mapInArrow(fn, out_schema)
            .orderBy("doc_id"))


ORACLE_WET_ROUNDTRIP = """
SELECT doc_id,
       'https://wet.example/p' || CAST(doc_id AS VARCHAR) AS url,
       'conversion' AS warc_type,
       'text/plain' AS content_type,
       CAST(octet_length(encode(text)) AS INT) AS body_len,
       1 AS match
FROM documents ORDER BY doc_id
"""
