"""WARC ingest as a Spark stage + deterministic warc-record synthesis.

warc_records_to_pages turns a `record binary` column (one WARC record per
row -- what a .warc.gz member splitter emits) into the standard pages
shape (url, warc_ts, html, content_type), which feeds
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

from closure_html_spark.spark.pages import _esc
from closure_html_spark.spark.tables import read_table

# the WARC-Date of every synthesized response and exported WET record
WARC_DATE = "2024-01-01T00:00:00Z"


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
        F.lit(f"\r\nWARC-Date: {WARC_DATE}\r\n"
              "Content-Type: application/http; msgtype=response\r\n"
              "Content-Length: "), http_len.cast("string"),
        F.lit("\r\n\r\n" + http_head))
    record = F.concat(F.encode(warc_head, "US-ASCII"), html_b,
                      F.encode(F.lit("\r\n\r\n"), "US-ASCII"))
    return docs.select("doc_id", record.alias("record"))


def warc_records_to_pages(df: DataFrame,
                          id_cols: tuple[str, ...]) -> DataFrame:
    """`record binary` -> pages columns, one row per record.
    Non-response / broken records keep their row with null url/html and
    the error marker, so ingest accounting never silently drops
    records."""
    import datetime

    from ..warc import parse_warc_record
    from .pipeline import doc_stage

    def columns_of(batch):
        urls, tss, htmls, cts, sts, errs = [], [], [], [], [], []
        for raw in batch.column("record").to_pylist():
            r = parse_warc_record(bytes(raw) if raw is not None else b"")
            d = r["warc_date"]
            ts = None
            if d:
                try:
                    ts = datetime.datetime.fromisoformat(
                        d.replace("Z", "+00:00")).replace(tzinfo=None)
                except ValueError:
                    pass
            urls.append(r["url"])
            tss.append(ts)
            htmls.append(r["html"])
            cts.append(r["content_type"])
            sts.append(r["http_status"])
            errs.append(r["error"])
        return None, [urls, tss, htmls, cts, sts, errs]

    return doc_stage(df, id_cols, ["record"],
                     "url string, warc_ts timestamp, html binary, "
                     "content_type string, http_status int, "
                     "warc_error string", columns_of)


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


def wet_record(url_col, text_col):
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
        F.lit(f"\r\nWARC-Date: {WARC_DATE}\r\n"
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

    from ..warc import parse_warc_record
    from .pipeline import doc_stage

    def columns_of(batch):
        urls, types, cts, lens, match = [], [], [], [], []
        for blob, txt in zip(batch.column("record").to_pylist(),
                             batch.column("text").to_pylist()):
            r = parse_warc_record(bytes(blob))
            body = r["html"] or b""
            urls.append(r["url"])
            types.append(r["warc_type"])
            cts.append(r["content_type"])
            lens.append(len(body))
            match.append(1 if body.decode("utf-8", "replace") == txt else 0)
        return None, [urls, types, cts, lens, match]

    return (doc_stage(recs, ("doc_id",), ["text", "record"],
                      "url string, warc_type string, content_type string, "
                      "body_len int, match int", columns_of)
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
