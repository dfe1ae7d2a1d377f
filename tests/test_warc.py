"""WARC ingest: record grammar, HTTP extraction, chunked bodies, file
splitting, and the Spark records->pages stage feeding the extractor."""

from closure_html_spark.warc import parse_warc_record
from references import split_warc_file


def _mk(url=b"https://x.ex/p", wtype=b"response",
        http=b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>hi",
        clen=None):
    body = http
    n = clen if clen is not None else len(body)
    return (b"WARC/1.0\r\nWARC-Type: " + wtype +
            b"\r\nWARC-Target-URI: " + url +
            b"\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: " + str(n).encode() + b"\r\n\r\n" + body +
            b"\r\n\r\n")


def test_response_record():
    r = parse_warc_record(_mk())
    assert r["url"] == "https://x.ex/p"
    assert r["warc_type"] == "response"
    assert r["http_status"] == 200
    assert r["content_type"] == "text/html"
    assert r["html"] == b"<p>hi"
    assert r["error"] is None


def test_content_length_respected():
    """Bytes after Content-Length (e.g. the record separator) must not
    leak into the body."""
    http = b"HTTP/1.1 200 OK\r\n\r\nBODY"
    rec = _mk(http=http) + b"trailing garbage"
    assert parse_warc_record(rec)["html"] == b"BODY"


def test_non_response_records_pass_through():
    r = parse_warc_record(_mk(wtype=b"request"))
    assert r["warc_type"] == "request" and r["html"] is None
    assert r["error"] is None


def test_chunked_transfer_encoding():
    http = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"5\r\nHello\r\n6\r\n World\r\n0\r\n\r\n")
    r = parse_warc_record(_mk(http=http))
    assert r["html"] == b"Hello World"


def test_error_markers():
    assert parse_warc_record(b"GET / HTTP/1.1")["error"] == "not-warc"
    assert parse_warc_record(b"WARC/1.0\r\nWARC-Type: response") \
        ["error"] == "truncated-headers"


def test_split_warc_file():
    data = _mk(url=b"https://a.ex/1") + _mk(url=b"https://b.ex/2") \
        + _mk(url=b"https://c.ex/3")
    recs = split_warc_file(data)
    assert len(recs) == 3
    urls = [parse_warc_record(r)["url"] for r in recs]
    assert urls == ["https://a.ex/1", "https://b.ex/2", "https://c.ex/3"]
    # resync after a corrupt record
    corrupt = b"WARC/1.0\r\nbroken" + b"\r\n\r\n" + _mk(url=b"https://d.ex/4")
    recs2 = split_warc_file(corrupt)
    assert parse_warc_record(recs2[-1])["url"] == "https://d.ex/4"


def test_records_to_pages_stage(spark):
    """The Spark stage: synthesized latin-1 records parse into pages whose
    HTTP charset header seeds the decoder (degree sign survives), and a
    broken record keeps its row with the error marker."""
    from pyspark.sql import functions as F

    from closure_html_spark.spark.pipeline import extract_pages
    from closure_html_spark.spark.warcs import (
        warc_records_to_pages,
        warcs_from_documents,
    )
    recs = warcs_from_documents(spark, "/root/testdata/sf0.001")
    pages = warc_records_to_pages(recs, id_cols=("doc_id",))
    ext = extract_pages(pages.select("doc_id", "url", "html",
                                     "content_type"),
                        id_cols=("doc_id",))
    row = ext.orderBy("doc_id").limit(1).collect()[0]
    assert row["title"] == "Doc °0"
    assert row["charset"] == "latin-1"
    # broken record: row kept, marker set
    bad = spark.createDataFrame([(99, bytearray(b"not a warc"))],
                                "doc_id long, record binary")
    b = warc_records_to_pages(bad, id_cols=("doc_id",)).collect()[0]
    assert b["warc_error"] == "not-warc" and b["url"] is None
    # accounting: every synthesized record is a 200 response
    agg = pages.agg(F.count(F.lit(1)).alias("n"),
                    F.sum((F.col("http_status") == 200).cast("int"))
                    .alias("ok")).collect()[0]
    assert agg["n"] == agg["ok"]


def test_conversion_record_roundtrip_fuzz():
    """Property fuzz (pure Python, mirrors warcs.wet_record's format):
    any unicode payload -- including CRLFs, nulls, WARC-like prefixes
    inside the body -- must round-trip through parse_warc_record via
    the Content-Length path."""
    import random

    from closure_html_spark.warc import parse_warc_record

    rng = random.Random(0xC0FFEE)
    alphabet = ("abc \t\r\n\x00äöü世界" + "WARC/1.0:-")
    for trial in range(200):
        body = "".join(rng.choice(alphabet)
                       for _ in range(rng.randrange(0, 400)))
        raw = body.encode("utf-8")
        rec = ("WARC/1.0\r\n"
               "WARC-Type: conversion\r\n"
               f"WARC-Target-URI: https://f.example/{trial}\r\n"
               "WARC-Date: 2024-01-01T00:00:00Z\r\n"
               "Content-Type: text/plain\r\n"
               f"Content-Length: {len(raw)}\r\n\r\n").encode("ascii") \
            + raw + b"\r\n\r\n"
        r = parse_warc_record(rec)
        assert r["warc_type"] == "conversion"
        assert r["content_type"] == "text/plain"
        assert r["html"] == raw, trial


def test_split_by_content_length_survives_warc_magic_in_payload():
    """Content-Length is authoritative (ISO 28500): a payload that
    embeds blank lines followed by the WARC/ magic -- the shape a WET
    payload quoting a WARC file produces, which a magic-resyncing
    splitter would truncate -- must stay one record."""
    evil_body = b"quoting a warc:\r\n\r\nWARC/1.0\r\nlooks-real: yes"
    rec1 = (b"WARC/1.0\r\nWARC-Type: conversion\r\n"
            b"WARC-Target-URI: https://e.ex/1\r\n"
            b"Content-Type: text/plain\r\n"
            b"Content-Length: " + str(len(evil_body)).encode() +
            b"\r\n\r\n" + evil_body + b"\r\n\r\n")
    rec2 = _mk(url=b"https://e.ex/2")
    recs = split_warc_file(rec1 + rec2)
    assert len(recs) == 2
    r1 = parse_warc_record(recs[0])
    assert r1["html"] == evil_body and r1["error"] is None
    assert parse_warc_record(recs[1])["url"] == "https://e.ex/2"


def test_split_wet_sink_separator_shape():
    """write_wet_sharded separates records with CRLFCRLF plus the text
    sink's LF; the Content-Length walk must split that shape cleanly
    even when a payload contains a blank line followed by 'WARC/' at
    line start (the resync fallback's documented truncation case)."""
    body1 = b"line one\n\nWARC/ looks like a magic\nline three"
    rec1 = (b"WARC/1.0\r\nWARC-Type: conversion\r\n"
            b"WARC-Target-URI: https://w.ex/1\r\n"
            b"Content-Type: text/plain\r\n"
            b"Content-Length: " + str(len(body1)).encode() +
            b"\r\n\r\n" + body1 + b"\r\n\r\n")
    body2 = b"second payload"
    rec2 = (b"WARC/1.0\r\nWARC-Type: conversion\r\n"
            b"WARC-Target-URI: https://w.ex/2\r\n"
            b"Content-Type: text/plain\r\n"
            b"Content-Length: " + str(len(body2)).encode() +
            b"\r\n\r\n" + body2 + b"\r\n\r\n")
    # the text sink adds one LF after each row it writes
    data = rec1 + b"\n" + rec2 + b"\n"
    recs = split_warc_file(data)
    assert len(recs) == 2
    r1, r2 = (parse_warc_record(r) for r in recs)
    assert r1["html"] == body1, r1
    assert r2["html"] == body2, r2


def test_split_corrupt_length_resyncs_on_magic():
    """A record whose Content-Length does not land on a record boundary
    must not swallow its successors: the splitter falls back to magic
    resync (the pre-round-8 behavior) and the next record parses."""
    bad = (b"WARC/1.0\r\nWARC-Type: conversion\r\n"
           b"WARC-Target-URI: https://c.ex/bad\r\n"
           b"Content-Type: text/plain\r\n"
           b"Content-Length: 7\r\n\r\n" + b"longer than seven")
    good = _mk(url=b"https://c.ex/good")
    recs = split_warc_file(bad + b"\r\n\r\n" + good)
    assert parse_warc_record(recs[-1])["url"] == "https://c.ex/good"
    # and an absent length still splits via the fallback
    noclen = (b"WARC/1.0\r\nWARC-Type: metadata\r\n\r\npayload")
    recs2 = split_warc_file(noclen + b"\r\n\r\n" + good)
    assert parse_warc_record(recs2[-1])["url"] == "https://c.ex/good"
