"""Seeded fuzz of the two record parsers behind the pdf and warc Spark
stages: extract_pdf_text and parse_warc_record promise an error marker,
never an exception, so the stages call them without a guard.  Each case
starts from a well-formed record and truncates it, flips bits in it,
splices structural tokens into it, or keeps only its magic and appends
random bytes.  Pinned cases below cover inputs the random mutations do
not reach: a long HTTP status and a FlateDecode bomb, in process and
through the two stages."""

import random
import zlib

import pytest

from closure_html_spark.pdf import MAX_INFLATED_BYTES, extract_pdf_text
from closure_html_spark.warc import parse_warc_record

N_CASES = 400

_PDF_OPS = (b"(He\\(l\\)lo\\101) Tj", b"<48656C6C6F> Tj",
            b"[(a) -300 (b)] TJ", b"0 -14 Td", b"T*", b"(x) '",
            b"1 0 0 1 5 5 Tm", b"/F1 12 Tf", b"(nest (ok)) \"", b"-.5 +3. 7")
_SPLICES = (b"(", b")", b"\\", b"<", b">", b"[", b"]", b"stream\n",
            b"endstream", b"/FlateDecode", b"BT", b"ET", b"Tj", b"\r\n\r\n",
            b"\r\n0\r\n", b"ffffffffffffffffffff\r\n",
            b"Content-Length: -5\r\n",
            b"Content-Length: 99999999999999999999\r\n",
            b"Transfer-Encoding: chunked\r\n", b"\xff\xfe", b"-", b".")


def _pdf(rng) -> bytes:
    content = (b"BT " + b" ".join(rng.choice(_PDF_OPS)
                                  for _ in range(rng.randrange(1, 12)))
               + b" ET")
    flate = rng.random() < 0.5
    body = zlib.compress(content) if flate else content
    return (b"%PDF-1.4\n1 0 obj<</Type/Catalog/Pages 2 0 R>>endobj\n"
            b"4 0 obj<</Length " + str(len(body)).encode()
            + (b"/Filter/FlateDecode" if flate else b"") + b">>stream\n"
            + body + b"\nendstream\nendobj\ntrailer<</Root 1 0 R>>\n%%EOF\n")


def _warc(rng) -> bytes:
    html = b"<p>hi " + rng.randbytes(rng.randrange(0, 40))
    if rng.random() < 0.4:
        body = b"".join(b"%x\r\n" % len(html[i:i + 7]) + html[i:i + 7]
                        + b"\r\n" for i in range(0, len(html), 7))
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; "
                b"charset=latin-1\r\nTransfer-Encoding: chunked\r\n\r\n"
                + body + b"0\r\n\r\n")
    else:
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
    wtype = rng.choice((b"response", b"conversion", b"request"))
    return (b"WARC/1.0\r\nWARC-Type: " + wtype
            + b"\r\nWARC-Target-URI: https://x.ex/p\r\n"
            b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
            + http + b"\r\n\r\n")


def _mutate(rng, data: bytes) -> bytes:
    b = bytearray(data)
    kind = rng.randrange(4)
    if kind == 0:
        return bytes(b[:rng.randrange(len(b))])
    if kind == 1:
        for _ in range(rng.randrange(1, 8)):
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        return bytes(b)
    if kind == 2:
        for _ in range(rng.randrange(1, 4)):
            i = rng.randrange(len(b) + 1)
            b[i:i] = rng.choice(_SPLICES)
        return bytes(b)
    return data[:rng.randrange(1, 12)] + rng.randbytes(rng.randrange(200))


@pytest.mark.parametrize("parse,make,keys", [
    (extract_pdf_text, _pdf, {"pdf_text", "n_streams", "error"}),
    (parse_warc_record, _warc, {"warc_type", "url", "warc_date",
                                "content_type", "http_status", "html",
                                "error"}),
], ids=["pdf", "warc"])
def test_broken_records_return_a_marker_never_raise(parse, make, keys):
    rng = random.Random(0x5EED)
    for case in range(N_CASES):
        data = _mutate(rng, make(rng))
        try:
            got = parse(data)
        except Exception as exc:  # report the input, not just the type
            pytest.fail(f"case {case}: {type(exc).__name__}: {exc} "
                        f"on {data[:400]!r}")
        assert set(got) == keys, case


def test_chunk_size_past_the_body_end():
    """A chunk size too large for a C index (the fuzz's first raising
    input) used to raise OverflowError from the next chunk-header match;
    such a chunk is the body's last, cut short."""
    http = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"5\r\nHello\r\nffffffffffffffffffff\r\n World")
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: https://x.ex/p\r\n"
           b"Content-Type: application/http; msgtype=response\r\n"
           b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
           + http)
    r = parse_warc_record(rec)
    assert r["html"] == b"Hello World"
    assert r["error"] is None and r["url"] == "https://x.ex/p"


def _response(status: bytes) -> bytes:
    http = (b"HTTP/1.1 " + status
            + b" OK\r\nContent-Type: text/html\r\n\r\nhi")
    return (b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://x.ex/p\r\n"
            b"Content-Type: application/http; msgtype=response\r\n"
            b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
            + http)


# a 4,301-digit status raised ValueError in int() (Python's int digit
# limit); 2**31 parsed but overflows the stage's int column
_BAD_STATUSES = (b"1" * 4301, str(2 ** 31).encode(), b"20", b"0200")


def test_http_status_is_three_digits():
    assert parse_warc_record(_response(b"404"))["http_status"] == 404
    for status in _BAD_STATUSES:
        r = parse_warc_record(_response(status))
        assert r["http_status"] is None and r["html"] == b"hi", status[:12]
        assert r["error"] is None


def _flate_pdf(*sizes: int) -> bytes:
    """A PDF with one FlateDecode stream per size, each inflating to
    that many bytes of spaces (~1 KB of deflate per MiB)."""
    out = [b"%PDF-1.4\n"]
    for size in sizes:
        z = zlib.compressobj(9)
        body = bytearray()
        for off in range(0, size, 1 << 20):
            body += z.compress(b" " * min(1 << 20, size - off))
        body += z.flush()
        out.append(b"<</Filter/FlateDecode>>stream\n" + bytes(body)
                   + b"\nendstream\n")
    return b"".join(out)


def test_flate_bomb_gets_a_marker():
    """Inflation stops one byte past MAX_INFLATED_BYTES, summed over the
    document's streams, and the document is marked instead of parsed."""
    half = MAX_INFLATED_BYTES // 2
    ok = extract_pdf_text(_flate_pdf(half, half))
    assert ok == {"pdf_text": "", "n_streams": 2, "error": None}
    for sizes in ((MAX_INFLATED_BYTES + 1,), (half, half + 1)):
        data = _flate_pdf(*sizes)
        assert len(data) < 200_000
        assert extract_pdf_text(data) == {
            "pdf_text": "", "n_streams": 0, "error": "inflate-limit"}, sizes


def test_stages_keep_hostile_records_as_rows(spark):
    """The same inputs through warc_records_to_pages and
    pdf_extract_pages, which call the parsers without a guard: each
    record is one row with its marker, and the job does not fail."""
    from closure_html_spark.spark.pdfs import pdf_extract_pages
    from closure_html_spark.spark.warcs import warc_records_to_pages

    recs = spark.createDataFrame(
        [(i, bytearray(_response(s)))
         for i, s in enumerate((b"200",) + _BAD_STATUSES)],
        "k long, record binary")
    got = sorted((r["k"], r["http_status"], r["html"], r["warc_error"])
                 for r in warc_records_to_pages(recs, ("k",)).collect())
    assert got == [(0, 200, b"hi", None)] + [
        (i, None, b"hi", None) for i in range(1, 1 + len(_BAD_STATUSES))]

    pdfs = spark.createDataFrame(
        [(0, bytearray(_flate_pdf(1 << 20))),
         (1, bytearray(_flate_pdf(MAX_INFLATED_BYTES + 1)))],
        "k long, pdf binary")
    got = sorted((r["k"], r["n_streams"], r["pdf_error"])
                 for r in pdf_extract_pages(pdfs, ("k",)).collect())
    assert got == [(0, 1, None), (1, 0, "inflate-limit")]
