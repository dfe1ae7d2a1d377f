"""PDF text/layout extraction: the simple-PDF parser subset
(closure_html_spark/pdf.py) and its Spark stage."""

import zlib

from closure_html_spark.pdf import extract_pdf_text


def _mk(content: bytes, flate: bool = False) -> bytes:
    body = zlib.compress(content) if flate else content
    filt = b"/Filter/FlateDecode" if flate else b""
    return (b"%PDF-1.4\n1 0 obj<</Type/Catalog/Pages 2 0 R>>endobj\n"
            b"4 0 obj<</Length " + str(len(body)).encode() + filt +
            b">>stream\n" + body +
            b"\nendstream\nendobj\ntrailer<</Root 1 0 R>>\n%%EOF\n")


def test_tj_basic():
    assert extract_pdf_text(_mk(b"BT (Hello World) Tj ET")) == {
        "pdf_text": "Hello World", "n_streams": 1, "error": None}


def test_flate_stream():
    r = extract_pdf_text(_mk(b"BT (Compressed!) Tj ET", flate=True))
    assert r["pdf_text"] == "Compressed!" and r["error"] is None


def test_tj_array_kerning_space():
    """TJ adjustments: small kerns join glyph runs, a gap below the
    threshold (-250) reads as an inter-word space."""
    r = extract_pdf_text(_mk(b"BT [(Hel) 10 (lo) -250 (World)] TJ ET"))
    assert r["pdf_text"] == "Hello World"


def test_string_escapes_nested_parens_octal():
    r = extract_pdf_text(
        _mk(rb"BT (par\(en\) nest (ok) \134 \n oct\101) Tj ET"))
    assert r["pdf_text"] == "par(en) nest (ok) \\ \n octA"


def test_hex_string():
    assert extract_pdf_text(
        _mk(b"BT <48656C6C6F> Tj ET"))["pdf_text"] == "Hello"


def test_layout_newlines():
    """Vertical Td / T* / ' start new lines; horizontal-only Td does not."""
    r = extract_pdf_text(
        _mk(b"BT (l1) Tj 0 -14 Td (l2) Tj T* (l3) Tj (l4) ' ET"))
    assert r["pdf_text"] == "l1\nl2\nl3\nl4"
    r2 = extract_pdf_text(_mk(b"BT (a) Tj 50 0 Td (b) Tj ET"))
    assert r2["pdf_text"] == "ab"


def test_multiple_streams_and_blocks():
    two = (b"BT (s1b1) Tj ET garbage BT (s1b2) Tj ET")
    pdf = _mk(two)
    # append a second stream object
    pdf = pdf.replace(b"trailer",
                      b"6 0 obj<</Length 18>>stream\nBT (s2) Tj ET\n"
                      b"endstream\nendobj\ntrailer")
    r = extract_pdf_text(pdf)
    assert r["pdf_text"] == "s1b1\ns1b2\ns2"
    assert r["n_streams"] == 2


def test_markers_never_raise():
    assert extract_pdf_text(b"GIF89a")["error"] == "not-pdf"
    assert extract_pdf_text(b"")["error"] == "not-pdf"
    enc = _mk(b"BT (x) Tj ET") + b"<</Encrypt 9 0 R>>"
    assert extract_pdf_text(enc)["error"] == "encrypted"
    # corrupt flate body is skipped, not fatal
    bad = _mk(b"BT (x) Tj ET").replace(b">>stream", b"/Filter/FlateDecode>>stream")
    assert extract_pdf_text(bad)["error"] is None
    assert extract_pdf_text(bad)["pdf_text"] == ""


def test_spark_pdf_gate_roundtrip(spark):
    """The synthesized pdf corpus extracts to the closed form (title \\n
    body), including escape round-trips for text containing ()\\ chars."""
    from pyspark.sql import functions as F

    from closure_html_spark.spark.pdfs import (
        pdf_extract_pages,
        pdfs_from_documents,
    )
    pdfs = pdfs_from_documents(spark, "/root/testdata/sf0.001")
    got = pdf_extract_pages(pdfs, ("doc_id",)) \
        .select("doc_id", "pdf_text", "pdf_error") \
        .orderBy("doc_id").limit(20).collect()
    want = pdfs.select("doc_id", "text").orderBy("doc_id").limit(20).collect()
    for g, w in zip(got, want):
        assert g["pdf_error"] is None
        exp = f"Doc {w['doc_id']}" + (f"\n{w['text']}" if w["text"] else "")
        assert g["pdf_text"] == exp, g["doc_id"]
    # escape round-trip on adversarial text
    rows = [(1, "weird (paren) and \\backslash\\ text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from closure_html_spark.spark.pdfs import _esc_pdf
    content = F.concat(F.lit("BT (" ), _esc_pdf(F.col("text")),
                       F.lit(") Tj ET"))
    pdf = F.concat(F.lit("%PDF-1.4\n4 0 obj<</Length "),
                   F.length(content).cast("string"),
                   F.lit(">>stream\n"), content,
                   F.lit("\nendstream\nendobj\n%%EOF\n"))
    adv = df.select("doc_id", F.encode(pdf, "utf-8").alias("pdf"))
    out = pdf_extract_pages(adv, ("doc_id",)).collect()[0]
    assert out["pdf_text"] == "weird (paren) and \\backslash\\ text"
