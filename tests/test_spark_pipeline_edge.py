"""Pipeline edge cases: oversized documents must flow through the Arrow
batch machinery without blowing a worker (SURVEY.md §4 physical risk;
batches are bounded by rows AND bytes in session.py).

Spark output is compared against an in-process reference built from the
library calls each stage runs (perfbench/htmlwork.references builds the
same one): decode_html -> parse_html -> extract_main_content(with
main_text) -> _doc_links, doc.walk() renumbering, and the raw
Tokenizer stream."""

import random

import pytest
from pyspark.sql import functions as F

from closure_html_spark.dtd import load_dtd
from closure_html_spark.extract import extract_main_content
from closure_html_spark.parser.charset import decode_html
from closure_html_spark.parser.pda import parse_html
from closure_html_spark.parser.tokenizer import Tokenizer
from closure_html_spark.spark import pdfs, pipeline, warcs
from closure_html_spark.spark.pipeline import (
    RESULT_COL_DDL,
    _doc_links,
    extract_pages,
    nodes_of,
)
from closure_html_spark.spark.session import ARROW_BATCH_CAPS

ALL_COLS = tuple(RESULT_COL_DDL)


def _reference_row(raw, content_type=None) -> dict:
    """One extract_pages row (every column plus main_text) computed in
    process with the library calls the kernel runs."""
    dtd = load_dtd()
    text, cs = decode_html(bytes(raw), "utf-8", content_type)
    doc = parse_html(dtd, text)
    res = extract_main_content(doc, dtd, with_main_text=True)
    links, anchors = _doc_links(doc, True)
    lv = [sum(1 for level, _ in doc.warnings if level == k)
          for k in range(1, 6)]
    return {"title": res["title"], "extracted_text": res["extracted_text"],
            "spans": [tuple(s) for s in res["spans"]], "links": links,
            "anchors": anchors, "n_nodes": len(doc.name),
            "n_warns": len(doc.warnings), "warn_levels": lv, "charset": cs,
            "main_text": res["main_text"]}


def _as_dict(row) -> dict:
    d = row.asDict()
    d["spans"] = [tuple(s) for s in d["spans"]]
    return d


def _reference_nodes(url, raw) -> list:
    """nodes_of's rows for one document: pre-order renumbering from the
    post-mortem root, attrs deduped last-wins."""
    doc = parse_html(load_dtd(), decode_html(bytes(raw), "utf-8")[0])
    remap = {n: i for i, (n, _) in enumerate(doc.walk())}
    return [(url, remap[n], remap.get(doc.parent[n], -1), d, doc.name[n],
             tuple(sorted(dict(doc.attrs[n] or ()).items())), doc.text[n])
            for n, d in doc.walk()]


def _reference_tokens(url, raw) -> list:
    """tokens_of's rows for one document: the raw lexer stream, attrs
    deduped last-wins, a bare attribute mapped to ''."""
    text = decode_html(bytes(raw), "utf-8")[0]
    out = []
    for pos, tok in enumerate(Tokenizer(text, load_dtd().entities).tokens()):
        kind, name, attrs, txt = tok[0], None, (), None
        if kind in ("start", "empty"):
            name = tok[1]
            attrs = tuple(sorted(
                {(a[0] if isinstance(a, tuple) else a):
                 (a[1] if isinstance(a, tuple) else "")
                 for a in tok[2]}.items()))
        elif kind == "end":
            name = tok[1]
        elif kind != "eof":
            txt = tok[1]
        out.append((url, pos, kind, name, attrs, txt))
    return out


def test_arrow_engine_identical_to_pandas(spark):
    """Every extract_pages column, main_text included, equals the
    in-process reference row, including content_type charset seeding
    (u1 is latin-1 bytes labelled only by its header)."""
    rows = [("u0", bytearray(b"<html><body><p>a &amp; b</p></body></html>"),
             "text/html; charset=utf-8"),
            ("u1", bytearray("<p>caf\xe9".encode("latin-1")),
             "text/html; charset=latin-1"),
            ("u2", bytearray(b""), None),
            ("u3", bytearray(b"<table><td>x<ul>soup"), None),
            ("u4", bytearray(
                ("<html><body><div id=nav><a href=/>home</a></div><p>"
                 + "Caf\xe9 article text, long enough to keep. " * 6
                 + "</p><p>Second &amp; final paragraph.</p>"
                 "<div class=footer>f</div></body></html>").encode()), None)]
    df = spark.createDataFrame(
        rows, "url string, html binary, content_type string")
    got = {r["url"]: _as_dict(r)
           for r in extract_pages(df, columns=ALL_COLS).collect()}
    assert set(got) == {url for url, _, _ in rows}
    for url, raw, ct in rows:
        assert got[url] == {"url": url, **_reference_row(raw, ct)}, url
    assert got["u1"]["extracted_text"] == "caf\xe9"
    # main_text is the kept spans only, non-ASCII included
    assert got["u4"]["main_text"].startswith("Caf\xe9 article text")
    assert got["u4"]["main_text"] != got["u4"]["extracted_text"]


def test_columns_projection_matches_full(spark):
    """columns= (metadata-now / text-lazily) must return exactly the full
    run's values for the requested columns, with ONLY those columns in
    the schema (the point: the text payload never enters the batch)."""
    rows = [(f"u{i}", bytearray(
        f"<html><body><p>doc {i} &amp; more</p><unknowntag></body></html>"
        .encode())) for i in range(50)]
    df = spark.createDataFrame(rows, "url string, html binary")
    full = extract_pages(df).orderBy("url") \
        .select("url", "n_nodes", "n_warns", "warn_levels").collect()
    proj = extract_pages(
        df, columns=("n_nodes", "n_warns", "warn_levels")).orderBy("url")
    assert set(proj.columns) == {"url", "n_nodes", "n_warns", "warn_levels"}
    assert [tuple(r) for r in proj.collect()] == [tuple(r) for r in full]
    t = extract_pages(df, columns=("title", "charset"))
    assert set(t.columns) == {"url", "title", "charset"}
    # main_text is built only when asked for by name
    ts = extract_pages(df, columns=("extracted_text", "spans"))
    assert ts.columns == ["url", "extracted_text", "spans"]
    full_ts = extract_pages(df).orderBy("url") \
        .select("url", "extracted_text", "spans").collect()
    assert ts.orderBy("url").collect() == full_ts


def test_links_column(spark):
    """The `links` result column: HREFs of <A> nodes in document order --
    A without HREF contributes nothing, duplicates and orderings are
    preserved, error rows yield [], and the values equal the in-process
    reference's."""
    rows = [
        ("u0", bytearray(b'<html><body>'
                         b'<a href="/z">z</a><a name="anchor">no href</a>'
                         b'<p><a href="/a">a</a></p><a href="/z">z again</a>'
                         b'</body></html>'), None),
        ("u1", bytearray(b"<p>no links here"), None),
        ("u2", bytearray(b""), None),
    ]
    df = spark.createDataFrame(
        rows, "url string, html binary, content_type string")
    a = {r["url"]: r["links"]
         for r in extract_pages(df, columns=ALL_COLS).collect()}
    assert a["u0"] == ["/z", "/a", "/z"]   # document order, dups kept
    assert a["u1"] == []
    assert a["u2"] == []                   # empty/error doc -> []
    assert a == {url: _reference_row(raw)["links"] for url, raw, _ in rows}
    # links-only projection skips the text build but returns the same value
    proj = extract_pages(df, columns=("links",))
    assert set(proj.columns) == {"url", "links"}
    assert {r["url"]: r["links"] for r in proj.collect()} == a
    # the default column set excludes links/anchors (second-walk payloads)
    assert "links" not in extract_pages(df).columns
    assert "anchors" not in extract_pages(df).columns


def test_error_row_mid_batch_alignment(spark):
    """A document whose processing raises mid-batch (null html -> bytes()
    TypeError) must yield exactly one error row and leave every later row
    aligned -- the staged-locals/single-append structure makes interleaved
    appends impossible (round-4 verdict #3)."""
    rows = [("u0", bytearray(b"<html><body><p>first ok</p></body></html>")),
            ("u1", None),
            ("u2", bytearray(b"<html><body><p>third ok</p></body></html>"))]
    df = spark.createDataFrame(rows, "url string, html binary").coalesce(1)
    got = {r["url"]: r for r in
           extract_pages(df, columns=ALL_COLS).collect()}
    assert got["u1"]["charset"].startswith("error:")
    assert got["u1"]["title"] == "" and got["u1"]["spans"] == []
    assert got["u1"]["links"] == [] and got["u1"]["anchors"] == []
    assert got["u1"]["n_warns"] == -1
    # neighbors unshifted
    assert got["u0"]["extracted_text"] == "first ok"
    assert got["u2"]["extracted_text"] == "third ok"
    assert not got["u0"]["charset"].startswith("error:")
    assert not got["u2"]["charset"].startswith("error:")
    assert got["u1"]["charset"] == "error:TypeError"
    # every column of the neighbours equals the in-process reference
    for url, raw in (rows[0], rows[2]):
        assert _as_dict(got[url]) == {"url": url, **_reference_row(raw)}


_HTML_DOCS = [
    ("u0", bytearray(
        b'<html><head><title>First</title><meta name=description content=d0>'
        b'<script type="application/ld+json">{"n": 0}</script></head><body>'
        b'<h1>One</h1><table><tr><td>a<td>b</table>'
        b'<dl><dt><h3>F</h3><dl><dt><a href="/a">A</a></dl></dl>'
        b'<p>first ok</p></body></html>')),
    ("u1", None),
    ("u2", bytearray(
        b'<html><head><title>Third</title>'
        b'<script type="application/ld+json">{"n": 2}</script></head><body>'
        b'<h1>Three</h1><table><tr><th>h<tr><td>c</table>'
        b'<dl><dt><a href="/c">C</a></dl><p>third ok</p></body></html>')),
]


def _pdf(text: bytes) -> bytearray:
    body = b"BT (" + text + b") Tj ET"
    return bytearray(
        b"%PDF-1.4\n1 0 obj<</Type/Catalog/Pages 2 0 R>>endobj\n"
        b"4 0 obj<</Length " + str(len(body)).encode() + b">>stream\n"
        + body + b"\nendstream\nendobj\ntrailer<</Root 1 0 R>>\n%%EOF\n")


def _warc(url: bytes, html: bytes) -> bytearray:
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
    return bytearray(
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " + url
        + b"\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
        + http + b"\r\n\r\n")


# each module's three input rows, keyed by `key` (warc_records_to_pages
# outputs a `url`), a null payload in the middle
_STAGE_DOCS = {
    pipeline: (_HTML_DOCS, "key string, html binary"),
    pdfs: ([("u0", _pdf(b"first ok")), ("u1", None),
            ("u2", _pdf(b"third ok"))], "key string, pdf binary"),
    warcs: ([("u0", _warc(b"https://a.ex/0", b"<p>first ok")),
             ("u1", None),
             ("u2", _warc(b"https://a.ex/2", b"<p>third ok"))],
            "key string, record binary"),
}


def _only_error_row(rows, **want):
    return len(rows) == 1 and all(rows[0][k] == v for k, v in want.items())


# each stage's module and failure convention for a document whose
# processing raised, or whose payload is null
_FAILED_DOC = {
    "extract_pages": (pipeline, lambda rows: _only_error_row(
        rows, charset="error:TypeError", n_warns=-1, title="",
        extracted_text="", spans=[], main_text="")),
    "serialize_pages": (pipeline,
                        lambda rows: _only_error_row(rows, html_out="")),
    "metadata_of": (pipeline, lambda rows: _only_error_row(
        rows, **{f: "" for f in pipeline._META_FIELDS})),
    "nodes_of": (pipeline, lambda rows: rows == []),
    "tokens_of": (pipeline, lambda rows: rows == []),
    "bookmarks_of": (pipeline, lambda rows: rows == []),
    "tables_of": (pipeline, lambda rows: rows == []),
    "jsonld_of": (pipeline, lambda rows: rows == []),
    "pdf_extract_pages": (pdfs, lambda rows: _only_error_row(
        rows, pdf_text="", n_streams=0, pdf_error="not-pdf")),
    "warc_records_to_pages": (warcs, lambda rows: _only_error_row(
        rows, url=None, warc_ts=None, html=None, content_type=None,
        http_status=None, warc_error="not-warc")),
}


@pytest.mark.parametrize("stage", sorted(_FAILED_DOC))
def test_failed_doc_mid_batch_every_stage(spark, stage):
    """A null payload between two good documents in one batch: the stage
    applies its failure convention to that document only, and the good
    documents' rows equal the stage's output on them alone."""
    module, failed = _FAILED_DOC[stage]
    fn = getattr(module, stage)
    df = spark.createDataFrame(*_STAGE_DOCS[module])
    got = fn(df.coalesce(1), ("key",)).collect()
    assert failed([r for r in got if r["key"] == "u1"])
    alone = fn(df.filter(F.col("key") != "u1").coalesce(1), ("key",)).collect()
    assert {r["key"] for r in alone} == {"u0", "u2"}
    assert sorted(repr(r) for r in got if r["key"] != "u1") == \
        sorted(repr(r) for r in alone)


def test_stage_rejects_id_cols_missing_from_input(spark):
    """An id column the input lacks is an error naming it, not a stage
    whose output has no key to join back on."""
    df = spark.createDataFrame([("u0", bytearray(b"<p>x"))],
                               "url string, html binary")
    with pytest.raises(ValueError, match=r"\['doc_id', 'lang'\]"):
        nodes_of(df, ("doc_id", "url", "lang"))
    # nor one that a result column shares a name with
    with pytest.raises(ValueError, match=r"\['text'\]"):
        nodes_of(df.withColumnRenamed("url", "text"), ("text",))


def test_nodes_of_engines_identical(spark):
    """nodes_of (flat-array MapArray assembly) must be row-for-row
    identical to the in-process reference, including attrs maps and the
    pre-order renumbering."""
    rows = [("u0", bytearray(b'<html><head><title>T</title></head><body>'
                             b'<div id="nav" class="menu"><a href="/x">x</a>'
                             b'</div><p>text &amp; entity</p></body></html>')),
            ("u1", bytearray(b"<table><td>soup<ul><li>deep")),
            ("u2", bytearray(b""))]
    df = spark.createDataFrame(rows, "url string, html binary")

    a = sorted((r["url"], r["node_id"], r["parent_id"], r["depth"],
                r["name"], tuple(sorted((r["attrs"] or {}).items())),
                r["text"]) for r in nodes_of(df).collect())
    assert a == sorted(x for url, raw in rows
                       for x in _reference_nodes(url, raw))
    assert len(a) > 10
    # the attrs map survives the MapArray build
    nav = [r for r in a if r[5] and dict(r[5]).get("ID") == "nav"]
    assert nav and dict(nav[0][5])["CLASS"] == "menu"


def test_tokens_of_engines_identical(spark):
    """tokens_of must match the in-process Tokenizer stream row-for-row,
    including repeated-attribute dedup (last wins) and bare attributes."""
    from closure_html_spark.spark.pipeline import tokens_of

    rows = [("u0", bytearray(b'<html><body>'
                             b'<a href="/1" href="/2" selected>x</a>'
                             b'<p>t &amp; u</p></body></html>')),
            ("u1", bytearray(b"<td>bare soup <!-- c -->"))]
    df = spark.createDataFrame(rows, "url string, html binary")

    a = sorted((r["url"], r["pos"], r["kind"], r["name"],
                tuple(sorted((r["attrs"] or {}).items())), r["text"])
               for r in tokens_of(df, ("url",)).collect())
    assert a == sorted(x for url, raw in rows
                       for x in _reference_tokens(url, raw))
    # raw-lexer attrs are pre-normalization: lowercase names as written
    dup = [r for r in a if r[4] and dict(r[4]).get("href")]
    assert dup and dict(dup[0][4])["href"] == "/2"  # last wins
    assert dict(dup[0][4]).get("selected") == ""    # bare attr -> ""


def test_20mb_document_mixed_with_small(spark):
    big_body = ("<p>" + "big document content word soup " * 200 + "</p>") * 3200
    big = ("<html><head><title>Big</title></head><body>" + big_body
           + "</body></html>").encode()
    assert len(big) > 15_000_000
    rows = [("https://big.example/1", bytearray(big))]
    rows += [(f"https://small.example/{i}",
              bytearray(b"<html><body><p>small</p></body></html>"))
             for i in range(500)]
    df = spark.createDataFrame(rows, "url string, html binary").repartition(8)
    out = extract_pages(df)
    assert out.filter(F.col("charset").startswith("error:")).count() == 0
    bigrow = out.filter(F.col("url") == "https://big.example/1").collect()[0]
    assert bigrow["extracted_text"].startswith("big document content")
    assert bigrow["n_nodes"] > 6000
    assert out.count() == 501
    assert bigrow["main_text"] == _reference_row(big)["main_text"]


def _cap_test_pages() -> list:
    """300 pages of 0.2-14 KB (tag soup, latin-1 labelled only by its
    header, entities) with two 1.5 MiB pages, u_big1 and u_big2, in
    the middle."""
    rng = random.Random(1901)
    rows = []
    for i in range(300):
        paras = "".join(
            f"<p>page {i} para {j} caf\xe9 &amp; "
            + "word " * rng.randrange(20, 400)
            + ("</p>" if rng.random() < 0.7 else "")
            for j in range(rng.randrange(1, 10)))
        html = (f"<html><head><title>T{i}</title></head><body>"
                f"<div id=nav><a href=/p{i}>home</a></div>{paras}"
                "<table><td>x<ul>soup")
        if i % 5 == 0:
            rows.append((f"u{i:03d}", bytearray(html.encode("latin-1")),
                         "text/html; charset=latin-1"))
        else:
            rows.append((f"u{i:03d}", bytearray(html.encode()), None))
    rows[150:150] = [
        (f"u_big{k}", bytearray(
            (f"<html><body>{k}" + "<p>big page text. " * 90_000
             + "</body></html>").encode()), None) for k in (1, 2)]
    return rows


def test_partition_reaches_python_in_byte_capped_batches(spark):
    """One partition of ~300 pages (~1.7 MB) and two pages larger than
    the session's Arrow byte cap reaches a Python stage as several
    batches, not one.  Spark closes a batch at the first row that brings
    it to the cap, so a batch of two or more rows is under the cap
    without its last row: a worker holds under the cap plus one page,
    which SCALE.md's worker-memory rule sizes.  extract_pages over the
    same multi-batch partition equals the in-process reference row for
    row."""
    cap = int(ARROW_BATCH_CAPS["spark.sql.execution.arrow.maxBytesPerBatch"])
    rows = _cap_test_pages()
    df = spark.createDataFrame(
        rows, "url string, html binary, content_type string").coalesce(1)

    def probe(batches):
        import pyarrow as pa
        for b in batches:
            yield pa.RecordBatch.from_pydict({
                "urls": [b.column("url").to_pylist()],
                "head_nbytes": [b.slice(0, b.num_rows - 1).nbytes]})

    got = df.mapInArrow(probe, "urls array<string>, head_nbytes long") \
        .collect()
    assert [u for b in got for u in b.urls] == [r[0] for r in rows]
    multi = [b for b in got if len(b.urls) >= 2]
    assert len(multi) >= 2, [(len(b.urls), b.head_nbytes) for b in got]
    for b in multi:
        assert b.head_nbytes < cap, (len(b.urls), b.head_nbytes)
    assert min(len(r[1]) for r in rows if r[0].startswith("u_big")) > cap

    out = {r["url"]: _as_dict(r)
           for r in extract_pages(df, columns=ALL_COLS).collect()}
    assert set(out) == {r[0] for r in rows}
    for url, raw, ct in rows:
        assert out[url] == {"url": url, **_reference_row(raw, ct)}, url


def test_spans_slice_extracted_text_jvm_side(spark):
    """SQL consumers slice extracted_text by spans with Spark's substr
    (1-based, in characters).  Python's offsets count code points, and so
    does substr, so every span's JVM slice equals the Python slice even
    past astral characters (one code point, two UTF-16 units, four UTF-8
    bytes), combining marks and latin-1 text.  main_text equals the
    in-process reference and the kept JVM slices joined in order."""
    kept = ("Emoji \U0001F600\U0001F680 and cafe\u0301 with na\u00efve "
            "\u00fcber text, long enough to keep as content. ")
    page = ("<html><body><div class=nav><a href=/a>\U0001F3E0 home</a> "
            "<a href=/b>m\u0301enu</a></div>"
            + "".join(f"<p>{i} {kept * 3}</p><div><a href=/x{i}>\u00e9 "
                      f"link {i}</a></div>" for i in range(3))
            + "<p>short \U0001F44D</p><td>Stra\u00dfe \u00e0 la carte "
            + kept * 2 + "</td></body></html>")
    para = "<p>" + "Caf\xe9 cr\xe8me br\xfbl\xe9e, d\xe9j\xe0 vu. " * 8
    latin = ("<html><body>" + para + "<div><a href=/>\xbb plus</a></div>"
             + para + "<p>\xa9 \xc6</p></body></html>")
    rows = [("u0", bytearray(page.encode()), None),
            ("u1", bytearray(latin.encode("latin-1")),
             "text/html; charset=latin-1")]
    df = spark.createDataFrame(
        rows, "url string, html binary, content_type string")
    got = {r["url"]: r for r in extract_pages(df).select(
        "url", "extracted_text", "spans", "main_text",
        F.expr("transform(spans, s -> substr(extracted_text, s.start + 1, "
               "s.end - s.start))").alias("slices")).collect()}
    for url, raw, ct in rows:
        r, want = got[url], _reference_row(raw, ct)
        text = r["extracted_text"]
        assert text == want["extracted_text"]
        keeps = [s["keep"] for s in r["spans"]]
        assert keeps.count(True) >= 2 and keeps.count(False) >= 2, url
        assert r["slices"] == [text[s["start"]:s["end"]] for s in r["spans"]]
        assert r["main_text"] == want["main_text"]
        assert r["main_text"] == "".join(
            sl for sl, k in zip(r["slices"], keeps) if k)
    assert "\U0001F600" in got["u0"]["main_text"]
    assert "cafe\u0301" in got["u0"]["main_text"]
    assert "Caf\xe9 cr\xe8me" in got["u1"]["main_text"]


def test_oversize_doc_cap_truncates_and_marks(spark, monkeypatch):
    """MAX_DOC_BYTES: a page past the cap is truncated (the prefix still
    parses and extracts), marked charset='error:oversize', and counted as
    ONE level-5 warning; rows in the same batch are untouched.  The
    capped row equals the in-process reference of the prefix plus that
    warning.  The default 64 MiB cap leaves ordinary corpora unaffected
    (the 20 MB test above runs under it with zero error rows)."""
    big = ("<html><body><p>" + "word " * 100_000
           + "</p></body></html>").encode()
    rows = [("u_big", bytearray(big)),
            ("u_ok", bytearray(b"<html><body><p>fine</p></body></html>"))]
    df = spark.createDataFrame(rows, "url string, html binary")
    monkeypatch.setattr(pipeline, "MAX_DOC_BYTES", 4096)
    out = {r["url"]: r for r in extract_pages(
        df, columns=ALL_COLS).collect()}
    bigr = out["u_big"]
    assert bigr["charset"] == "error:oversize"
    assert bigr["warn_levels"][4] == 1
    assert bigr["extracted_text"].startswith("word word")
    assert len(bigr["extracted_text"]) < 5000  # truncated, not full 500 KB
    assert out["u_ok"]["charset"] == "utf-8"
    assert out["u_ok"]["extracted_text"] == "fine"
    want = _reference_row(big[:4096])
    want["charset"] = "error:oversize"
    want["n_warns"] += 1
    want["warn_levels"][4] += 1
    assert _as_dict(bigr) == {"url": "u_big", **want}
    assert _as_dict(out["u_ok"]) == {
        "url": "u_ok", **_reference_row(rows[1][1])}


def test_worker_keeps_stat_checked_invalidate_caches(spark):
    """A worker that has run an extract_pages task carries the package's
    stat-checked zipimporter.invalidate_caches into its later tasks, so
    PySpark's per-task importlib.invalidate_caches() no longer re-parses
    pyspark.zip's directory.  The probe itself never imports the package:
    it only reports what the worker already holds (under get_spark's
    daemon, every worker holds the package from the fork)."""
    rows = [(f"u{i}", bytearray(f"<p>doc {i}</p>".encode()))
            for i in range(8)]
    df = spark.createDataFrame(rows, "url string, html binary") \
        .repartition(4)
    assert extract_pages(df).count() == 8

    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa
        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict({
            "reused": ["closure_html_spark" in sys.modules],
            "impl": [f"{fn.__module__}.{fn.__qualname__}"]})

    got = (spark.range(4).repartition(4)
           .mapInArrow(probe, "reused boolean, impl string")
           .collect())
    reused = [r for r in got if r["reused"]]
    assert reused, f"no probe task ran on a reused worker: {got}"
    assert {r["impl"] for r in reused} == \
        {"closure_html_spark.zipcache.invalidate_caches"}


def test_worker_heap_frozen_before_daemon_gc(spark):
    """Every Python worker forks from get_spark's daemon
    (closure_html_spark.spark.daemon), which imports the parse stage,
    loads the DTD and calls gc.freeze() before its first fork.  So the
    full gc.collect() PySpark's daemon runs after each task of a reused
    worker (pyspark/daemon.py) never walks the objects left by imports:
    a worker's frozen generation holds most of its tracked objects before
    its first task, after extract_pages passes it stays that way, and its
    size is the same after each later pass: the gc.freeze() every parse
    stage calls per batch leaks nothing.  The probe never imports the
    package; it reports what the fork and earlier tasks left.

    The documents are tag-free text past the parser's 256-character
    pcdata cache limit, so parsing them adds no entries to the DTD's
    bounded tag/pcdata caches, which would otherwise warm (and be frozen)
    as each worker meets new tags.

    A worker that has run no parse task comes from a second daemon: a
    job whose environment differs from every earlier job's gets its own
    worker factory, hence a new daemon and a freshly forked worker."""
    rows = [(f"u{i}", bytearray(("word " * 60 + str(i)).encode()))
            for i in range(8)]
    df = spark.createDataFrame(rows, "url string, html binary") \
        .repartition(4)

    def probe(batches):
        import gc
        import os

        import pyarrow as pa
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "ppid": [os.getppid()],
            "frozen": [gc.get_freeze_count()],
            "tracked": [len(gc.get_objects())]})

    schema = "pid long, ppid long, frozen long, tracked long"
    passes = []
    for _ in range(4):
        assert extract_pages(df).count() == 8
        got = (spark.range(4).repartition(4).mapInArrow(probe, schema)
               .collect())
        passes.append({r["pid"]: r for r in got})
    probed = [r for p in passes for r in p.values()]
    for r in probed:
        assert r["tracked"] * 10 < r["frozen"], r
    # the first pass may still warm caches; compare the later ones
    later = passes[1:]
    same = [(a[pid]["frozen"], b[pid]["frozen"])
            for a, b in zip(later, later[1:]) for pid in set(a) & set(b)]
    assert same, f"no worker probed after two later passes: {passes}"
    assert all(x == y for x, y in same), same

    env = spark.sparkContext.environment
    env["CHS_TEST_FRESH_DAEMON"] = "1"
    try:
        fresh = spark.range(1, numPartitions=1).mapInArrow(probe, schema) \
            .collect()
    finally:
        del env["CHS_TEST_FRESH_DAEMON"]
    assert len(fresh) == 1
    r = fresh[0]
    assert r["ppid"] not in {p["ppid"] for p in probed}, (r, probed)
    assert r["frozen"] > 0 and r["tracked"] * 10 < r["frozen"], r
