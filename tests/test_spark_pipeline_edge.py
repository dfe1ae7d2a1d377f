"""Pipeline edge cases: oversized documents must flow through the Arrow
batch machinery without blowing a worker (SURVEY.md §4 physical risk;
batches are bounded by rows AND bytes in session.py)."""

from pyspark.sql import functions as F

from closure_html_spark.spark.pipeline import (
    RESULT_COL_DDL,
    extract_pages,
    nodes_of,
)

ALL_COLS = tuple(RESULT_COL_DDL)


def test_arrow_engine_identical_to_pandas(spark):
    """engine='arrow' (mapInArrow, direct pyarrow column assembly -- the
    default) must be value-identical to the round-2 mapInPandas baseline,
    including the error row path and content_type handling.  The arrow
    side requests every column explicitly (links/base left the default
    set); the pandas baseline always emits all of them."""
    rows = [("u0", bytearray(b"<html><body><p>a &amp; b</p></body></html>"),
             "text/html; charset=utf-8"),
            ("u1", bytearray("<p>caf\xe9".encode("latin-1")),
             "text/html; charset=latin-1"),
            ("u2", bytearray(b""), None),
            ("u3", bytearray(b"<table><td>x<ul>soup"), None)]
    df = spark.createDataFrame(
        rows, "url string, html binary, content_type string")
    a = extract_pages(df, engine="arrow", columns=ALL_COLS) \
        .orderBy("url").collect()
    p = extract_pages(df, engine="pandas").orderBy("url").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in p]
    assert a[1]["extracted_text"] == "caf\xe9"


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
    # title-only still attaches no main_text (needs text+spans)
    t = extract_pages(df, columns=("title", "charset"))
    assert set(t.columns) == {"url", "title", "charset"}


def test_links_column(spark):
    """The `links` result column: HREFs of <A> nodes in document order --
    A without HREF contributes nothing, duplicates and orderings are
    preserved, error rows yield [], and both engines agree."""
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
    p = {r["url"]: r["links"]
         for r in extract_pages(df, engine="pandas").collect()}
    assert p == a
    # links-only projection skips the text build but returns the same value
    proj = extract_pages(df, columns=("links",))
    assert set(proj.columns) == {"url", "links"}
    assert {r["url"]: r["links"] for r in proj.collect()} == a
    # the default column set excludes links/base (second-walk payloads)
    assert "links" not in extract_pages(df).columns
    assert "base" not in extract_pages(df).columns


def test_base_column(spark):
    """The `base` result column: href of the first BASE node (the
    reference's own fixture pins BASE in HEAD, test.lisp:5-18); absent
    base -> null; first BASE wins; both engines agree."""
    rows = [
        ("u0", bytearray(b'<html><head><base href="https://cdn.example/a/">'
                         b'</head><body><a href=x.html>x</a></body></html>')),
        ("u1", bytearray(b'<html><head><base href="/one"><base href="/two">'
                         b'</head><body>t</body></html>')),
        ("u2", bytearray(b"<p>no base")),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    a = {r["url"]: r["base"]
         for r in extract_pages(df, columns=("links", "base")).collect()}
    assert a["u0"] == "https://cdn.example/a/"
    assert a["u1"] == "/one"
    assert a["u2"] is None
    p = {r["url"]: r["base"]
         for r in extract_pages(df, engine="pandas").collect()}
    assert p == a


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
    assert got["u1"]["links"] == [] and got["u1"]["base"] is None
    assert got["u1"]["n_warns"] == -1
    # neighbors unshifted
    assert got["u0"]["extracted_text"] == "first ok"
    assert got["u2"]["extracted_text"] == "third ok"
    assert not got["u0"]["charset"].startswith("error:")
    assert not got["u2"]["charset"].startswith("error:")
    # pandas baseline path behaves identically
    gp = {r["url"]: r for r in extract_pages(df, engine="pandas").collect()}
    assert gp["u1"]["charset"].startswith("error:")
    assert gp["u2"]["extracted_text"] == "third ok"


def test_nodes_of_engines_identical(spark):
    """nodes_of engine='arrow' (flat-array MapArray assembly) must be
    row-for-row identical to the pandas baseline, including attrs maps,
    unparseable-doc skips, and the pre-order renumbering."""
    rows = [("u0", bytearray(b'<html><head><title>T</title></head><body>'
                             b'<div id="nav" class="menu"><a href="/x">x</a>'
                             b'</div><p>text &amp; entity</p></body></html>')),
            ("u1", bytearray(b"<table><td>soup<ul><li>deep")),
            ("u2", bytearray(b""))]
    df = spark.createDataFrame(rows, "url string, html binary")

    def rowset(d):
        return sorted((r["url"], r["node_id"], r["parent_id"], r["depth"],
                       r["name"], tuple(sorted((r["attrs"] or {}).items())),
                       r["text"]) for r in d.collect())

    a = rowset(nodes_of(df, engine="arrow"))
    p = rowset(nodes_of(df, engine="pandas"))
    assert a == p
    assert len(a) > 10
    # the attrs map survives the MapArray build
    nav = [r for r in a if r[5] and dict(r[5]).get("ID") == "nav"]
    assert nav and dict(nav[0][5])["CLASS"] == "menu"


def test_tokens_of_engines_identical(spark):
    """tokens_of engine='arrow' must match the pandas baseline row-for-row,
    including repeated-attribute dedup (last wins) and bare attributes."""
    from closure_html_spark.spark.pipeline import tokens_of

    rows = [("u0", bytearray(b'<html><body>'
                             b'<a href="/1" href="/2" selected>x</a>'
                             b'<p>t &amp; u</p></body></html>')),
            ("u1", bytearray(b"<td>bare soup <!-- c -->"))]
    df = spark.createDataFrame(rows, "url string, html binary")

    def rowset(d):
        return sorted((r["url"], r["pos"], r["kind"], r["name"],
                       tuple(sorted((r["attrs"] or {}).items())), r["text"])
                      for r in d.collect())

    a = rowset(tokens_of(df, engine="arrow"))
    p = rowset(tokens_of(df, engine="pandas"))
    assert a == p
    # raw-lexer attrs are pre-normalization: lowercase names as written
    dup = [r for r in a if r[4] and dict(r[4]).get("href")]
    assert dup and dict(dup[0][4])["href"] == "/2"  # last wins
    assert dict(dup[0][4]).get("selected") == ""    # bare attr -> ""


def test_packed_spans_roundtrip(spark):
    """packed_spans=True: the 20 B/span binary packing must decode to
    exactly the struct-form spans, span count must be computable JVM-side
    as length/20, and error rows pack to empty bytes."""
    from closure_html_spark.spark.pipeline import unpack_spans

    rows = [(f"u{i}", bytearray(
        f"<html><head><title>D{i}</title></head><body><div id=nav>"
        f"<a href=/>h</a></div><p>content {i} here</p>"
        f"<div class=footer>f</div></body></html>".encode()))
        for i in range(20)] + [("uerr", bytearray(b""))]
    df = spark.createDataFrame(rows, "url string, html binary")
    full = {r["url"]: [tuple(s) for s in r["spans"]]
            for r in extract_pages(df).collect()}
    packed = extract_pages(df, packed_spans=True)
    assert "spans_packed" in packed.columns and "main_text" not in packed.columns
    got = {r["url"]: r["spans_packed"] for r in packed.collect()}
    for url, buf in got.items():
        dec = [(s, e, sc, k) for s, e, sc, k in unpack_spans(bytes(buf))]
        want = [(s, e, sc, bool(k)) for s, e, sc, k in full[url]]
        assert dec == want, url
        assert len(buf) % 20 == 0
    # JVM-side span count
    cnt = {r["url"]: r["n"] for r in packed.select(
        "url", (F.length("spans_packed") / 20).cast("int").alias("n"))
        .collect()}
    assert all(cnt[u] == len(full[u]) for u in full)


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


def test_oversize_doc_cap_truncates_and_marks(spark):
    """max_doc_bytes: a page past the cap is truncated (the prefix still
    parses and extracts), marked charset='error:oversize', and counted as
    ONE level-5 warning; rows in the same batch are untouched.  Both
    engines agree.  The default 64 MiB cap leaves ordinary corpora
    unaffected (the 20 MB test above runs under it with zero error
    rows)."""
    big = ("<html><body><p>" + "word " * 100_000
           + "</p></body></html>").encode()
    rows = [("u_big", bytearray(big)),
            ("u_ok", bytearray(b"<html><body><p>fine</p></body></html>"))]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = {r["url"]: r for r in extract_pages(
        df, columns=ALL_COLS, max_doc_bytes=4096).collect()}
    bigr = out["u_big"]
    assert bigr["charset"] == "error:oversize"
    assert bigr["warn_levels"][4] == 1
    assert bigr["extracted_text"].startswith("word word")
    assert len(bigr["extracted_text"]) < 5000  # truncated, not full 500 KB
    assert out["u_ok"]["charset"] == "utf-8"
    assert out["u_ok"]["extracted_text"] == "fine"
    p = {r["url"]: r for r in extract_pages(
        df, engine="pandas", max_doc_bytes=4096).collect()}
    assert p["u_big"]["charset"] == "error:oversize"
    assert p["u_big"]["warn_levels"][4] == 1
    assert p["u_big"]["extracted_text"] == bigr["extracted_text"]
    assert p["u_big"]["n_warns"] == bigr["n_warns"]


def test_out_batch_rows_coalescing_identical(spark):
    """out_batch_rows: coalesced output batches must be value-identical to
    the per-input-batch default (forced multi-batch input via a tiny
    arrow batch cap)."""
    rows = [(f"u{i:03d}", bytearray(
        f"<html><head><title>D{i}</title></head><body><div id=n>"
        f"<a href=/{i}>l</a></div><p>content {i} text</p></body></html>"
        .encode())) for i in range(64)]
    df = spark.createDataFrame(rows, "url string, html binary").coalesce(2)
    cap = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        a = extract_pages(df, columns=ALL_COLS).orderBy("url").collect()
        b = extract_pages(df, columns=ALL_COLS,
                          out_batch_rows=1000).orderBy("url").collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", cap)
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) == 64


def test_worker_keeps_stat_checked_invalidate_caches(spark):
    """A worker that has run an extract_pages task carries the package's
    stat-checked zipimporter.invalidate_caches into its later tasks, so
    PySpark's per-task importlib.invalidate_caches() no longer re-parses
    pyspark.zip's directory.  The probe itself never imports the package:
    it only reports what an earlier task on the same worker installed."""
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
