"""Structured extraction (round 7): <table> grids, head metadata, BM25,
SemDeDup.  The sf0.001 oracle replay lives in test_entry_oracle; these pin
the per-doc semantics the oracle corpus cannot reach (nesting, soup,
duplicates, missing sections) plus the scale-critical plan shapes."""

import math

import numpy as np
import pytest

from closure_html_spark.dtd import load_dtd
from closure_html_spark.extract import metadata_of_doc, tables_of_doc
from closure_html_spark.parser.pda import parse_html

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def dtd():
    return load_dtd()


def _parse(dtd, html):
    return parse_html(dtd, html)


# --- tables_of_doc -----------------------------------------------------------

def test_tables_soup_equals_wellformed(dtd):
    """Omitted </th>/</td>/</tr> + implied TBODY must repair to the same
    grid as fully closed markup (TD/TH/TR end tags optional, TBODY start
    omissible in the HTML-4 DTD)."""
    closed = ("<table><tbody><tr><th>a</th><th>b</th></tr>"
              "<tr><td>1</td><td>2</td></tr></tbody></table>")
    soup = "<table><tr><th>a<th>b<tr><td>1<td>2</table>"
    g1 = tables_of_doc(_parse(dtd, f"<body>{closed}"))
    g2 = tables_of_doc(_parse(dtd, f"<body>{soup}"))
    assert g1 == g2 == [
        (0, 0, 0, "TH", "a"), (0, 0, 1, "TH", "b"),
        (0, 1, 0, "TD", "1"), (0, 1, 1, "TD", "2")]


def test_tables_nested_get_own_index(dtd):
    """A nested table is its own table_idx; its cells never leak into the
    outer cell text, and its rows never count as outer rows."""
    html = ("<body><table><tr><td>out"
            "<table><tr><td>in</td></tr></table>"
            "</td></tr><tr><td>after</td></tr></table>")
    rows = tables_of_doc(_parse(dtd, html))
    assert rows == [
        (0, 0, 0, "TD", "out"),
        (0, 1, 0, "TD", "after"),
        (1, 0, 0, "TD", "in")]


def test_tables_sections_in_document_order(dtd):
    """THEAD/TFOOT/TBODY are transparent wrappers; rows come out in
    DOCUMENT order (tfoot between thead and tbody stays in the middle --
    we extract markup order, not rendering order)."""
    html = ("<body><table>"
            "<thead><tr><th>h</th></tr></thead>"
            "<tfoot><tr><td>f</td></tr></tfoot>"
            "<tbody><tr><td>b</td></tr></tbody></table>")
    rows = tables_of_doc(_parse(dtd, html))
    assert [(r, c, tag, t) for (_, r, c, tag, t) in rows] == [
        (0, 0, "TH", "h"), (1, 0, "TD", "f"), (2, 0, "TD", "b")]


def test_tables_cell_text_concats_inline_markup(dtd):
    rows = tables_of_doc(_parse(
        dtd, "<body><table><tr><td>a<b>b</b><i>c</i></td></tr></table>"))
    assert rows == [(0, 0, 0, "TD", "abc")]


def test_tables_none_yields_empty(dtd):
    assert tables_of_doc(_parse(dtd, "<body><p>no tables")) == []


# --- metadata_of_doc ---------------------------------------------------------

def test_metadata_first_occurrence_wins(dtd):
    html = ('<head><title>T</title>'
            '<meta name=description content="one">'
            '<meta name=description content="two">'
            '</head><body><h1>A</h1><h1>B</h1>')
    md = metadata_of_doc(_parse(dtd, html))
    assert md["description"] == "one"
    assert md["h1"] == "A"


def test_metadata_missing_fields_empty(dtd):
    md = metadata_of_doc(_parse(dtd, "<body><p>x"))
    assert md == {"title": "", "description": "", "og_title": "",
                  "canonical": "", "h1": ""}


def test_metadata_og_property_survives_undeclared_attr(dtd):
    """PROPERTY is not in the HTML-4 META attlist; mungle-attlist keeps
    name=value pairs verbatim (sgml-parse.lisp:898-917), which is what
    makes RDFa extraction possible at all."""
    md = metadata_of_doc(_parse(
        dtd, '<head><meta property="og:title" content="X"></head><body>'))
    assert md["og_title"] == "X"


def test_metadata_h1_concats_inline_markup(dtd):
    md = metadata_of_doc(_parse(dtd, "<body><h1>Big <em>news</em></h1>"))
    assert md["h1"] == "Big news"


# --- Spark stages ------------------------------------------------------------

def test_tables_of_malformed_doc_contributes_zero_rows(spark):
    from closure_html_spark.spark.pipeline import metadata_of, tables_of
    df = spark.createDataFrame(
        [("u1", b"<body><table><tr><td>x</td></tr></table>"),
         ("u2", b"\xff\xfe totally not html \x00")],
        "url string, html binary")
    out = tables_of(df, ("url",)).collect()
    assert [(r.url, r.cell) for r in out] == [("u1", "x")]
    # metadata stays 1:1 even for garbage input
    md = metadata_of(df, ("url",)).orderBy("url").collect()
    assert len(md) == 2 and md[1].title == ""


# --- BM25 --------------------------------------------------------------------

def test_bm25_hand_computed(spark, tmp_path, monkeypatch):
    from closure_html_spark.spark import relational as R
    from closure_html_spark.spark.relational import q_bm25_topk
    docs = [(0, "spark join join", "en", "s", 15),
            (1, "window window window window", "en", "s", 27),
            (2, "nothing relevant here", "en", "s", 21)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
        "n_chars long").write.parquet(str(tmp_path / "documents.parquet"))
    monkeypatch.setattr(R, "BM25_TERMS", ("spark", "window", "join"))
    out = {r.doc_id: r.score
           for r in q_bm25_topk(spark, str(tmp_path)).collect()}
    k1, b, n, avgdl = 1.2, 0.75, 3, 10 / 3

    def bm25(tf, df, dl):
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    exp0 = round(bm25(1, 1, 3) + bm25(2, 1, 3), 6)
    exp1 = round(bm25(4, 1, 4), 6)
    assert out.keys() == {0, 1}
    assert abs(out[0] - exp0) < 1e-6 and abs(out[1] - exp1) < 1e-6


def test_bm25_plan_no_corpus_explode(spark):
    """The scale claim: |q|-term scoring is a map-side array fold -- no
    Generate (explode) anywhere, stats enter via broadcast, and the
    global top-k is TakeOrderedAndProject (k rows per partition), not a
    full sort."""
    from closure_html_spark.spark.relational import q_bm25_topk
    plan = q_bm25_topk(spark, SF)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Generate" not in plan
    assert "TakeOrderedAndProject" in plan


# --- SemDeDup ----------------------------------------------------------------

def test_semantic_dedup_drops_are_sound(spark):
    """Every dropped vector must really have a smaller-id same-cell
    neighbor with cosine >= threshold (checked against a numpy
    recomputation), and survivors per cell must be closed under the rule
    (no survivor pair above threshold with both kept... which CAN happen
    only across cells -- within a cell the smaller id always wins)."""
    from closure_html_spark.spark.relational import q_semantic_dedup
    rows = q_semantic_dedup(spark, SF).collect()
    import pyarrow.parquet as pq
    t = pq.read_table(f"{SF}/embeddings.parquet").to_pydict()
    emb = {v: np.array(e) for v, e in zip(t["vec_id"], t["embedding"])}
    cells = {}
    for r in rows:
        cells.setdefault(r.cell, []).append((r.vec_id, r.kept))
    n_dropped = 0
    for cell, members in cells.items():
        for vid, kept in members:
            sims = {}
            for oid, _ in members:
                if oid < vid:
                    a, c = emb[vid], emb[oid]
                    sims[oid] = round(
                        float(a @ c) /
                        (np.linalg.norm(a) * np.linalg.norm(c)), 6)
            has_dup = any(s >= 0.4 for s in sims.values())
            assert bool(kept) == (not has_dup), (cell, vid, sims)
            n_dropped += 0 if kept else 1
    assert n_dropped > 0  # the corpus must actually exercise the rule


# --- JSON-LD -----------------------------------------------------------------

def test_jsonld_payload_verbatim_and_filtered(dtd):
    from closure_html_spark.extract import jsonld_of_doc
    html = ('<head><title>t</title>'
            '<script type="application/ld+json">{"a": "x<1>"}</script>'
            '<script type="text/javascript">var x=1;</script>'
            '</head><body>'
            '<script type="application/ld+json">{"b": 2}</script>')
    assert jsonld_of_doc(_parse(dtd, html)) == ['{"a": "x<1>"}', '{"b": 2}']
    assert jsonld_of_doc(_parse(dtd, "<body><script>x</script>")) == []


def test_jsonld_query_matches_oracle(spark):
    import duckdb

    import __spark_entry__ as e
    sdf = e.aux_queries()["jsonld_extract"](spark, SF).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{SF}/documents.parquet'")
    odf = con.execute(e.aux_oracle_sql()["jsonld_extract"]).fetchdf()
    assert len(sdf) == len(odf) == 500
    s = sorted(map(tuple, sdf[sorted(sdf.columns)].itertuples(index=False)))
    o = sorted(map(tuple, odf[sorted(odf.columns)].itertuples(index=False)))
    assert s == o
