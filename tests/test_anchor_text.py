"""Anchor-text extraction: the (links, anchors) parallel arrays from the
extract stage and the inbound anchor aggregation built on them."""

import __spark_entry__ as entry
from closure_html_spark.dtd import load_dtd
from closure_html_spark.parser.charset import decode_html
from closure_html_spark.parser.pda import parse_html
from closure_html_spark.spark.pipeline import _doc_links, extract_pages

SF = "/root/testdata/sf0.001"

_HTML = (b"<html><body>"
         b"<div id=nav><a href=/>home</a> <a href=/about>ab<b>out</b></a>"
         b"</div><p>x</p>"
         b"<a name=x>no href</a>"      # A without HREF: not a link
         b"<a href=/e></a>"            # link with empty subtree
         b"</body></html>")


def test_anchors_parallel_to_links(spark):
    """anchors[i] is the concatenated pcdata of the A subtree owning
    links[i] -- nested markup flattens, an href-less A contributes
    nothing, an empty A contributes ''."""
    df = spark.createDataFrame([("u0", bytearray(_HTML))],
                               "url string, html binary")
    r = extract_pages(df, id_cols=("url",),
                      columns=("links", "anchors")).collect()[0]
    assert list(r.links) == ["/", "/about", "/e"]
    assert list(r.anchors) == ["home", "about", ""]
    # equal to the in-process walk over the same parse
    doc = parse_html(load_dtd(), decode_html(_HTML)[0])
    links, anchors = _doc_links(doc, True)
    assert (list(r.links), list(r.anchors)) == (links, anchors)


def test_anchor_text_plan(spark):
    """Every hash exchange is keyed on (target_url[, anchor]) -- never
    html or extracted text -- and the per-(target, anchor) count
    partial-aggregates map-side before its shuffle."""
    import re
    df = entry.queries()["anchor_text"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan          # no row-at-a-time Python
    assert "partial_count" in plan and "partial_sum" in plan
    keys = re.findall(r"hashpartitioning\((\w+)", plan)
    assert keys and set(keys) <= {"target_url", "anchor"}, keys


def test_anchor_text_values(spark):
    """Every host's three targets aggregate its page count with the
    single closed-form anchor each."""
    rows = {r.target_url: r
            for r in entry.queries()["anchor_text"](spark, SF).collect()}
    assert len(rows) == 108  # 36 hosts x 3 targets
    home = rows["https://host0.example/"]
    about = rows["https://host0.example/about"]
    assert home.top_anchor == "home" and about.top_anchor == "about"
    assert home.n_inlinks == about.n_inlinks >= 150  # ~30% of 500 docs
    assert home.n_anchors == 1
