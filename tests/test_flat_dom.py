"""The flat pre-order DOM (pda.Doc): node n's subtree is the id range
[n, end[n]).  Pins what the layout must not change -- node counts,
nodes_of rows and serialization across every top-level shape the
post-mortem merges -- and what it exists for: a parse that leaves no
per-node container for the collector to walk."""

import gc
import random
import tracemalloc

import pytest

from closure_html_spark.dtd import load_dtd
from closure_html_spark.parser.pda import (check_saneness, parse_html,
                                           sgml_parse)
from closure_html_spark.spark.pipeline import (_doc_links,
                                               extract_pages, nodes_of,
                                               serialize_pages)

DTD = load_dtd()

# top-level shapes: the post-mortem renumbers the first five and rewrites
# the last three in place
SHAPES = {
    "multi_html": "<html><head><title>a</title></head><body><p>x</body>"
                  "</html><html lang=en><head><meta name=d content=z>"
                  "</head><body class=q><p>y</body></html>",
    "multi_body": "<title>t</title><body><p>one</body><body class=b>"
                  "<p>two <b>2</b></body>",
    "frameset": "<html><head><base href=/b/></head><frameset>"
                "<frame src=a></frameset><body><p>nuked</body></html>",
    "body_then_head": "<body><p>x</body><head><title>late</title></head>",
    "empty": "",
    "no_head": "<p>x <i>y</i>",
    "head_only": "<title>t</title>",
    "frameset_only": "<frameset cols=2><frame src=a></frameset>",
}

# (n_nodes, serialize_pages html_out), as the child-list DOM gave them:
# n_nodes counts the detached nodes the post-mortem replaced
EXPECTED = {
    "multi_html": (16, '<HTML><HEAD><TITLE>a</TITLE><META NAME="d" '
                       'CONTENT="z"></HEAD><BODY CLASS="q"><P>x</P><P>y</P>'
                       "</BODY></HTML>"),
    "multi_body": (15, "<HTML><HEAD><TITLE>t</TITLE></HEAD><BODY "
                       'CLASS="b"><P>one</P><P>two <B>2</B></P></BODY>'
                       "</HTML>"),
    "frameset": (11, '<HTML><HEAD><BASE HREF="/b/"></HEAD><FRAMESET>'
                     '<FRAME SRC="a"></FRAMESET></HTML>'),
    "body_then_head": (10, "<HTML><HEAD><TITLE>late</TITLE></HEAD><BODY>"
                           "<P>x</P></BODY></HTML>"),
    "empty": (4, "<HTML><HEAD></HEAD><BODY></BODY></HTML>"),
    "no_head": (9, "<HTML><HEAD></HEAD><BODY><P>x <I>y</I></P></BODY>"
                   "</HTML>"),
    "head_only": (8, "<HTML><HEAD><TITLE>t</TITLE></HEAD><BODY></BODY>"
                     "</HTML>"),
    "frameset_only": (6, '<HTML><HEAD></HEAD><FRAMESET COLS="2">'
                         '<FRAME SRC="a"></FRAMESET></HTML>'),
}

# nodes_of rows (node_id, parent_id, depth, name, attrs, text)
NODES = {
    "multi_html": [
        (0, -1, 0, "HTML", {}, None),
        (1, 0, 1, "HEAD", {}, None),
        (2, 1, 2, "TITLE", {}, None),
        (3, 2, 3, "#PCDATA", {}, "a"),
        (4, 1, 2, "META", {"NAME": "d", "CONTENT": "z"}, None),
        (5, 0, 1, "BODY", {"CLASS": "q"}, None),
        (6, 5, 2, "P", {}, None),
        (7, 6, 3, "#PCDATA", {}, "x"),
        (8, 5, 2, "P", {}, None),
        (9, 8, 3, "#PCDATA", {}, "y"),
    ],
    "multi_body": [
        (0, -1, 0, "HTML", {}, None),
        (1, 0, 1, "HEAD", {}, None),
        (2, 1, 2, "TITLE", {}, None),
        (3, 2, 3, "#PCDATA", {}, "t"),
        (4, 0, 1, "BODY", {"CLASS": "b"}, None),
        (5, 4, 2, "P", {}, None),
        (6, 5, 3, "#PCDATA", {}, "one"),
        (7, 4, 2, "P", {}, None),
        (8, 7, 3, "#PCDATA", {}, "two "),
        (9, 7, 3, "B", {}, None),
        (10, 9, 4, "#PCDATA", {}, "2"),
    ],
    "frameset": [
        (0, -1, 0, "HTML", {}, None),
        (1, 0, 1, "HEAD", {}, None),
        (2, 1, 2, "BASE", {"HREF": "/b/"}, None),
        (3, 0, 1, "FRAMESET", {}, None),
        (4, 3, 2, "FRAME", {"SRC": "a"}, None),
    ],
}


def _is_preorder(doc) -> bool:
    """Every node of the tree lies inside its parent's id range, and the
    children of each node tile its range."""
    end, parent = doc.end, doc.parent
    for n in range(doc.root, end[doc.root]):
        c = n + 1
        while c < end[n]:
            if parent[c] != n:
                return False
            c = end[c]
        if c != end[n]:
            return False
    return True


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_post_mortem_shapes_in_process(shape):
    doc = parse_html(DTD, SHAPES[shape])
    assert not hasattr(doc, "children")
    assert len(doc.name) == EXPECTED[shape][0]
    assert _is_preorder(doc)
    assert check_saneness(doc, DTD) == []
    if shape in NODES:
        got = [(n - doc.root, doc.parent[n] - doc.root if d else -1, d,
                doc.name[n], dict(doc.attrs[n] or ()), doc.text[n])
               for n, d in doc.walk()]
        assert got == NODES[shape]


def test_post_mortem_shapes_through_stages(spark):
    """n_nodes, serialize_pages and nodes_of over every shape in one
    frame, each equal to the child-list DOM's value."""
    df = spark.createDataFrame(
        [(k, bytearray(v.encode())) for k, v in SHAPES.items()],
        "url string, html binary")
    n_nodes = {r.url: r.n_nodes for r in
               extract_pages(df, columns=("n_nodes",)).collect()}
    html_out = {r.url: r.html_out for r in serialize_pages(df).collect()}
    assert {k: (n_nodes[k], html_out[k]) for k in SHAPES} == EXPECTED
    rows = {}
    for r in nodes_of(df).collect():
        rows.setdefault(r.url, []).append(
            (r.node_id, r.parent_id, r.depth, r.name, dict(r.attrs or {}),
             r.text))
    for k in NODES:
        assert sorted(rows[k]) == NODES[k], k


def test_nested_anchor_keeps_links_and_anchors_paired(spark):
    """Soup like '<a href=/q>q<a href=/r>r</a>' parses to an A inside an
    A (the one end tag closes the inner A, so the outer one runs to the
    end of the P); each link keeps its own anchor, the outer one's text
    including the inner ones', so anchors stay parallel to links.  The
    depth-tracking walk dropped the outer anchor, and the extract stage
    then raised ArrowInvalid on the whole batch."""
    src = b"<p>see <a href=/q>q<a href=/r>r</a> and <a href=/s>s</a>"
    doc = parse_html(DTD, src.decode())
    assert _doc_links(doc, True) == (["/q", "/r", "/s"],
                               ["qr and s", "r", "s"])
    df = spark.createDataFrame([("u", bytearray(src))],
                               "url string, html binary")
    r = extract_pages(df, columns=("links", "anchors")).collect()[0]
    assert (list(r.links), list(r.anchors)) == (["/q", "/r", "/s"],
                                                ["qr and s", "r", "s"])


def _tag_dense(n_bytes: int) -> str:
    """perfbench's tag-dense ladder shape: inline markup on every word."""
    rng = random.Random(1)
    tags = ("b", "i", "em", "span", "strong", "code")
    words = ("alpha", "beta", "gamma", "delta", "epsilon")
    parts = ["<html><head><title>t</title></head><body>"]
    size = 0
    while size < n_bytes:
        blk = " ".join(f"<{t}>{rng.choice(words)}</{t}>"
                       for t in rng.choices(tags, k=4096))
        parts.append(f"<div><p>{blk}</p></div>")
        size += len(parts[-1])
    return "".join(parts)


def test_tag_dense_parse_leaves_no_collector_work():
    """A ~1 MB tag-dense parse (~185k nodes) runs no full collection and
    retains at most 110 bytes per node.  With a GC-tracked child list per
    node it ran 1-2 full collections and retained ~166 B/node."""
    src = _tag_dense(1 << 20)
    gc.collect()
    full = gc.get_stats()[2]["collections"]
    doc = sgml_parse(DTD, src)
    assert gc.get_stats()[2]["collections"] == full
    n = len(doc.name)
    assert n > 150_000
    del doc
    gc.collect()
    tracemalloc.start()
    try:
        before = tracemalloc.get_traced_memory()[0]
        doc = sgml_parse(DTD, src)
        gc.collect()
        retained = tracemalloc.get_traced_memory()[0] - before
    finally:
        tracemalloc.stop()
    assert retained / n <= 110, retained / n


def test_doc_to_lhtml_deep_tree():
    """A 5000-deep tree renders to LHTML and back without recursion."""
    from closure_html_spark.serialize import (doc_to_lhtml, lhtml_to_doc,
                                              serialize_doc)
    doc = parse_html(DTD, "<div>" * 5000 + "x")
    lit = doc_to_lhtml(doc)
    assert serialize_doc(lhtml_to_doc(lit), DTD) == serialize_doc(doc, DTD)
