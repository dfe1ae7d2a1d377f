"""FONT-as-marker mode (opt-in font_htag flag): the reference's HTAG
machinery (sgml-parse.lisp:1398-1556, 1665-1690) with the tag-as-marker-p
two-`and` bug fixed.  No reference output exists for this mode (the bug
makes it unreachable there), so correctness is pinned by (a) the worked
example in the reference's own comments (:1407-1417), (b) DTD saneness of
every mungled tree, (c) fused-engine vs reference-loop differential."""

import random

from closure_html_spark.dtd import load_dtd
from closure_html_spark.parser.pda import (
    _sgml_parse_ref,
    check_saneness,
    parse_html,
    post_mortem_fix_font,
    post_mortem_fix_top_level,
)
from closure_html_spark.parser.tokenizer import Tokenizer
from closure_html_spark.serialize import serialize_doc

DTD = load_dtd()


def test_reference_docstring_example():
    # "<p> <font> foo <b> bar </font> baz </b>" parses to
    # (P #<HSTAG font> "foo" (B "bar" #<HETAG font> "baz")) and mungles to
    # FONT wrapped around "foo" and around "bar" (sgml-parse.lisp:1407-1417)
    doc = parse_html(DTD, "<p> <font> foo <b> bar </font> baz </b>",
                     font_htag=True)
    assert serialize_doc(doc, DTD) == (
        "<HTML><HEAD></HEAD><BODY><P> <FONT> foo </FONT>"
        "<B><FONT> bar </FONT> baz </B></P></BODY></HTML>")
    assert check_saneness(doc, DTD) == []


def test_well_nested_font_unchanged():
    src = "<p><font size=2>hello</font> world"
    with_flag = serialize_doc(parse_html(DTD, src, font_htag=True), DTD)
    without = serialize_doc(parse_html(DTD, src), DTD)
    assert with_flag == without


def test_unclosed_font_wraps_to_end():
    doc = parse_html(DTD, "<p><font size=2>unclosed <b>x</b>",
                     font_htag=True)
    assert (4, "Unclosed FONT elements.") in doc.warnings
    assert serialize_doc(doc, DTD) == (
        '<HTML><HEAD></HEAD><BODY><P><FONT SIZE="2">unclosed '
        "<B>x</B></FONT></P></BODY></HTML>")


def test_superfluous_font_end_dropped():
    doc = parse_html(DTD, "<p>a</font>b", font_htag=True)
    assert (4, "Superfluous FONT end tag.") in doc.warnings
    assert "<FONT" not in serialize_doc(doc, DTD)


def test_font_illegal_span_recurses_into_children():
    # FONT cannot wrap a TR, so the mungle recurses into the row's cells
    doc = parse_html(
        DTD,
        "<table><font><tr><td>a</td><td>b</td></tr></font></table>",
        font_htag=True)
    assert check_saneness(doc, DTD) == []
    s = serialize_doc(doc, DTD)
    assert "<TR><FONT>" not in s  # no FONT directly inside TR's parent chain


def test_differential_and_saneness_fuzz():
    """Fused engine == reference loop with the flag on, and every mungled
    tree stays DTD-sane, over FONT-heavy soup."""
    random.seed(20260816)
    chars = "<>/=&;'\"ap font b i div td tr table ul li size=2 x \n\t"
    for _ in range(1500):
        fx = "".join(random.choice(chars)
                     for _ in range(random.randrange(1, 180)))
        fast = parse_html(DTD, fx, font_htag=True)
        ref = _sgml_parse_ref(DTD, fx, Tokenizer(fx, DTD.entities),
                              font_htag=True)
        post_mortem_fix_font(ref, DTD)
        post_mortem_fix_top_level(ref)
        assert serialize_doc(fast, DTD) == serialize_doc(ref, DTD), fx
        assert check_saneness(fast, DTD) == [], fx
