"""Authoring API (with-html-output family, unparse.lisp:247-307) and the
shortest-path DTD exploration helpers (sgml-parse.lisp:1699-1712)."""

from closure_html_spark.author import HtmlWriter, with_html_output
from closure_html_spark.dtd import load_dtd, shortest_path
from closure_html_spark.parser.pda import parse_html
from closure_html_spark.serialize import serialize_doc

DTD = load_dtd()


def _build_page(w: HtmlWriter) -> str:
    with w.element("html"):
        with w.element("head"):
            with w.element("title"):
                w.text("A & B <quoted>")
        with w.element("body"):
            with w.element("p"):
                w.attribute("class", "intro")
                w.text("hello ")
                with w.element("b"):
                    w.text("world")
            w.comment(" generated ")
            with w.element("img"):
                w.attribute("src", "/x/ä.png")
                w.attribute("alt", 'say "hi"')
    return w.getvalue()


def test_author_escapes_and_structure():
    out = _build_page(HtmlWriter(DTD))
    assert out == (
        "<HTML><HEAD><TITLE>A &amp; B &lt;quoted&gt;</TITLE></HEAD>"
        '<BODY><P CLASS="intro">hello <B>world</B></P>'
        "<!-- generated -->"
        '<IMG SRC="/x/%C3%A4.png" ALT="say &quot;hi&quot;"></BODY></HTML>')


def test_author_roundtrip_through_parser():
    """Authored conforming HTML must parse + reserialize byte-stable --
    modulo comments, which the parser keeps only inside SCRIPT/STYLE
    (PRESERVES_COMMENTS), so the round trip drops them."""
    out = _build_page(HtmlWriter(DTD))
    doc = parse_html(DTD, out)
    assert serialize_doc(doc, DTD) == out.replace("<!-- generated -->", "")


def test_lazy_start_tag_and_boolean_minimization():
    w = HtmlWriter(DTD)
    with w.element("select"):
        w.attribute("multiple", "multiple")  # boolean enum -> minimized
        w.attribute("name", "n")
        with w.element("option"):
            w.attribute("selected", "selected")
            w.text("x")
    assert w.getvalue() == (
        '<SELECT MULTIPLE NAME="n"><OPTION SELECTED>x</OPTION></SELECT>')


def test_empty_element_no_end_tag_and_script_raw():
    w = HtmlWriter(DTD)
    with w.element("body"):
        with w.element("br"):
            pass
        with w.element("script"):
            w.text("if (a < b && c) { go(); }")
    assert w.getvalue() == (
        "<BODY><BR><SCRIPT>if (a < b && c) { go(); }</SCRIPT></BODY>")


def test_doctype_iff_system_id():
    w = HtmlWriter(DTD, system_id="http://www.w3.org/TR/html4/frameset.dtd",
                   public_id="-//W3C//DTD HTML 4.0 Frameset//EN")
    # hax:start-document (unparse.lisp:68-84): ids through unparse-string,
    # newline after `>`
    assert w.getvalue() == (
        '<!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 4.0 Frameset//EN" '
        '"http://www.w3.org/TR/html4/frameset.dtd">\n')
    assert HtmlWriter(DTD).getvalue() == ""


def test_doctype_ids_dtd_escaped():
    # unparse-datachar escapes & < > " TAB LF CR inside the ids
    w = HtmlWriter(DTD, system_id='x"y&z<w>.dtd')
    assert w.getvalue() == \
        '<!DOCTYPE HTML SYSTEM "x&quot;y&amp;z&lt;w&gt;.dtd">\n'


def test_unknown_element_gets_end_tag():
    # names absent from the DTD are NOT EMPTY elements: output must balance
    w = HtmlWriter(DTD)
    with w.element("foo"):
        w.text("x")
    assert w.getvalue() == "<FOO>x</FOO>"


def test_with_html_output_contextmanager():
    with with_html_output() as w:
        with w.element("p"):
            w.text("x")
    assert w.getvalue() == "<P>x</P>"


def test_shortest_path():
    # TD can directly contain P; the chain to reach PCDATA from TABLE goes
    # TABLE > TBODY|THEAD|TFOOT > TR > TD|TH
    p = shortest_path(DTD, "TD", "TABLE")
    assert p is not None and p[0] == "TABLE" and p[-1] == "TD"
    for parent, child in zip(p, p[1:]):
        assert child in DTD.include[parent], (parent, child)
    assert shortest_path(DTD, "HTML", "TD") is None  # nothing contains HTML upward to TD
    # unreachable goal from a well-connected start must terminate fast
    # (visited-dedup BFS; the naive level expansion explodes ~fan_in^10)
    import time
    t0 = time.monotonic()
    assert shortest_path(DTD, "A", "NOSUCHELEMENT") is None
    assert time.monotonic() - t0 < 2.0


def test_canon_value():
    """canon-value (sgml-parse.lisp:866-896): dead code in the reference
    (defined, never called), exposed here as the same utility."""
    from closure_html_spark.parser.normalize import canon_value
    warns = []
    w = lambda level, msg: warns.append((level, msg))  # noqa: E731
    # enum slot: METHOD of FORM is {GET, POST}
    assert canon_value(DTD, "FORM", "METHOD", "post", w) == "POST"
    assert canon_value(DTD, "FORM", "METHOD", "teleport", w) is None
    # NUMBER slot: COLSPAN of TD
    assert canon_value(DTD, "TD", "COLSPAN", "3", w) == 3
    assert canon_value(DTD, "TD", "COLSPAN", "-2", w) == -2
    assert canon_value(DTD, "TD", "COLSPAN", "wide", w) is None
    # NAME/ID slot: ID of P
    assert canon_value(DTD, "P", "ID", "intro", w) == "INTRO"
    assert canon_value(DTD, "P", "ID", "9bad", w) is None
    # CDATA slot passes through; undeclared slot warns
    assert canon_value(DTD, "A", "HREF", "/x?q=1", w) == "/x?q=1"
    assert canon_value(DTD, "P", "BOGUS", "x", w) is None
    assert all(lv == 3 for lv, _ in warns) and len(warns) == 4
