"""Property tests (SURVEY.md §5.3): parse->serialize->parse idempotence and
check-saneness invariants (sgml-parse.lisp:1630-1638) over generated HTML."""

from hypothesis import given, settings
from hypothesis import strategies as st

from closure_html_spark.dtd import PCDATA, load_dtd
from closure_html_spark.parser.pda import parse_html
from closure_html_spark.serialize import serialize_doc

DTD = load_dtd()

_tag = st.sampled_from(
    "p div span a b i ul li table tr td h1 h2 br img form input select "
    "option center font pre blockquote title head body html script style "
    "bogus1 noscript".split())
_text = st.text(
    alphabet="ab &#<>x;'\"=/\n\té中", min_size=0, max_size=24)


@st.composite
def html_soup(draw, depth=0):
    n = draw(st.integers(0, 4 if depth < 3 else 0))
    parts = [draw(_text)]
    for _ in range(n):
        t = draw(_tag)
        attrs = draw(st.sampled_from(
            ["", " class=x", ' href="u?a=1&amp;b"', " selected", " bogus=1",
             " align='left'"]))
        parts.append(f"<{t}{attrs}>")
        parts.append(draw(html_soup(depth + 1)))
        if draw(st.booleans()):
            parts.append(f"</{t}>")
    parts.append(draw(_text))
    return "".join(parts)


@settings(max_examples=300, deadline=None)
@given(html_soup())
def test_parse_serialize_idempotent(src):
    """serialize(parse(.)) reaches a fixed point after at most one
    normalization round.  (Exact one-round idempotence cannot hold in
    general: SCRIPT/STYLE text is serialized raw -- per the reference sink,
    unparse.lisp:164-168 -- so a literal '<' inside script re-parses
    differently.  The reference has the same property.)"""
    s1 = serialize_doc(parse_html(DTD, src), DTD)
    s2 = serialize_doc(parse_html(DTD, s1), DTD)
    s3 = serialize_doc(parse_html(DTD, s2), DTD)
    assert s2 == s3, f"not stable after one round for {src!r}"
    if "<SCRIPT" not in s1 and "<STYLE" not in s1:
        assert s1 == s2, f"not idempotent for script-free {src!r}"


@settings(max_examples=300, deadline=None)
@given(html_soup())
def test_check_saneness(src):
    """Every child must be legal in its parent per the DTD; parent links
    must be consistent (the reference's check-saneness invariant)."""
    doc = parse_html(DTD, src)
    for nid, _ in doc.walk():
        for c in doc.children_of(nid):
            assert doc.parent[c] == nid, "parent/child linkage broken"
            cname = doc.name[c]
            pname = doc.name[nid]
            if pname == PCDATA:
                raise AssertionError("pcdata node with children")
            assert cname in DTD.inclusion(pname) or cname == PCDATA and \
                PCDATA in DTD.inclusion(pname), \
                f"unallowed {cname} within {pname} for {src!r}"
    # the runnable pass (pda.check_saneness) must agree: no complaints
    from closure_html_spark.parser.pda import check_saneness
    assert check_saneness(doc, DTD) == [], src


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_never_crashes_on_garbage(raw):
    from closure_html_spark.parser.charset import decode_html
    text, _ = decode_html(raw)
    doc = parse_html(DTD, text)
    serialize_doc(doc, DTD)
