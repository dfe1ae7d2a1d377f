"""Golden end-to-end tests derived from the reference's own corpus:
src/test/test.lisp and doc/examples.xml, plus the FIXTURES.md hand-built
repair cases.  Every assertion pins byte-exact output."""

from closure_html_spark.dtd import load_dtd
from closure_html_spark.parser.charset import decode_html, sniff_charset
from closure_html_spark.parser.pda import parse_html
from closure_html_spark.serialize import doc_to_lhtml, serialize_doc

DTD = load_dtd()


def lhtml(src):
    return doc_to_lhtml(parse_html(DTD, src))


def rt(src):
    return serialize_doc(parse_html(DTD, src), DTD)


def test_nada_roundtrip():
    # doc/examples.xml:28-33
    assert lhtml("<p>nada</p>") == (
        "HTML", (), ("HEAD", ()), ("BODY", (), ("P", (), "nada")))
    assert rt("<p>nada</p>") == "<HTML><HEAD></HEAD><BODY><P>nada</P></BODY></HTML>"


def test_cleanup_example():
    # doc/examples.xml:60-77: title hoisted, bogus attr dropped, <br repaired,
    # </oops> dropped and P closed at body end
    src = "<title>cleanup example</title>\n<p bogus>\n<br\n</oops>"
    assert rt(src) == ("<HTML><HEAD><TITLE>cleanup example</TITLE></HEAD>"
                       "<BODY><P>\n<BR></P></BODY></HTML>")


def test_xhtml_head_fixture():
    # src/test/test.lisp:5-18
    src = '''
<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Strict//EN"
          "http://www.w3.org/TR/xhtml1/DTD/xhtml1-strict.dtd">
<html xmlns="http://www.w3.org/1999/xhtml" xml:lang="en">
  <head>
<base href="http://licejus.pov.lt/calendar/daily.html" />
'''
    assert lhtml(src) == (
        "HTML", (),
        ("HEAD", (),
         ("BASE", (("HREF", "http://licejus.pov.lt/calendar/daily.html"),))),
        ("BODY", ()))


CHARSET_FIXTURE = '''<!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 4.01 Transitional//EN">
<html dir="ltr">
<head>
<meta http-equiv="Content-Type" content="text/html; charset=windows-1257">
<meta http-equiv="Content-Style-Type" content="text/css">

<title>GameDev.LT - Žaidimų kūrimas Lietuvoje :: Index</title>
<!-- link rel="stylesheet" href="templates/DustyGreen/DustyGreen.css" type="text/css" -->
<link rel="stylesheet" href="templates/DustyGreen/ssmitems.css" type="text/css">
</head>
<script>
<!--
NS6=(document.getElementById&&!document.all)
-->
</script>
'''


def test_charset_switch_fixture():
    # src/test/test.lisp:21-63 (abridged script body; structure identical)
    raw = CHARSET_FIXTURE.encode("windows-1257")
    text, cs = decode_html(raw)
    assert cs == "cp1257"
    got = doc_to_lhtml(parse_html(DTD, text))
    assert got == (
        "HTML", (),
        ("HEAD", (),
         ("META", (("HTTP-EQUIV", "Content-Type"),
                   ("CONTENT", "text/html; charset=windows-1257"))),
         ("META", (("HTTP-EQUIV", "Content-Style-Type"),
                   ("CONTENT", "text/css"))),
         ("TITLE", (), "GameDev.LT - Žaidimų kūrimas "
                       "Lietuvoje :: Index"),
         ("LINK", (("REL", "stylesheet"),
                   ("HREF", "templates/DustyGreen/ssmitems.css"),
                   ("TYPE", "text/css")))),
        ("BODY", ()))


def test_comment_preserved_in_script():
    # comments become pcdata nodes only inside STYLE/SCRIPT
    # (sgml-parse.lisp:142-144, 1122-1128)
    got = lhtml("<body><script><!-- alert(1) --></script><!-- gone --></body>")
    assert got == ("HTML", (), ("HEAD", ()),
                   ("BODY", (), ("SCRIPT", (), " alert(1) ")))


def test_select_option_implicit_close():
    # doc/examples.xml:110-130
    src = ("<p>foo</p>\n<br>\n<select>\n<option selected>123\n"
           "<option>456\n</select>")
    assert lhtml(src) == (
        "HTML", (), ("HEAD", ()),
        ("BODY", (),
         ("P", (), "foo"), "\n", ("BR", ()), "\n",
         ("SELECT", (),
          ("OPTION", (("SELECTED", "selected"),), "123\n"),
          ("OPTION", (), "456\n"))))
    # boolean attr minimized, EMPTY no end tag, implicit </OPTION>
    assert rt(src) == ("<HTML><HEAD></HEAD><BODY><P>foo</P>\n<BR>\n"
                       "<SELECT><OPTION SELECTED>123\n</OPTION>"
                       "<OPTION>456\n</OPTION></SELECT></BODY></HTML>")


def test_entities():
    # named/numeric/hex, missing ';', unknown kept raw, 16-bit clamp
    got = lhtml("<p>&amp; &lt;ok&gt; &#65; &#x42; &nbsp &bogus; &#70000;</p>")
    assert got == ("HTML", (), ("HEAD", ()),
                   ("BODY", (), ("P", (), "& <ok> A B \xa0 &bogus; &#70000;")))
    assert rt("<p>&amp; &lt;ok&gt;</p>") == (
        "<HTML><HEAD></HEAD><BODY><P>&amp; &lt;ok&gt;</P></BODY></HTML>")


def test_bad_tag_and_sloopy_url():
    got = lhtml("<p>a <= b</p><p><a href=http://x/y?z=1>t</a></p>")
    assert got == ("HTML", (), ("HEAD", ()),
                   ("BODY", (),
                    ("P", (), "a ", "<", "= b"),
                    ("P", (), ("A", (("HREF", "http://x/y?z=1"),), "t"))))


def test_table_repairs():
    # td in table -> insert TR (+ TBODY via resolve); text in ul -> insert LI
    got = lhtml("<table><td>x</table><ul>text</ul>")
    assert got == ("HTML", (), ("HEAD", ()),
                   ("BODY", (),
                    ("TABLE", (), ("TBODY", (), ("TR", (), ("TD", (), "x")))),
                    ("UL", (), ("LI", (), "text"))))


def test_form_in_tbody_queue_depth():
    """/FORM in TBODY (sgml-parse.lisp:1290-1294): with a 2-token queue
    the reference swaps the first two tokens, deferring /FORM behind the
    next token.  With a 1-token queue the reference's `(cadr eingabe)`
    splices NIL into the stream (its own comment concedes the missing
    check); we instead drop the token with a level-4 warn -- the
    intentional deviation documented at pda._heuristic.  Both depths
    pinned here."""
    from closure_html_spark.parser.pda import _etag, _heuristic, _stag

    class Tk:
        def __init__(self):
            self.warnings = []

        def warn(self, lvl, msg):
            self.warnings.append((lvl, msg))

    ctx = _stag("TBODY")
    tk = Tk()
    out = _heuristic(DTD, tk, ctx, [_etag("FORM"), _etag("TABLE")])
    assert out == [_etag("TABLE"), _etag("FORM")]  # the reference swap
    assert not tk.warnings
    tk = Tk()
    out = _heuristic(DTD, tk, ctx, [_etag("FORM")])
    assert out == []  # dropped, not NIL-spliced
    assert tk.warnings and tk.warnings[0][0] == 4
    # end-to-end: the swap defers /FORM past </table>, so FORM closes
    # around the WHOLE table -- no warnings, no dropped element
    got = lhtml("<form><table><tr><td>x</td></tr></form></table>")
    assert got == ("HTML", (), ("HEAD", ()),
                   ("BODY", (), ("FORM", (), ("TABLE", (),
                    ("TBODY", (), ("TR", (), ("TD", (), "x")))))))


def test_pcdata_in_table_closes_table():
    got = lhtml("<table>oops<tr><td>x</td></tr></table>")
    # heuristic: close table (empty node remains), re-process pcdata,
    # reopen table -- exact reference action (sgml-parse.lisp:1277-1279)
    assert got == ("HTML", (), ("HEAD", ()),
                   ("BODY", (),
                    ("TABLE", ()), "oops",
                    ("TABLE", (), ("TBODY", (), ("TR", (), ("TD", (), "x"))))))


def test_empty_elements_no_end_tags():
    assert rt("<br><hr><img src=a.gif><input type=text>") == (
        '<HTML><HEAD></HEAD><BODY><BR><HR><IMG SRC="a.gif">'
        '<INPUT TYPE="text"></BODY></HTML>')


def test_frameset_replaces_body():
    got = lhtml("<frameset><frame src=a.html></frameset><body>x</body>")
    assert got == ("HTML", (), ("HEAD", ()),
                   ("FRAMESET", (), ("FRAME", (("SRC", "a.html"),))))


def test_multi_html_merge():
    # multiple HTML/HEAD/BODY merged (sgml-parse.lisp:1333-1396)
    src = ("<html><head><title>a</title></head><body>one</body></html>"
           "<html><body>two</body></html>")
    got = lhtml(src)
    assert got == ("HTML", (), ("HEAD", (), ("TITLE", (), "a")),
                   ("BODY", (), "one", "two"))


def test_unknown_tags_dropped():
    got = lhtml("<body><booo>x</booo><noscript>y</noscript></body>")
    assert got == ("HTML", (), ("HEAD", ()), ("BODY", (), "x", "y"))


def test_lhtml_to_doc_roundtrip():
    """The serialize-lhtml INPUT direction (doc/examples.xml:27-33,
    lhtml.lisp:145-171 walk-lhtml/lhtml->pt): an LHTML literal consumed
    as parser-side input, built into a Doc, and serialized."""
    from closure_html_spark.serialize import lhtml_to_doc, serialize_doc

    lit = ("HTML", (), ("HEAD", ()), ("BODY", (), ("P", (), "nada")))
    doc = lhtml_to_doc(lit)
    assert doc_to_lhtml(doc) == lit  # faithful inverse of doc_to_lhtml
    assert serialize_doc(doc, DTD) == (
        "<HTML><HEAD></HEAD><BODY><P>nada</P></BODY></HTML>")
    # literal -> Doc -> serialize matches parse -> serialize for a
    # repaired document exercising attrs, EMPTY elements and escaping
    src = '<title>t</title><p class=a>x &amp; y<br><img src="u?a=1&b=2">'
    assert serialize_doc(lhtml_to_doc(lhtml(src)), DTD) == rt(src)


def test_doctype_emission():
    """Doctype iff system-id (unparse.lisp:68-84): SYSTEM and PUBLIC
    forms, datachar-escaped ids, newline terminator.  The default path
    emits nothing -- pinned by every other fixture in this file -- and a
    public-id ALONE emits nothing either (the reference's plusp check is
    on system-id only)."""
    from closure_html_spark.serialize import doctype_string, serialize_doc

    doc = parse_html(DTD, "<p>nada</p>")
    body = "<HTML><HEAD></HEAD><BODY><P>nada</P></BODY></HTML>"
    assert serialize_doc(doc, DTD, system_id="http://x/d.dtd") == (
        '<!DOCTYPE HTML SYSTEM "http://x/d.dtd">\n' + body)
    assert serialize_doc(
        doc, DTD, public_id="-//W3C//DTD HTML 4.0//EN",
        system_id="http://www.w3.org/TR/REC-html40/strict.dtd") == (
        '<!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 4.0//EN" '
        '"http://www.w3.org/TR/REC-html40/strict.dtd">\n' + body)
    assert serialize_doc(doc, DTD, public_id="-//X//EN") == body
    # the ids route through the unparse-datachar table
    assert doctype_string("HTML", None, 'a"b&c') == (
        '<!DOCTYPE HTML SYSTEM "a&quot;b&amp;c">\n')


def test_dtd_char_escape_table():
    """unparse-dtd-char (unparse.lisp:219-233): defined-but-never-called
    in the reference; table pinned here like canon-value."""
    from closure_html_spark.serialize import _escape_dtd_string

    assert _escape_dtd_string('a%b&c<d>e"f\tg\nh\ri') == (
        "a&#37;b&amp;c&lt;d&gt;e&quot;f&#9;g&#10;h&#13;i")
    assert _escape_dtd_string("plain") == "plain"


def test_escape_tables():
    got = rt('<p>a &amp; b < c > d " e\tf\rg</p>')
    assert ("&amp;" in got and "&quot;" in got and "&#13;" in got
            and "\t" in got)  # tab NOT escaped in readable mode


def test_uri_attribute_percent_escape():
    src = '<p><a href="http://x/é">t</a></p>'
    got = rt(src)
    assert 'HREF="http://x/%C3%A9"' in got


def test_attr_amp_brace_exception():
    # unparse-attribute-string: '&' kept when followed by '{'
    src = '<p><span title="a&{b} &c">t</span></p>'
    got = rt(src)
    assert 'TITLE="a&{b} &amp;c"' in got


def test_sniff_charset_bom():
    assert sniff_charset(b"\xef\xbb\xbfhello", "utf-8", None) == "utf-8-sig"
    assert sniff_charset(b"<html>", "utf-8", None) == "utf-8"
    assert sniff_charset(b"<meta charset='UTF-8'>", "utf-8", None) == "utf-8"


def test_style_in_div_becomes_span():
    # resolve(DIV, S, STYLE) is ambiguous -> heuristic rule
    # (sgml-parse.lisp:1231-1234) rewrites to <span class=illegalstyle>
    got = lhtml("<body><div>x<style>.a{}</style>y</div></body>")
    assert got == ("HTML", (), ("HEAD", ()),
                   ("BODY", (),
                    ("DIV", (), "x",
                     ("SPAN", (("CLASS", "illegalstyle"),), ".a{}"), "y")))


def test_style_in_p_hoisted_via_resolve():
    # in P context resolve unambiguously closes P; STYLE ends up in HEAD
    got = lhtml("<body><p>x<style>.a{}</style>y</p></body>")
    assert got == ("HTML", (),
                   ("HEAD", (), ("STYLE", (), ".a{}")),
                   ("BODY", (), ("P", (), "x"), "y"))


def test_truncated_document_closes_stack():
    assert rt("<html><body><div><p>x") == (
        "<HTML><HEAD></HEAD><BODY><DIV><P>x</P></DIV></BODY></HTML>")


def test_netscape_bookmark_dtd():
    # the reference's second catalog DTD (NETSCAPE-Bookmark-file-1)
    from closure_html_spark.parser.pda import sgml_parse
    nb = load_dtd("netscape-bookmark")
    src = ('<!DOCTYPE NETSCAPE-Bookmark-file-1><TITLE>B</TITLE><H1>B</H1>'
           '<DL><DT><H3>Tools</H3><DL>'
           '<DT><A HREF="https://example.org/">Example</A></DL></DL>')
    got = doc_to_lhtml(sgml_parse(nb, src), 1)  # node 1 = BOOKMARK-FILE
    assert got[0] == "BOOKMARK-FILE"
    assert got[2] == ("TITLE", (), "B")
    dl = got[4]
    assert dl[0] == "DL"
    dt = dl[2]
    assert dt[2] == ("H3", (), "Tools")
    inner_a = dt[3][2][2]
    assert inner_a == ("A", (("HREF", "https://example.org/"),), "Example")


def test_multi_dtd_isolation():
    # strict DTD lacks FONT/CENTER; frameset has them; instances are cached
    strict = load_dtd("html-4.0-strict")
    frameset = load_dtd("html-4.0-frameset")
    assert "FONT" not in strict.element_names
    assert "FONT" in frameset.element_names
    assert load_dtd("html-4.0-strict") is strict
