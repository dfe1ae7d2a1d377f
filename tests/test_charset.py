"""Charset path: HTTP-header Content-Type parsing (net/mime.lisp:103-170),
header-vs-meta priority (sgml-parse.lisp:1013-1023, 1316-1323), and a
round-trip matrix over the crawl-relevant charsets."""

import pytest

from closure_html_spark.parser.charset import (
    decode_html,
    header_charset,
    parse_mime_content_type,
    sniff_charset,
)


def test_mime_parse_basic():
    assert parse_mime_content_type("text/html") == ("text", "html", [])
    assert parse_mime_content_type("text/html; charset=utf-8") == (
        "text", "html", [("charset", "utf-8")])
    # quoted value with escape (parse-mime/quoted-string :148-161)
    assert parse_mime_content_type('text/html; charset="iso\\-8859-1"') == (
        "text", "html", [("charset", "iso-8859-1")])
    # whitespace tolerance + multiple params
    assert parse_mime_content_type(
        "  text / html ; a=1 ; charset = latin1  ") == (
        "text", "html", [("a", "1"), ("charset", "latin1")])


def test_mime_parse_rejects():
    # the reference returns NIL for anything that does not parse fully
    assert parse_mime_content_type("") is None
    assert parse_mime_content_type("texthtml") is None
    assert parse_mime_content_type("text/") is None
    assert parse_mime_content_type("text/html; charset") is None
    assert parse_mime_content_type("text/html; charset=utf-8 junk") is None
    assert parse_mime_content_type('text/html; q="unterminated') is None


def test_header_charset():
    assert header_charset("text/html; charset=UTF-8") == "utf-8"
    assert header_charset("text/html; Charset=ISO-8859-1") == "iso-8859-1"
    assert header_charset("text/html") is None
    assert header_charset(None) is None
    assert header_charset("garbage") is None


def test_header_seeds_decoder():
    # no meta: header charset decides
    raw = "<html><body><p>ž</p></body></html>".encode("iso-8859-13")
    text, cs = decode_html(raw, content_type="text/html; charset=iso-8859-13")
    assert cs == "iso-8859-13"
    assert "ž" in text


def test_meta_overrides_header():
    # the reference SWITCHES the decoder when <meta> appears, so meta wins
    # over the header start charset (handle-meta-tag-in-parser :1013-1023)
    body = ('<html><head><meta http-equiv="Content-Type" '
            'content="text/html; charset=windows-1251"></head>'
            '<body>мир</body></html>')
    raw = body.encode("cp1251")
    text, cs = decode_html(raw, content_type="text/html; charset=iso-8859-1")
    assert cs == "cp1251"
    assert "мир" in text


def test_unknown_header_charset_falls_back():
    raw = b"<html><body>x</body></html>"
    assert sniff_charset(raw, "utf-8", "text/html; charset=bogus-9") \
        == "utf-8"


# label -> (python codec that must decode it, probe text)
_MATRIX = [
    ("iso-8859-1", "café"),
    ("windows-1251", "привет"),
    ("windows-1252", "naïve"),
    ("windows-1257", "žalias"),
    ("koi8-r", "мир"),
    ("gb2312", "中文"),
    ("gbk", "中文"),
    ("big5", "中文"),
    ("shift_jis", "日本語"),
    ("x-sjis", "日本語"),
    ("euc-jp", "日本語"),
    ("euc-kr", "한국어"),
    ("iso-2022-jp", "日本語"),
    ("tis-620", "ไทย"),
    ("windows-31j", "日本語"),
]


@pytest.mark.parametrize("label,probe", _MATRIX)
def test_charset_matrix_roundtrip(label, probe):
    """Every crawl-relevant charset label must resolve and round-trip a
    probe string through meta-declared bytes."""
    resolved = sniff_charset(b"", default="utf-8",
                             content_type=f"text/html; charset={label}")
    assert resolved != "utf-8" or label.replace("_", "-").startswith("utf"), \
        f"label {label} did not resolve"
    body = (f'<html><head><meta charset={label}></head>'
            f'<body>{probe}</body></html>')
    raw = body.encode(resolved)
    text, cs = decode_html(raw)
    assert probe in text, (label, cs)
