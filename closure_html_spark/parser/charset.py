"""Charset sniffing and two-phase decode.

The reference initializes the stream decoder from the caller-supplied
charset -- in a crawl, the HTTP Content-Type header (parse-html,
sgml-parse.lisp:1316-1323; parse-mime-content-type, net/mime.lisp:103-170)
-- then SWITCHES the decoder mid-parse when it sees
<meta http-equiv="Content-Type" content="...; charset=X">
(handle-meta-tag-in-parser, sgml-parse.lisp:1013-1023).  So when both are
present the meta declaration wins from the point it appears.  The
batch-correct equivalent is a two-phase decode: sniff BOM + meta charset
on the raw byte prefix, fall back to the header charset, then decode the
whole document ONCE with the winning charset.  For documents whose
pre-<meta> prefix is ASCII (in practice: all), this is byte-identical to
the reference's mid-stream switch.
"""

from __future__ import annotations

import codecs
import re

# scan window for the <meta> charset declaration
SNIFF_LIMIT = 4096

_META_CHARSET = re.compile(
    rb"""<meta[^>]{0,500}?charset\s*=\s*['"]?\s*([A-Za-z0-9._:\-]+)""",
    re.IGNORECASE | re.DOTALL,
)

# charset labels seen in real crawls that Python's codec registry does not
# resolve by that exact name; everything Python already knows (gb2312, gbk,
# big5, koi8-r, euc-kr, iso-2022-jp, windows-125x, tis-620, ...) resolves
# through codecs.lookup without an entry here
_ALIASES = {
    "iso-8859-1": "latin-1",
    "windows-1257": "cp1257",
    "windows-1251": "cp1251",
    "windows-1252": "cp1252",
    "shift_jis": "shift_jis",
    "x-sjis": "shift_jis",
    "shift-jis": "shift_jis",
    "windows-31j": "cp932",
    "x-euc-jp": "euc_jp",
    "euc-jp": "euc_jp",
    "x-gbk": "gbk",
    "gb_2312-80": "gb2312",
    "iso-latin-1": "latin-1",
    "macintosh": "mac_roman",
    "x-mac-roman": "mac_roman",
    "ks_c_5601-1987": "euc_kr",
    "unicode-1-1-utf-8": "utf-8",
}

_MIME_TOKEN_CHARS = frozenset(
    "!#$%&'*+-.0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "^_`abcdefghijklmnopqrstuvwxyz{|}~")
_MIME_WS = " \t\n\r\x0c"


def _mime_token(s: str, p: int):
    """(new_pos, token) or None.  (parse-mime/token, mime.lisp:120-129)"""
    n = len(s)
    while p < n and s[p] in _MIME_WS:
        p += 1
    if p >= n or s[p] not in _MIME_TOKEN_CHARS:
        return None
    q = p + 1
    while q < n and s[q] in _MIME_TOKEN_CHARS:
        q += 1
    return q, s[p:q]


def _mime_special(ch: str, s: str, p: int):
    n = len(s)
    while p < n and s[p] in _MIME_WS:
        p += 1
    if p < n and s[p] == ch:
        return p + 1
    return None


def _mime_quoted(s: str, p: int):
    """(new_pos, value) or None.  (parse-mime/quoted-string :148-161)"""
    n = len(s)
    while p < n and s[p] in _MIME_WS:
        p += 1
    if p >= n or s[p] != '"':
        return None
    res = []
    i = p + 1
    while i < n and s[i] != '"':
        if s[i] == "\\" and i + 1 < n:
            res.append(s[i + 1])
            i += 2
        else:
            res.append(s[i])
            i += 1
    if i >= n:
        return None
    return i + 1, "".join(res)


def parse_mime_content_type(s: str):
    """Parse a Content-Type field per the reference grammar
    (parse-mime-content-type, net/mime.lisp:103-170).

    Returns (type, subtype, params) with params a list of (attr, value)
    pairs, or None if the string does not parse."""
    r = _mime_token(s, 0)
    if r is None:
        return None
    p, typ = r
    p = _mime_special("/", s, p)
    if p is None:
        return None
    r = _mime_token(s, p)
    if r is None:
        return None
    p, subtyp = r
    params = []
    while True:
        q = _mime_special(";", s, p)
        if q is None:
            break
        r = _mime_token(s, q)
        if r is None:
            return None
        p, attr = r
        p2 = _mime_special("=", s, p)
        if p2 is None:
            return None
        r = _mime_token(s, p2) or _mime_quoted(s, p2)
        if r is None:
            return None
        p, value = r
        params.append((attr, value))
    if s[p:].strip(_MIME_WS):
        return None  # trailing junk: not a Content-Type field
    return typ, subtyp, params


def header_charset(content_type: str | None) -> str | None:
    """charset parameter from an HTTP Content-Type header value, or None."""
    if not content_type:
        return None
    parsed = parse_mime_content_type(content_type)
    if parsed is None:
        return None
    for attr, value in parsed[2]:
        if attr.lower() == "charset":
            return value.lower()
    return None


def _resolve(name: str, default: str) -> str:
    name = _ALIASES.get(name, name)
    try:
        codecs.lookup(name)
        return name
    except LookupError:
        return default  # "There is no such encoding" warn path (:1607-1612)


def sniff_charset(raw: bytes, default: str, content_type: str | None) -> str:
    """BOM first, then <meta> charset within the first SNIFF_LIMIT bytes
    (the mid-stream decoder switch wins over the header start charset,
    sgml-parse.lisp:1013-1023), then the HTTP header charset, then default."""
    if raw.startswith(b"\xef\xbb\xbf"):
        return "utf-8-sig"
    if raw.startswith(b"\xff\xfe"):
        return "utf-16-le"
    if raw.startswith(b"\xfe\xff"):
        return "utf-16-be"
    hdr = header_charset(content_type)
    fallback = _resolve(hdr, default) if hdr else default
    m = _META_CHARSET.search(raw[:SNIFF_LIMIT])
    if m:
        name = m.group(1).decode("ascii", "replace").lower()
        return _resolve(name, fallback)
    return fallback


def decode_html(raw: bytes, default: str = "utf-8",
                content_type: str | None = None) -> tuple[str, str]:
    """Returns (text, charset_used). Decode errors are replaced, never raised
    (a 10^12-doc corpus always contains garbage)."""
    cs = sniff_charset(raw, default, content_type)
    try:
        return raw.decode(cs, errors="replace"), cs
    except (LookupError, ValueError):
        return raw.decode("latin-1", errors="replace"), "latin-1"
