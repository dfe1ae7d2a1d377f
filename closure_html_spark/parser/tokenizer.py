"""SGML/HTML tokenizer.

A from-scratch, batch-friendly reimplementation of the reference lexer
(/root/reference/src/parse/sgml-parse.lisp:318-748).  The reference reads
one rune at a time from a buffered stream; we operate on a decoded Python
str with a cursor, using str.find/regex scans (C speed) for the hot paths
while preserving the exact token boundaries, pushback semantics and error
behavior of the original:

  - read-pcdata       sgml-parse.lisp:346-377 (text until '<', inline entities)
  - read-entity-ref   :379-487 (numeric/hex/named, optional ';', 16-bit clamp,
                       unknown entities kept as raw text)
  - read-tag          :527-546 (dispatch; bad char after '<' -> literal '<')
  - read-start-tag    :548-567 ('<' ends tag w/ warn; '/>' -> empty tag)
  - read-end-tag      :569-578
  - read-name         :590-601 (upcased, [A-Za-z][A-Za-z0-9.:-]*)
  - sloopy names      :665-692 + char classes :188-213
  - read-literal      :637-663 (quoted value w/ entities; EOF is an error)
  - read-comment      :722-748 ('--' warning, data between <!-- and -->)
  - read-define-tag   :694-720 (<!...> discarded; <!> skipped; <!-- comment)
  - experimental tag  :999-1006 (<?...> slurped to '>')
  - read-tag-error    :279-283 (emit pcdata "##BAD TAG##", cursor stays put)

Tokens (plain tuples for speed):
    ("pcdata", text)          ("start", NAME, atts)   ("end", NAME)
    ("empty", NAME, atts)     ("comment", data)       ("eof",)
atts is a list of either (name, value) pairs (value entity-decoded when
quoted) or bare-name strings; attribute names are NOT upcased here
(normalize.py handles munging, mirroring read-token*).
"""

from __future__ import annotations

import re

_SPECIAL = re.compile(r"[<&]")
_NAME = re.compile(r"[A-Za-z][A-Za-z0-9.:\-]*")
_DIGITS = re.compile(r"[0-9]+")
_HEXDIGITS = re.compile(r"[0-9A-Fa-f]+")
# sloopy-name-rune-p (sgml-parse.lisp:188-209): name chars plus the listed junk
_SLOOPY_NAME = re.compile(r"""[A-Za-z0-9.:\-%/~#_+?!@()'";,\[\]&]+""")
# sloopy-value-rune-p (:211-213): sloopy name chars plus '='
_SLOOPY_VALUE = re.compile(r"""[A-Za-z0-9.:\-%/~#_+?!@()'";,\[\]&=]+""")
_WS_RUN = re.compile(r"[ \t\n\r\x0c]*")

# '&' plus, when it starts one, a well-formed ';'-terminated reference
# (name/decimal/lowercase-hex): the warning-free subset of read-entity-ref
# that the fused parse loop may decode inline.  Optional group, so
# re.split yields None for every other '&'.
_AMP_REF = re.compile(
    r"&([A-Za-z][A-Za-z0-9.:\-]*;|#[0-9]+;|#x[0-9A-Fa-f]+;)?")

BAD_TAG = "##BAD TAG##"


def _ref_value(ref: str | None, entities: dict) -> str | None:
    """Decoded text of one _AMP_REF reference, or None when it is a bare
    '&', an unknown name or a numeric beyond 16 bits."""
    if ref is None:
        return None
    if ref[0] != "#":
        return entities.get(ref[:-1])
    num = int(ref[2:-1], 16) if ref[1] == "x" else int(ref[1:-1])
    return chr(num) if num <= 0xFFFF else None


def decode_pcdata_fast(raw: str, entities: dict, memo: dict) -> str | None:
    """Decode an entity-bearing pcdata gap IFF every '&' is a well-formed,
    ';'-terminated reference to a known entity (or an in-range numeric):
    exactly the cases where read_pcdata/read_entity_ref emit no warning
    and consume the same span.  Returns None on anything unusual -- the
    caller then runs the exact char machine, so warnings, terminator-less
    references, overflow raws and `&#X`-style quirks keep bit-identical
    behavior (differential fuzz pins this).  Entity values are appended
    verbatim, never rescanned, matching read-entity-ref.  `memo` maps
    reference text to its decoded value; the caller owns it per entity
    table, and only valid references are stored (at most 4096)."""
    parts = _AMP_REF.split(raw)
    refs = parts[1::2]
    get = memo.get
    vals = [get(r) for r in refs]
    if None in vals:
        for j, r in enumerate(refs):
            if vals[j] is None:
                v = _ref_value(r, entities)
                if v is None:
                    return None
                vals[j] = v
                if len(memo) < 4096:
                    memo[r] = v
    parts[1::2] = vals
    return "".join(parts)


class _TagError(Exception):
    pass


class Tokenizer:
    """Tokenizes one decoded document. Collects parse warnings as
    (level, message) pairs -- the metrics-counter analog of parse-warn."""

    __slots__ = ("s", "i", "n", "entities", "warnings")

    def __init__(self, text: str, entities: dict[str, str]):
        self.s = text
        self.i = 0
        self.n = len(text)
        self.entities = entities
        self.warnings: list[tuple[int, str]] = []

    def warn(self, level: int, msg: str):
        self.warnings.append((level, msg))

    # ------------------------------------------------------------------
    def tokens(self):
        """Iterate raw tokens until eof (inclusive)."""
        while True:
            tok = self.read_token()
            yield tok
            if tok[0] == "eof":
                return

    def read_token(self):
        if self.i >= self.n:
            return ("eof",)
        if self.s[self.i] == "<":
            self.i += 1
            return self.read_tag()
        return self.read_pcdata()

    # ------------------------------------------------------------------
    def read_pcdata(self):
        s, n = self.s, self.n
        i = self.i
        parts = []
        while True:
            m = _SPECIAL.search(s, i)
            if m is None:
                parts.append(s[i:])
                i = n
                break
            j = m.start()
            parts.append(s[i:j])
            if s[j] == "<":
                i = j
                break
            i = self.read_entity_ref(j + 1, parts)
        self.i = i
        return ("pcdata", "".join(parts))

    def read_entity_ref(self, j: int, parts: list) -> int:
        """'&' already consumed; j points after it. Appends decoded text to
        parts, returns the new cursor. (sgml-parse.lisp:379-487)"""
        s, n = self.s, self.n
        if j >= n:
            self.warn(3, "EOF in entity")
            parts.append("&")
            return j
        ch = s[j]
        if ch == "#":
            if j + 1 >= n:
                self.warn(3, "EOF in entity")
                parts.append("&#")
                return j + 1
            c2 = s[j + 1]
            # ASCII digits only: str.isdigit() is true for Unicode digits
            # (e.g. '²') that _DIGITS would not match, and the reference's
            # digit-rune-p is ASCII-only.
            if "0" <= c2 <= "9":
                m = _DIGITS.match(s, j + 1)
                num = int(m.group(0))
                end = m.end()
                if 0 <= num <= 0xFFFF:
                    if end < n and s[end] == ";":
                        end += 1
                    parts.append(chr(num))
                    return end
                # too large: keep raw text, terminator stays in stream
                self.warn(3, f"Numeric entity {s[j-1:end]} does not fit into "
                             "our 16-bit strings; -- ignored.")
                parts.append(s[j - 1:end])
                return end
            if c2 == "x":
                m = _HEXDIGITS.match(s, j + 2)
                if j + 2 >= n:
                    self.warn(3, "EOF after '&#x'.")
                    parts.append("&#x")
                    return j + 2
                if m is None:
                    self.warn(3, "Bad character after '&#x'.")
                    parts.append("&#x")
                    return j + 2
                num = int(m.group(0), 16)
                end = m.end()
                if 0 <= num <= 0xFFFF:
                    if end < n and s[end] == ";":
                        end += 1
                    parts.append(chr(num))
                    return end
                self.warn(3, f"Numeric entity {s[j-1:end]} does not fit into "
                             "our 16-bit strings; -- ignored.")
                parts.append(s[j - 1:end])
                return end
            self.warn(3, "Bad character after '&#'")
            parts.append("&#")
            return j + 1
        if ch.isalpha() and ch.isascii():
            m = _NAME.match(s, j)
            name = m.group(0)
            end = m.end()
            val = self.entities.get(name)
            if val is not None:
                if end < n and s[end] == ";":
                    end += 1
                parts.append(val)
                return end
            self.warn(3, f"There is no such entity defined: &{name} -- ignored.")
            parts.append("&" + name)
            return end
        self.warn(3, f"Saw character {ch!r} after '&' -- bad entity reference?!")
        parts.append("&")
        return j

    # ------------------------------------------------------------------
    def read_tag(self):
        """'<' already consumed."""
        try:
            s, n = self.s, self.n
            if self.i >= n:
                # EOF right after '<': treat like bad char (reference would
                # error on nil rune; emit literal '<')
                return ("pcdata", "<")
            ch = s[self.i]
            if ch == "/":
                self.i += 1
                return self.read_end_tag()
            if ch == "!":
                self.i += 1
                return self.read_define_tag()
            if ch == "?":
                self.i += 1
                return self.read_experimental_tag()
            if ch.isalpha() and ch.isascii():
                return self.read_start_tag()
            self.warn(3, f"Bad character after '<': {ch!r} -- ignored.")
            return ("pcdata", "<")
        except _TagError:
            return ("pcdata", BAD_TAG)

    def tag_error(self, msg: str):
        self.warn(4, msg)
        raise _TagError

    def read_start_tag(self):
        name, atts = self.read_name_and_attributes()
        s, n = self.s, self.n
        if self.i >= n:
            self.tag_error("EOF inside tag")
        ch = s[self.i]
        if ch == ">":
            self.i += 1
            return ("start", name, atts)
        if ch == "<":
            self.warn(3, "A '<' ended this tag.")
            return ("start", name, atts)
        if ch == "/":
            self.i += 1
            if self.i < n and s[self.i] == ">":
                self.i += 1
                return ("empty", name, atts)
            self.tag_error("Expected '>' after '<' .. '/'")
        self.tag_error("Expected '>'")

    def read_end_tag(self):
        name = self.read_name()
        self.skip_white_space()
        if self.i >= self.n:
            self.tag_error("In end tag: Expected '>' got end-of-file instead.")
        ch = self.s[self.i]
        if ch == ">":
            self.i += 1
            return ("end", name)
        self.tag_error("In end tag: Expected '>'")

    def read_name_and_attributes(self):
        name = self.read_name()
        atts = []
        s, n = self.s, self.n
        while True:
            self.skip_white_space()
            if self.i < n and s[self.i] in "<>/":
                break
            atts.append(self.read_attribute())
        return name, atts

    def read_name(self):
        m = _NAME.match(self.s, self.i)
        if m is None:
            self.tag_error("Not a name")
        self.i = m.end()
        return m.group(0).upper()

    def skip_white_space(self):
        self.i = _WS_RUN.match(self.s, self.i).end()

    def read_attribute(self):
        self.skip_white_space()
        slot = self.read_sloopy_name()
        self.skip_white_space()
        if self.i < self.n and self.s[self.i] == "=":
            self.i += 1
            self.skip_white_space()
            value = self.read_value()
            return (slot, value)
        return slot  # bare attribute

    def read_sloopy_name(self):
        m = _SLOOPY_NAME.match(self.s, self.i)
        if m is None:
            got = self.s[self.i] if self.i < self.n else "EOF"
            self.tag_error(f"Expected sloopy name, got {got!r}")
        self.i = m.end()
        return m.group(0)

    def read_sloopy_value(self):
        m = _SLOOPY_VALUE.match(self.s, self.i)
        if m is None:
            got = self.s[self.i] if self.i < self.n else "EOF"
            self.tag_error(f"Expected sloopy value, got {got!r}")
        self.i = m.end()
        return m.group(0)

    def read_value(self):
        if self.i >= self.n:
            self.tag_error("Bad value EOF seen")
        ch = self.s[self.i]
        if ch == "'" or ch == '"':
            self.i += 1
            return self.read_literal(ch)
        if _SLOOPY_NAME.match(ch):
            return self.read_sloopy_value()
        self.tag_error(f"Bad value {ch!r} seen")

    def read_literal(self, delim: str):
        s, n = self.s, self.n
        i = self.i
        parts = []
        while True:
            if i >= n:
                self.i = i
                self.tag_error("Eof in literal")
            ch = s[i]
            if ch == delim:
                i += 1
                break
            if ch == "&":
                i = self.read_entity_ref(i + 1, parts)
                continue
            # fast path: run until delim or '&'
            j = i
            while j < n and s[j] != delim and s[j] != "&":
                j += 1
            parts.append(s[i:j])
            i = j
        self.i = i
        return "".join(parts)

    # ------------------------------------------------------------------
    def read_define_tag(self):
        """'<!' consumed."""
        s, n = self.s, self.n
        if self.i >= n:
            self.tag_error("unexpected EOF")
        ch = s[self.i]
        if ch == ">":
            # empty define tag -- skip and read next token
            self.i += 1
            return self.read_token()
        if ch == "-":
            self.i += 1
            if self.i < n and s[self.i] == "-":
                return self.read_comment()
            self.tag_error('Expected \'-\' after "<!-"')
        return self.read_define_tag_2()

    def read_define_tag_2(self):
        # slurp until '>' and discard (sgml-parse.lisp:713-720)
        j = self.s.find(">", self.i)
        if j < 0:
            data = self.s[self.i:]
            self.i = self.n
            return ("define", data)
        data = self.s[self.i:j]
        self.i = j + 1
        return ("define", data)

    def read_experimental_tag(self):
        j = self.s.find(">", self.i)
        if j < 0:
            data = self.s[self.i:]
            self.i = self.n
            return ("pi", data)
        data = self.s[self.i:j]
        self.i = j + 1
        return ("pi", data)

    def read_comment(self):
        """Positioned at the second '-' of '<!--'. (sgml-parse.lisp:722-748)"""
        s, n = self.s, self.n
        i = self.i + 1  # consume the '-'
        end = s.find("-->", i)
        if end < 0:
            self.i = n
            self.tag_error("EOF within comment.")
        data = s[i:end]
        if "--" in data:
            self.warn(4, '"--" seen within comment; This is strongly depreciated.')
        self.i = end + 3
        return ("comment", data)


# ---------------------------------------------------------------------------
# Fast path: the fused parse loop (pda.sgml_parse) matches a whole
# well-formed tag piece with ONE compiled regex and falls back to the exact
# char machine above for anything unusual.  The fast
# patterns are deliberately narrower than the grammar (no '&' or quotes in
# names/unquoted values, no '&' inside quoted literals, whitespace between
# attributes) so every fast match produces byte-identical tokens to the
# slow path; non-matches fall through.

# _FWS matches exactly the slow machine's whitespace set (space, tab, LF,
# CR, form feed);
# `\s` would also match Unicode spaces (NBSP,  ...) and make the fast
# path accept tags the slow path rejects as ##BAD TAG##.
_FWS = r"[ \t\n\r\x0c]"
_FAST_END_TAG = re.compile(r"/([A-Za-z][A-Za-z0-9.:\-]*)" + _FWS + r"*>")
# attr: sloopy name (minus & ' " =), optional = value (quoted without &,
# or unquoted sloopy value minus & ' ")
# NOTE: an attribute NAME may not START with '/' -- the reference's attr
# loop breaks when the post-whitespace peek is '/' (read-name-and-attributes
# sgml-parse.lisp:585); '/' mid-name and values starting with '/' are fine.
_FAST_ATTR_SRC = (
    r"""[A-Za-z0-9.:\-%~#_+?!@();,\[\]][A-Za-z0-9.:\-%/~#_+?!@();,\[\]]*"""
    r"""(?:""" + _FWS + r"""*=""" + _FWS + r"""*(?:"[^"&]*"|'[^'&]*'|[A-Za-z0-9.:\-%/~#_+?!@();,\[\]][A-Za-z0-9.:\-%/~#_+?!@();,\[\]=]*))?"""
)
_FAST_START_TAG = re.compile(
    r"([A-Za-z][A-Za-z0-9.:\-]*)"
    r"((?:" + _FWS + r"+" + _FAST_ATTR_SRC + r")*)" + _FWS + r"*(/?)>")
_FAST_ATTR = re.compile(
    _FWS + r"""*([A-Za-z0-9.:\-%~#_+?!@();,\[\]][A-Za-z0-9.:\-%/~#_+?!@();,\[\]]*)"""
    r"""(?:""" + _FWS + r"""*=""" + _FWS + r"""*("[^"&]*"|'[^'&]*'|[A-Za-z0-9.:\-%/~#_+?!@();,\[\]][A-Za-z0-9.:\-%/~#_+?!@();,\[\]=]*))?""")
