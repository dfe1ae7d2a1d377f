"""WARC (ISO 28500) record parsing -- the Common-Crawl ingest format.

The north-star input is "an Iceberg table of Common-Crawl-style pages";
upstream of that table sits the WARC archive itself.  This module parses
the format for real: version line, named WARC headers, Content-Length-
delimited blocks, and for response records the embedded HTTP/1.1 message
(status line, headers, body) -- including the Content-Type charset
parameter, which feeds the extract stage's existing `content_type`
decoder seeding (parser/charset.py; a <meta> charset still overrides it,
mirroring the reference's mid-stream decoder switch).

Scope: uncompressed records (the per-record gzip members of a .warc.gz
are a file-ingest concern: Spark's binaryFile source + zlib member
splitting; the record grammar below is identical either way).  Chunked
transfer-encoding bodies are de-chunked; truncated records yield an
error marker, never an exception.
"""

from __future__ import annotations

import re

_CRLF2 = re.compile(rb"\r?\n\r?\n")
# no ^ anchor: used with .match(body, pos), and ^ only matches at the
# true string start, which would stop de-chunking after the first chunk
_CHUNK_RE = re.compile(rb"([0-9A-Fa-f]+)[^\r\n]*\r?\n")


def _parse_headers(block: bytes) -> dict[str, str]:
    """Header block (after the first line) -> {lower-name: value}."""
    out: dict[str, str] = {}
    for line in block.split(b"\n"):
        line = line.rstrip(b"\r")
        if b":" in line:
            k, v = line.split(b":", 1)
            out[k.strip().lower().decode("latin-1")] = \
                v.strip().decode("latin-1")
    return out


def _dechunk(body: bytes) -> bytes:
    out = bytearray()
    i = 0
    while True:
        m = _CHUNK_RE.match(body, i)
        if not m:
            break
        size = int(m.group(1), 16)
        if size == 0:
            break
        start = m.end()
        out += body[start:start + size]
        i = start + size
        if i >= len(body):  # the last chunk, or one cut short
            break
        # skip the chunk-terminating CRLF
        if body[i:i + 2] == b"\r\n":
            i += 2
        elif body[i:i + 1] == b"\n":
            i += 1
    return bytes(out)


def parse_warc_record(record: bytes) -> dict:
    """One WARC record -> {warc_type, url, warc_date, content_type,
    http_status, html, error}.  For response records `html` is the HTTP
    body bytes and `content_type` the HTTP Content-Type header (charset
    parameter intact); for other record types html is None."""
    nul = {"warc_type": None, "url": None, "warc_date": None,
           "content_type": None, "http_status": None, "html": None}
    if not record.startswith(b"WARC/"):
        return {**nul, "error": "not-warc"}
    m = _CRLF2.search(record)
    if not m:
        return {**nul, "error": "truncated-headers"}
    head = record[:m.start()]
    body = record[m.end():]
    first_nl = head.find(b"\n")
    headers = _parse_headers(head[first_nl + 1:] if first_nl >= 0 else b"")
    wtype = headers.get("warc-type")
    url = headers.get("warc-target-uri")
    date = headers.get("warc-date")
    try:
        clen = int(headers.get("content-length", ""))
        body = body[:clen]
    except ValueError:
        pass  # no/broken length: body runs to end of the record slice
    out = {**nul, "warc_type": wtype, "url": url, "warc_date": date,
           "error": None}
    is_http = "application/http" in headers.get("content-type", "")
    if wtype == "conversion":
        # WET-style conversion record (ISO 28500 §6.8): no HTTP wrapper,
        # the body IS the converted payload and the WARC-header
        # Content-Type describes it (text/plain for WET)
        return {**out, "content_type": headers.get("content-type"),
                "html": body}
    if wtype != "response" or not is_http:
        return out
    hm = _CRLF2.search(body)
    if not hm:
        return {**out, "error": "truncated-http"}
    http_head = body[:hm.start()]
    html = body[hm.end():]
    status_line = http_head.split(b"\n", 1)[0].rstrip(b"\r")
    parts = status_line.split()
    status = None
    # a status code is three digits (RFC 9110 §15); a longer run would
    # overflow the stages' int column, or past 4,300 digits raise in int()
    if len(parts) >= 2 and len(parts[1]) == 3 and parts[1].isdigit():
        status = int(parts[1])
    hh = _parse_headers(http_head[len(status_line):])
    if hh.get("transfer-encoding", "").lower() == "chunked":
        html = _dechunk(html)
    return {**out, "http_status": status,
            "content_type": hh.get("content-type"), "html": html}
