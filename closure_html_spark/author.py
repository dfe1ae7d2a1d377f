"""HTML authoring API: the with-html-output macro family
(unparse.lisp:247-307) as Python context managers.

The reference's authoring layer shares one invariant with its sink: the
start tag of an element is emitted LAZILY, when its first child (element,
text or comment) appears or the element closes -- so `attribute()` calls
inside the `element(...)` block still land on the open tag
(maybe-emit-start-tag, unparse.lisp:272-287).  Output goes through the
same escape tables, boolean-attribute minimization, %URI percent-escaping,
EMPTY-element and script/style raw-text rules as serialize.py, so authored
HTML round-trips byte-stable through the parser.
"""

from __future__ import annotations

from contextlib import contextmanager

from .dtd import Dtd, load_dtd
from .serialize import (
    URI_ATTRS,
    _escape_attribute,
    _escape_datachar_readable,
    _escape_uri,
    doctype_string,
)


class HtmlWriter:
    """String sink + the with-element/attribute/text/comment event API."""

    def __init__(self, dtd: Dtd | None = None, name: str = "HTML",
                 public_id: str | None = None, system_id: str | None = None):
        self._dtd = dtd if dtd is not None else load_dtd()
        self._out: list[str] = []
        # (NAME, [(attr, value), ...]) of the element whose start tag is
        # still pending, else None
        self._pending: tuple[str, list] | None = None
        self._raw_depth = 0  # inside SCRIPT/STYLE: text written raw
        # doctype iff a system-id is given (hax:start-document,
        # unparse.lisp:68-84)
        self._out.append(doctype_string(name, public_id, system_id))

    # -- events --------------------------------------------------------

    def _flush_start_tag(self):
        if self._pending is None:
            return
        name, attrs = self._pending
        self._pending = None
        out = self._out
        attlist = self._dtd.attlist.get(name, ())
        out.append("<")
        out.append(name)
        for aname, avalue in attrs:
            out.append(" ")
            out.append(aname)
            att = next((t for an, t in attlist if an == aname), None)
            if isinstance(att, list) and att and att[0] == aname:
                continue  # boolean minimization
            value = avalue if isinstance(avalue, str) else str(avalue)
            if aname.lower() in URI_ATTRS.get(name.lower(), ()):
                value = _escape_uri(value)
            out.append('="')
            out.append(_escape_attribute(value))
            out.append('"')
        out.append(">")

    @contextmanager
    def element(self, name: str):
        """with-element (unparse.lisp:269-287)."""
        name = name.upper()
        self._flush_start_tag()
        self._pending = (name, [])
        raw = name in ("SCRIPT", "STYLE")
        if raw:
            self._raw_depth += 1
        try:
            yield self
        finally:
            self._flush_start_tag()
            if raw:
                self._raw_depth -= 1
            # only DTD-declared EMPTY elements suppress the end tag; names
            # absent from the DTD entirely still get one (else authored
            # output with unknown elements would be unbalanced)
            include = self._dtd.include.get(name)
            if include or include is None:
                self._out.append(f"</{name}>")

    def attribute(self, name: str, value):
        """attribute (unparse.lisp:293-297); None values are dropped,
        integers stringified (unparse-attribute)."""
        if self._pending is None:
            raise ValueError("attribute() outside an open start tag")
        if value is None:
            return
        self._pending[1].append((name.upper(), value))

    def text(self, data: str):
        self._flush_start_tag()
        self._out.append(data if self._raw_depth
                         else _escape_datachar_readable(data))
        return data

    def comment(self, data: str):
        self._flush_start_tag()
        self._out.append(f"<!--{data}-->")
        return data

    def getvalue(self) -> str:
        return "".join(self._out)


@contextmanager
def with_html_output(name: str = "HTML", public_id: str | None = None,
                     system_id: str | None = None):
    """with-html-output (unparse.lisp:247-262): yields an HtmlWriter over
    the default DTD; read the result with .getvalue() after the block."""
    yield HtmlWriter(None, name, public_id, system_id)
