"""HAX-style event walk, LHTML builder and HTML string sink.

Reimplements from scratch:
  - serialize-pt / serialize-pt-attributes  html-parser.lisp:104-151
    (pre-order walk; xmlns/xmlns:* attributes dropped)
  - lhtml-builder                           lhtml.lisp:6-44
  - walk-lhtml / lhtml->pt (LHTML input)    lhtml.lisp:145-171
  - string sink                             unparse.lisp:68-233
      * no doctype unless system-id given (default path: none);
        serialize_doc(system_id=..., public_id=...) emits the
        SYSTEM/PUBLIC doctype forms (unparse.lisp:68-84)
      * boolean attribute minimization when the attlist enum's first member
        equals the attribute name (unparse.lisp:104)
      * EMPTY elements get no end tag (:159-162)
      * %URI attributes percent-escaped for non-ASCII (:118-149)
      * script/style text written raw; other text & attr values escaped with
        the exact tables (:183-217)
"""

from __future__ import annotations

from .dtd import Dtd, PCDATA
from .parser.pda import Doc

# elements whose pcdata children are written unescaped
_RAW = frozenset({"SCRIPT", "STYLE"})

# uri-attribute-p table (unparse.lisp:118-138), lowercase
URI_ATTRS = {
    "a": {"href", "name"},
    "area": {"href"},
    "link": {"href"},
    "img": {"src", "longdesc", "usemap"},
    "object": {"classid", "codebase", "data", "usemap"},
    "q": {"cite"},
    "blockquote": {"cite"},
    "inl": {"cite"},
    "del": {"cite"},
    "form": {"action"},
    "input": {"src", "usemap"},
    "head": {"profile"},
    "base": {"href"},
    "script": {"src"},
}


def _is_xmlns(name: str) -> bool:
    low = name.lower()
    return low == "xmlns" or low.startswith("xmlns:")


def visible_attrs(attrs):
    if not attrs:
        return []
    return [(n, v) for n, v in attrs if not _is_xmlns(n)]


# ---------------------------------------------------------------------------
# LHTML: (NAME, [(ATTR, value), ...], children...) as nested Python tuples


def doc_to_lhtml(doc: Doc, nid: int | None = None):
    """LHTML of nid's subtree, built children-first by a backward scan
    of its id range, so depth is not bounded by Python recursion."""
    if nid is None:
        nid = doc.root
    name, attrs, text = doc.name, doc.attrs, doc.text
    built = {}
    for n in range(doc.end[nid] - 1, nid - 1, -1):
        if name[n] == PCDATA:
            built[n] = text[n]
        else:
            built[n] = ((name[n], tuple(visible_attrs(attrs[n])))
                        + tuple(built.pop(c) for c in doc.children_of(n)))
    return built[nid]


def lhtml_to_doc(node) -> Doc:
    """LHTML literal -> Doc: the INPUT direction of the LHTML surface
    (walk-lhtml / lhtml->pt, lhtml.lisp:145-171), inverse of
    doc_to_lhtml.  Accepts the exact shape doc_to_lhtml renders --
    ("NAME", ((attr, value), ...), *children) with plain strings as text
    nodes (the reference's string branch of walk-lhtml; its attribute
    PLIST becomes our pair tuple).  Lets reference-style LHTML fixtures
    be used as parser INPUT: build the tree, then serialize_doc it.
    Iterative, so literal depth is not bounded by Python recursion."""
    doc = Doc()
    stack = [(node, -1)]
    while stack:
        n, parent = stack.pop()
        if n is None:  # parent's subtree is complete
            doc.end[parent] = len(doc.name)
            continue
        if isinstance(n, str):
            doc.add(PCDATA, None, n, parent)
            continue
        nid = doc.add(n[0], list(n[1]), None, parent)
        stack.append((None, nid))
        for c in reversed(n[2:]):
            stack.append((c, nid))
    doc.root = 0
    return doc


# ---------------------------------------------------------------------------
# String sink


def _escape_datachar(data: str) -> str:
    # unparse-datachar (unparse.lisp:199-208): & < > " TAB LF CR -- the
    # table hax:start-document routes doctype public/system ids through
    if not any(c in data for c in '&<>"\t\n\r'):
        return data
    return (data.replace("&", "&amp;").replace("<", "&lt;")
                .replace(">", "&gt;").replace('"', "&quot;")
                .replace("\t", "&#9;").replace("\n", "&#10;")
                .replace("\r", "&#13;"))


def _escape_datachar_readable(data: str) -> str:
    # unparse-datachar-readable (unparse.lisp:210-217): & < > " CR
    if not any(c in data for c in '&<>"\r'):
        return data
    return (data.replace("&", "&amp;").replace("<", "&lt;")
                .replace(">", "&gt;").replace('"', "&quot;")
                .replace("\r", "&#13;"))


def _escape_attribute(value: str) -> str:
    # unparse-attribute-string (unparse.lisp:183-197): & (unless &{) " LF CR
    out = []
    n = len(value)
    for i, c in enumerate(value):
        if c == "&":
            if i + 1 < n and value[i + 1] == "{":
                out.append(c)
            else:
                out.append("&amp;")
        elif c == '"':
            out.append("&quot;")
        elif c == "\n":
            out.append("&#10;")
        elif c == "\r":
            out.append("&#13;")
        else:
            out.append(c)
    return "".join(out)


def _escape_dtd_string(data: str) -> str:
    # unparse-dtd-string / unparse-dtd-char (unparse.lisp:219-233):
    # % & < > " TAB LF CR.  Defined but never CALLED by the reference
    # (no code path reaches it -- kept here, unwired, for table parity;
    # pinned by tests like canon-value, the reference's other orphan).
    if not any(c in data for c in '%&<>"\t\n\r'):
        return data
    return (data.replace("&", "&amp;").replace("%", "&#37;")
                .replace("<", "&lt;").replace(">", "&gt;")
                .replace('"', "&quot;").replace("\t", "&#9;")
                .replace("\n", "&#10;").replace("\r", "&#13;"))


def doctype_string(name: str, public_id: str | None,
                   system_id: str | None) -> str:
    """hax:start-document's doctype branch (unparse.lisp:68-84): a
    doctype is emitted IFF a non-empty system-id is supplied -- PUBLIC
    form when a public-id is also given, SYSTEM form otherwise; ids are
    escaped with the unparse-datachar table (unparse-string :179) and the
    line ends with a newline, exactly as the sink writes it.  The default
    parse/serialize path passes no system-id and emits nothing."""
    if not system_id:
        return ""
    out = ["<!DOCTYPE ", name]
    if public_id:
        out += [' PUBLIC "', _escape_datachar(public_id),
                '" "', _escape_datachar(system_id), '"']
    else:
        out += [' SYSTEM "', _escape_datachar(system_id), '"']
    out.append(">\n")
    return "".join(out)


def _escape_uri(value: str) -> str:
    # escape-uri-attribute (unparse.lisp:140-149): UTF-8 bytes >= 128 -> %XX
    raw = value.encode("utf-8")
    if all(b < 128 for b in raw):
        return value
    return "".join(chr(b) if b < 128 else f"%{b:02X}" for b in raw)


def serialize_doc(doc: Doc, dtd: Dtd, nid: int | None = None,
                  public_id: str | None = None,
                  system_id: str | None = None,
                  doctype_name: str = "HTML") -> str:
    """Serialize the (sub)tree to an escaped HTML string, reference-identical.
    By default no doctype is emitted (chtml:parse passes no system-id);
    supplying system_id= prepends the hax:start-document doctype line
    (see doctype_string)."""
    if nid is None:
        nid = doc.root
    out: list[str] = []
    if system_id:
        out.append(doctype_string(doctype_name, public_id, system_id))
    name_arr, attrs_arr, text_arr = doc.name, doc.attrs, doc.text
    parent, end = doc.parent, doc.end
    # one pass over the subtree's id range; an element's end tag is due
    # once the scan reaches its end[] (stack bottom: a sentinel end)
    close_at = [end[nid] + 1]
    close_tag = [""]
    for n in range(nid, end[nid]):
        while close_at[-1] <= n:
            close_at.pop()
            out.append(close_tag.pop())
        name = name_arr[n]
        if name == PCDATA:
            data = text_arr[n] or ""
            # script/style text is written raw (unparse.lisp:164-168)
            out.append(data if n != nid and name_arr[parent[n]] in _RAW
                       else _escape_datachar_readable(data))
            continue
        attlist = dtd.attlist.get(name, ())
        out.append("<")
        out.append(name)
        for aname, avalue in visible_attrs(attrs_arr[n]):
            out.append(" ")
            out.append(aname)
            att = next((t for an, t in attlist if an == aname), None)
            # boolean minimization: enum list whose first member == attr name
            if isinstance(att, list) and att and att[0] == aname:
                continue
            out.append('="')
            value = avalue if isinstance(avalue, str) else str(avalue)
            if aname.lower() in URI_ATTRS.get(name.lower(), ()):  # %URI attr
                value = _escape_uri(value)
            out.append(_escape_attribute(value))
            out.append('"')
        out.append(">")
        if dtd.include.get(name):  # EMPTY elements get no end tag
            close_at.append(end[n])
            close_tag.append(f"</{name}>")
    close_tag.reverse()
    out.extend(close_tag)
    return "".join(out)
