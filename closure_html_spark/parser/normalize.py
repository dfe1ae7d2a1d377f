"""Token normalization and attribute munging.

Reimplements read-token* (/root/reference/src/parse/sgml-parse.lisp:921-957)
and mungle-attlist / find-slot-value-pair (:982-997, :898-916).

Normalized token forms consumed by the PDA:
    ("S", NAME, atts)   start tag; pcdata becomes ("S", "#PCDATA", text)
    ("E", NAME)         end tag; eof becomes ("E", "%top")
    ("C", data)         comment

Notes on observed reference behavior (replicated deliberately):
  - Unknown element names are dropped entirely (warn level 4), including the
    NOSCRIPT special case (tag-exists? :959-967).
  - Empty tags <br/> are treated as start tags (:940-949).
  - name="value" attributes keep their value verbatim with the slot name
    upcased -- the DTD is NOT consulted for pairs (mungle-attlist :994-996).
  - Bare attributes are resolved against the DTD enum attlists via
    find-slot-value-pair; with *unmungle-attribute-case* = t (the chtml:parse
    path, html-parser.lisp:63) the resolved enum value is downcased.
    Unresolvable bare attributes are dropped.
"""

from __future__ import annotations

import re

from ..dtd import Dtd


def find_slot_value_pair(dtd: Dtd, tag: str, value: str):
    """First attlist slot whose enum list contains `value` (case-insensitive).
    Returns (slot_name, enum_value) or (None, None)."""
    vu = value.upper()
    for slot, typ in dtd.attlist.get(tag, ()):
        if isinstance(typ, list) and vu in typ:
            return slot, vu
    return None, None


_NAME_OK = re.compile(r"[A-Za-z][A-Za-z0-9.:\-]*\Z")
_INT_OK = re.compile(r"[+-]?[0-9]+\Z")


def canon_value(dtd: Dtd, tag: str, slot: str, value: str, warn=None):
    """Canonicalize an attribute value against its declared type
    (canon-value, sgml-parse.lisp:866-896).  NEVER called on the parse
    path -- the reference defines it and never calls it anywhere (verified
    by grep; mungle-attlist keeps name=value pairs verbatim) -- but it is
    part of the public surface, so it is exposed and tested here.

    enum -> the matching enum member (upcased) or None + warn;
    NUMBER -> int or None + warn; NAME/ID -> upcased name or None + warn;
    other declared slots -> value verbatim; undeclared slot -> None + warn."""
    looked = next((t for n, t in dtd.attlist.get(tag, ()) if n == slot), None)
    w = warn or (lambda level, msg: None)
    if isinstance(looked, list):
        vu = value.upper()
        if vu in looked:
            return vu
        w(3, f"{value!r} is a bad value for the '{slot}' slot of '<{tag}>'.")
        return None
    if looked == "NUMBER":
        if _INT_OK.match(value):
            return int(value)
        w(3, f"{value!r} is not NUMBER (attribute '{slot}' of '<{tag}>').")
        return None
    if looked in ("NAME", "ID"):
        if _NAME_OK.match(value):
            return value.upper()
        w(3, f"{value!r} is not NAME (attribute '{slot}' of '<{tag}>').")
        return None
    if looked is not None:
        return value
    w(3, f"The '<{tag}>' element has no '{slot}' slot.")
    return None


def mungle_attlist(dtd: Dtd, tag: str, atts: list, warn) -> list:
    out = []
    for x in atts:
        if isinstance(x, tuple):
            slot, value = x
            out.append((slot.upper(), value))
        else:
            slot, value = find_slot_value_pair(dtd, tag, x)
            if slot is not None:
                # foofoo -> "VALUE" then rod-downcase (unmungle case on)
                out.append((slot, value.lower()))
            else:
                # find-slot-value-pair fall-through (sgml-parse.lisp:908)
                warn(3, f"The '<{tag}>' tag has no slot which could take "
                        f"the '{x}' keyword.")
    return out


def build_end_hit(dtd: Dtd, m) -> tuple:
    """Memo entry (token | None, warns tuple) for a fast end-tag match."""
    name = m.group(1).upper()
    if name in dtd.valid_tags:
        return (("E", name), ())
    return (None, ((4, f"There is no such thing as </{name}> -- ignored."),))


def build_start_hit(dtd: Dtd, m) -> tuple:
    """Memo entry (token | None, warns tuple) for a fast start-tag match:
    read-token* start/empty handling + single-pass attr parse/mungle."""
    from .tokenizer import _FAST_ATTR
    wlist = []
    if m.group(3):
        # read-token* :empty-tag (sgml-parse.lisp:941)
        wlist.append((2, "Oops -- there is an empty tag; "
                         "but this is only HTML?!"))
    name = m.group(1).upper()
    if name not in dtd.valid_tags:
        wlist.append((4, f"There is no such thing as <{name}> -- ignored."))
        return (None, tuple(wlist))
    raw = m.group(2)
    mungled = []
    if raw:
        # parse + mungle attrs in ONE finditer pass
        al = dtd.attlist.get(name, ())
        for am in _FAST_ATTR.finditer(raw):
            aname, avalue = am.group(1), am.group(2)
            if avalue is not None:
                if avalue[0] in "\"'":
                    avalue = avalue[1:-1]
                mungled.append((aname.upper(), avalue))
            else:
                au = aname.upper()
                for slot, typ in al:
                    if type(typ) is list and au in typ:
                        mungled.append((slot, au.lower()))
                        break
                else:
                    # find-slot-value-pair fall-through (sgml-parse.lisp:908)
                    wlist.append((3, f"The '<{name}>' tag has no slot which "
                                     f"could take the '{aname}' keyword."))
    return (("S", name, mungled), tuple(wlist))
