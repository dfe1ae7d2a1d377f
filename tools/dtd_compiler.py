"""Build-time SGML DTD compiler: the source of the package's DTD tables.

Parses the HTML-4.0 Frameset DTD chain (the same resources closure-html
compiles at load time, src/parse/html-parser.lisp:34-56) into the plain
JSON artifact closure_html_spark/dtd/dtd.json, which ships with the Spark
job.  At runtime the tables are loaded once per executor and used as
in-memory dicts -- the Spark-idiomatic equivalent of a broadcast variable
for small static data.

Semantics reimplemented from scratch after the reference:
  - lexer:           src/parse/sgml-dtd.lisp:85-156
  - grammar:         sgml-dtd.lisp:177-252
  - element/attlist: sgml-dtd.lisp:316-357
  - entity handling: sgml-dtd.lisp:75-83, 359-373
  - resolve info:    sgml-dtd.lisp:543-599 (raux / calculate-resolve-info)
  - surclusion:      sgml-dtd.lisp:531-541
  - eqv classes:     sgml-dtd.lisp:606-625

Build tooling, not part of the package: run once, output committed.

    python tools/dtd_compiler.py RESOURCE_DIR OUT.json

RESOURCE_DIR holds the DTD files under the names CATALOG gives them
(closure-html's resources/dtd).  tests/test_dtd_compiler.py re-derives
every committed artifact's tables and drives this command on a small
chain.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

# Catalog of PUBLIC ids -> files (html-parser.lisp:34-53 / resources/dtd/catalog)
CATALOG = {
    "-//W3O//DTD W3 HTML 3.0//EN": "HTML-3.0",
    "NETSCAPE-Bookmark-file-1": "NETSCAPE-Bookmark-file-1",
    "-//W3C//ENTITIES Special//EN//HTML": "Entities-Special",
    "-//W3C//ENTITIES Symbols//EN//HTML": "Entities-Symbols",
    "-//W3C//ENTITIES Latin1//EN//HTML": "Entities-Latin1",
    "-//W3C//DTD HTML 4.0 Frameset//EN": "DTD-HTML-4.0-Frameset",
    "-//W3C//DTD HTML 4.0//EN": "DTD-HTML-4.0",
    "-//W3C//DTD HTML 4.0 Transitional//EN": "DTD-HTML-4.0-Transitional",
}

KEYWORDS = {
    "ENTITY": "ENTITY", "ATTLIST": "ATTLIST", "ELEMENT": "ELEMENT",
    "SYSTEM": "SYSTEM", "PUBLIC": "PUBLIC", "CDATA": "CDATA",
    "IGNORE": "IGNORE", "INCLUDE": "INCLUDE",
}
HASH_KEYWORDS = {
    "#REQUIRED": "REQUIRED", "#IMPLIED": "IMPLIED",
    "#PCDATA": "PCDATA", "#FIXED": "FIXED",
}

_NAME_RE = re.compile(r"[A-Za-z][A-Za-z0-9._-]*")
_NUM_RE = re.compile(r"[0-9]+")
_WS = " \n\t\f\r"


class Lexer:
    """Tokenizer for the SGML-DTD subset, with %param; entity splicing
    (sgml-dtd.lisp:104-121) and -- comment -- skipping (:100-102)."""

    def __init__(self, text: str, entities: dict[str, str]):
        # stack of (string, pos) frames; param-entity expansion pushes a frame
        self.frames = [[text, 0]]
        self.entities = entities  # parameter entities (shared, mutated by parser)

    def _peek_ch(self):
        while self.frames:
            s, p = self.frames[-1]
            if p < len(s):
                return s[p]
            self.frames.pop()
        return None

    def _advance(self, n=1):
        self.frames[-1][1] += n

    def next_token(self):
        while True:
            ch = self._peek_ch()
            if ch is None:
                return ("EOF", None)
            s, p = self.frames[-1]
            if ch in _WS:
                self._advance()
                continue
            if s.startswith("--", p):
                # comment: skip to matching --
                end = s.find("--", p + 2)
                if end < 0:
                    raise ValueError("unterminated DTD comment")
                self.frames[-1][1] = end + 2
                continue
            if ch == "%":
                m = _NAME_RE.match(s, p + 1)
                if m:
                    name = m.group(0)
                    endp = m.end()
                    if endp < len(s) and s[endp] == ";":
                        endp += 1
                    looked = self.entities.get(name)
                    if looked is None:
                        raise ValueError(f"Parameter entity %{name}; not defined")
                    self.frames[-1][1] = endp
                    self.frames.append([looked, 0])
                    continue
                self._advance()
                return ("CHAR", "%")
            if s.startswith("<!", p):
                self._advance(2)
                return ("OPEN", None)
            if ch == ">":
                self._advance()
                return ("CLOSE", None)
            if ch in "[]":
                self._advance()
                return ("CHAR", ch)
            if ch == "#":
                for lit, tok in HASH_KEYWORDS.items():
                    if s.startswith(lit, p):
                        self._advance(len(lit))
                        return (tok, None)
                raise ValueError(f"bad # token at {s[p:p+20]!r}")
            if s.startswith("+(", p):
                self._advance(1)  # leave the '(' (clex:backup)
                return ("PLUS-PREFIX", None)
            if s.startswith("-(", p):
                self._advance(1)
                return ("MINUS-PREFIX", None)
            m = _NAME_RE.match(s, p)
            if m:
                bag = m.group(0)
                self._advance(len(bag))
                if bag in KEYWORDS:
                    return (KEYWORDS[bag], None)
                return ("NAME", bag)
            m = _NUM_RE.match(s, p)
            if m:
                self._advance(len(m.group(0)))
                return ("NUMBER", int(m.group(0)))
            if ch in "()|+-*?,&":
                self._advance()
                return ("CHAR", ch)
            if ch in "\"'":
                endq = s.find(ch, p + 1)
                if endq < 0:
                    raise ValueError("unterminated string in DTD")
                val = s[p + 1:endq]
                self.frames[-1][1] = endq + 1
                return ("STRING", val)
            raise ValueError(f"unexpected DTD char {ch!r} near {s[p:p+30]!r}")


# ---------------------------------------------------------------------------
# Parser (recursive descent equivalent of the LALR grammar sgml-dtd.lisp:177-252)

class Element:
    __slots__ = ("name", "include", "exclude", "obegin", "oend", "attlist")

    def __init__(self, name):
        self.name = name
        self.include: list[str] = []
        self.exclude: list[str] = []
        self.obegin = False
        self.oend = False
        self.attlist: list[tuple[str, object]] = []  # ordered (name, type)


class DtdBuilder:
    def __init__(self, resource_dir: Path):
        self.resource_dir = resource_dir
        self.param_entities: dict[str, str] = {}
        self.entities: list[tuple[str, str]] = []  # alist, newest first
        self.elements: dict[str, Element] = {}

    # --- resource resolution ------------------------------------------------
    def resource_as_string(self, res):
        kind = res[0]
        if kind == "CDATA":
            return res[1]
        if kind == "PUBLIC":
            name = res[1]
            path = self.resource_dir / CATALOG[name]
            return path.read_text(encoding="latin-1")
        raise ValueError(res)

    # --- entity helpers -----------------------------------------------------
    def add_param_entity(self, name, value):
        # add-entity: first definition wins (sgml-dtd.lisp:78-80)
        self.param_entities.setdefault(name, value)

    def add_general_entity(self, name, value):
        # push onto alist; assoc finds newest (sgml-dtd.lisp:361-366)
        self.entities.insert(0, (name, resolve_entities_in_string(value, self.entities)))

    def find_element(self, name, intern=False):
        el = self.elements.get(name)
        if el is None and intern:
            el = Element(name)
            self.elements[name] = el
        return el

    # --- parse driver -------------------------------------------------------
    def parse_resource(self, public_id):
        text = (self.resource_dir / CATALOG[public_id]).read_text(encoding="latin-1")
        lx = Lexer(text, self.param_entities)
        self._tok = None
        self._lx = lx
        self.parse_definitions()

    def peek(self):
        if self._tok is None:
            self._tok = self._lx.next_token()
        return self._tok

    def take(self, expect=None):
        tok = self.peek()
        self._tok = None
        if expect is not None and tok[0] != expect:
            raise ValueError(f"expected {expect}, got {tok}")
        return tok

    def parse_definitions(self, *, ignored=False):
        while self.peek()[0] == "OPEN":
            self.take()
            self.parse_definition(ignored=ignored)
            self.take("CLOSE")

    def parse_definition(self, *, ignored=False):
        kind, val = self.peek()
        if kind == "CLOSE":
            return  # empty definition
        if kind == "ENTITY":
            self.take()
            k2, v2 = self.peek()
            if k2 == "CHAR" and v2 == "%":
                self.take()
                name = self.take("NAME")[1]
                k3, v3 = self.peek()
                if k3 == "STRING":
                    self.take()
                    if not ignored:
                        self.add_param_entity(name, v3)
                else:
                    res = self.parse_sgml_resource()
                    if not ignored:
                        self.add_param_entity(name, self.resource_as_string(res))
            else:
                name = self.take("NAME")[1]
                res = self.parse_sgml_resource()
                if not ignored:
                    self.add_general_entity(name, self.resource_as_string(res))
        elif kind == "ATTLIST":
            self.take()
            names = production_to_name_list(self.parse_production())
            attlist = self.parse_attlist()
            if not ignored:
                for n in names:
                    self.def_attlist(n, attlist)
        elif kind == "ELEMENT":
            self.take()
            names = production_to_name_list(self.parse_production())
            odef = self.parse_odef()
            cdef = self.parse_odef()
            prod = self.parse_production()
            pm = self.parse_maybe_pm()
            if not ignored:
                for n in names:
                    self.def_element(n, odef, cdef, prod, pm)
        elif kind == "CHAR" and val == "[":
            self.take()
            k2 = self.take()
            if k2[0] == "IGNORE":
                self.take("CHAR")  # [
                self.parse_definitions(ignored=True)
                self.take("CHAR")  # ]
                self.take("CHAR")  # ]
            elif k2[0] == "INCLUDE":
                self.take("CHAR")  # [
                self.parse_definitions(ignored=ignored)
                self.take("CHAR")  # ]
                self.take("CHAR")  # ]
            else:
                raise ValueError(f"bad marked section {k2}")
        else:
            raise ValueError(f"bad definition start {self.peek()}")

    def parse_sgml_resource(self):
        k, _ = self.take()
        if k == "CDATA":
            return ("CDATA", self.take("STRING")[1])
        if k == "PUBLIC":
            name = self.take("STRING")[1]
            if self.peek()[0] == "STRING":
                self.take()
            return ("PUBLIC", name)
        raise ValueError(f"bad sgml resource {k}")

    def parse_odef(self):
        k, v = self.take()
        if k == "CHAR" and v == "-":
            return "-"
        if k == "NAME":
            return v.upper()
        raise ValueError(f"bad odef {k} {v}")

    def parse_maybe_pm(self):
        k, _ = self.peek()
        if k == "PLUS-PREFIX":
            self.take()
            return ("+", self.parse_production())
        if k == "MINUS-PREFIX":
            self.take()
            return ("-", self.parse_production())
        return None

    # production grammar: p1 (| , & with right recursion; * + ? postfix)
    def parse_production(self):
        return self.parse_p1()

    def parse_p1(self):
        a = self.parse_p2()
        if self.peek() == ("CHAR", "|"):
            self.take()
            b = self.parse_p1()
            return as_cons("or", a, b)
        return a

    def parse_p2(self):
        a = self.parse_p3()
        nxt = self.peek()
        if nxt == ("CHAR", ","):
            self.take()
            return as_cons("and", a, self.parse_p2())
        if nxt == ("CHAR", "&"):
            self.take()
            return as_cons("amp", a, self.parse_p2())
        return a

    def parse_p3(self):
        a = self.parse_p4()
        nxt = self.peek()
        if nxt == ("CHAR", "*"):
            self.take()
            return ("*", a)
        if nxt == ("CHAR", "+"):
            self.take()
            return ("+", a)
        if nxt == ("CHAR", "?"):
            self.take()
            return ("?", a)
        return a

    def parse_p4(self):
        k, v = self.peek()
        if k == "CHAR" and v == "(":
            self.take()
            prod = self.parse_production()
            nxt = self.take()
            if nxt != ("CHAR", ")"):
                raise ValueError(f"expected ) got {nxt}")
            return prod
        if k == "NAME":
            self.take()
            return v.upper()  # ident -> interned keyword (upcased)
        if k == "PCDATA":
            self.take()
            return "#PCDATA"
        if k == "CDATA":
            self.take()
            return "CDATA"
        if k == "NUMBER":
            self.take()
            return str(v)
        raise ValueError(f"bad p4 {k} {v}")

    def parse_attlist(self):
        # attliste --> (att-def)*  ; att-def = ident production [#FIXED] value
        out = []
        while self.peek()[0] in ("NAME",):
            name = self.take("NAME")[1].upper()
            prod = self.parse_production()
            k, _ = self.peek()
            if k == "FIXED":
                self.take()
            self.parse_attvalue()
            out.append((name, prod))
        return out

    def parse_attvalue(self):
        k, v = self.take()
        if k in ("IMPLIED", "REQUIRED", "NAME", "STRING", "NUMBER"):
            return v
        raise ValueError(f"bad attribute default {k} {v}")

    # --- processing (sgml-dtd.lisp:316-357) --------------------------------
    def def_element(self, name, odef, cdef, production, additional):
        obegin = canon_optional(odef)
        oend = canon_optional(cdef)
        incl = ["#PCDATA" if x == "CDATA" else x
                for x in production_to_name_list2(production)]
        excl = []
        if additional is not None:
            if additional[0] == "+":
                extra = production_to_name_list2(additional[1])
                incl = incl + [x for x in extra if x not in incl]
            else:
                excl = production_to_name_list2(additional[1])
        el = self.find_element(name, intern=True)
        el.include = [] if incl == ["EMPTY"] else incl
        el.exclude = excl
        el.obegin = obegin
        el.oend = oend

    def def_attlist(self, name, attlist):
        el = self.find_element(name, intern=True)
        el.attlist = [process_attribute(n, p) for n, p in attlist]


def canon_optional(x):
    if x == "-":
        return False
    if x == "O":
        return True
    raise ValueError(f"bad optionality {x}")


def as_cons(op, x, y):
    if isinstance(y, tuple) and y[0] == op:
        return (op, x) + y[1:]
    return (op, x, y)


def production_to_name_list(prod):
    if not isinstance(prod, tuple):
        return [prod]
    if prod[0] == "or":
        out = []
        for p in prod[1:]:
            out.extend(production_to_name_list(p))
        return out
    raise ValueError(f"bogus production {prod}")


def production_to_name_list2(prod):
    if not isinstance(prod, tuple):
        return [prod]
    if prod[0] in ("or", "and", "amp", "+", "*", "?"):
        out = []
        for p in prod[1:]:
            out.extend(production_to_name_list2(p))
        return out
    raise ValueError(f"bogus production {prod}")


def process_attribute(name, type_prod):
    # sgml-dtd.lisp:338-347; True == CDATA passthrough
    tp = production_to_name_list(type_prod)
    if len(tp) == 1 and tp[0] == "CDATA":
        return (name, True)
    if len(tp) == 1 and tp[0] in ("NUMBER", "NAME", "ID"):
        return (name, tp[0])
    return (name, tp)


_NUMERIC_ENT = re.compile(r"&#([0-9]+);?")
_HEX_ENT = re.compile(r"&#x([0-9A-Fa-f]+);?")
_NAMED_ENT = re.compile(r"&([A-Za-z]+);?")


def resolve_entities_in_string(s, entities):
    """Entity resolution for DTD-internal strings (sgml-parse.lisp:817-855).
    The DTD entity files only use numeric refs, so named refs here are simple
    exact-match lookups."""
    def sub(m):
        return chr(int(m.group(1)))

    s = _NUMERIC_ENT.sub(sub, s)
    s = _HEX_ENT.sub(lambda m: chr(int(m.group(1), 16)), s)

    def sub_named(m):
        for k, v in entities:
            if k == m.group(1):
                return v
        return m.group(0)

    return _NAMED_ENT.sub(sub_named, s)


# ---------------------------------------------------------------------------
# Resolve-info computation (sgml-dtd.lisp:543-599)

class CompiledDtd:
    def __init__(self, builder: DtdBuilder):
        self.elements = builder.elements
        # pcdata pseudo-element (sgml-dtd.lisp:270-273)
        pc = Element("#PCDATA")
        self.elements["#PCDATA"] = pc
        self.entities = dict(reversed(builder.entities))  # newest-first alist -> dict
        self.roots = self._root_elements()
        self._surclusion_cache: dict[str, list[str]] = {}
        self.resolve: dict[tuple[str, str, str], tuple[str, str]] = {}

    def _root_elements(self):
        includes = set()
        tags = set()
        for name, el in self.elements.items():
            tags.add(name)
            includes.update(el.include)
        return sorted(tags - includes)

    def inclusion(self, x):
        if x == "%top":
            return self.roots
        return self.elements[x].include

    def oend(self, x):
        if x == "%top":
            return False
        if x == "#PCDATA":
            return True
        return self.elements[x].oend

    def ostart(self, x):
        if x == "%top":
            return False
        return self.elements[x].obegin

    def surclusion(self, e):
        got = self._surclusion_cache.get(e)
        if got is None:
            if e == "HTML":
                got = ["%top"]
            else:
                got = [k for k in self.elements if e in self.elements[k].include]
            self._surclusion_cache[e] = got
        return got

    def legal_in(self, s, kind, name):
        if kind == "S":
            return name in self.inclusion(s)
        return s == name  # end tag

    def raux(self, s, kind, name, yet):
        # sgml-dtd.lisp:551-571; returns list of (kind, name) candidates,
        # [None] meaning "already legal".  Dedup by tag name (pushnew :key).
        if s in yet:
            return []
        if self.legal_in(s, kind, name):
            return [None]
        res = []
        seen_names = set()
        for a in self.inclusion(s):
            if self.ostart(a):
                q = self.raux(a, kind, name, yet + (s,))
                if q:
                    first = q[0]
                    if first is not None and first[0] == "E" and first[1] == a:
                        pass  # quoted warn in reference -> skip silently
                    elif a not in seen_names:
                        seen_names.add(a)
                        res.append(("S", a))
        if self.oend(s):
            for z in self.surclusion(s):
                if self.raux(z, kind, name, yet + (s,)):
                    if s not in seen_names:
                        seen_names.add(s)
                        res.append(("E", s))
                    break
        return res

    def calculate_resolve_info(self):
        all_elms = list(self.elements.keys())
        universe = ["%top"] + all_elms
        for a in universe:
            for b in universe:
                for kind in ("S", "E"):
                    if not self.legal_in(a, kind, b):
                        r = self.raux(a, kind, b, ())
                        if len(r) == 1 and r[0] is not None:
                            self.resolve[(a, kind, b)] = r[0]

    def eqv_classes(self):
        # elms-eqv (sgml-dtd.lisp:609-614): same inclusion + surclusion sets
        sigs = {}
        classes = {}
        next_id = 0
        for k in self.elements:
            sig = (frozenset(self.inclusion(k)), frozenset(self.surclusion(k)))
            if sig not in sigs:
                sigs[sig] = next_id
                next_id += 1
            classes[k] = sigs[sig]
        # %top participates too (heuristic `is` may see it as context);
        # its surclusion is empty (nothing includes %top)
        sig = (frozenset(self.inclusion("%top")), frozenset())
        if sig not in sigs:
            sigs[sig] = next_id
        classes["%top"] = sigs[sig]
        return classes

    def to_json(self):
        eqv = self.eqv_classes()
        elements = {}
        for name, el in self.elements.items():
            elements[name] = {
                "include": el.include,
                "exclude": el.exclude,
                "obegin": el.obegin,
                "oend": el.oend,
                "attlist": [[n, t] for n, t in el.attlist],
            }
        return {
            "elements": elements,
            "entities": self.entities,
            "roots": self.roots,
            "surclusion": {k: self.surclusion(k) for k in self.elements},
            "resolve": {"|".join(k): list(v) for k, v in self.resolve.items()},
            "eqv_class": eqv,
        }


# the DTD that dtd.json is compiled from (chtml:parse's default)
PUBLIC_ID = "-//W3C//DTD HTML 4.0 Frameset//EN"


def compile_dtd(resource_dir: str):
    b = DtdBuilder(Path(resource_dir))
    b.parse_resource(PUBLIC_ID)
    c = CompiledDtd(b)
    c.calculate_resolve_info()
    return c


def main():
    if len(sys.argv) != 3:
        sys.exit("usage: dtd_compiler.py RESOURCE_DIR OUT.json")
    resource_dir, out = sys.argv[1:]
    data = compile_dtd(resource_dir).to_json()
    with open(out, "w") as f:
        json.dump(data, f, separators=(",", ":"), sort_keys=True)
    print(f"elements={len(data['elements'])} entities={len(data['entities'])} "
          f"resolve={len(data['resolve'])} roots={data['roots']}")


if __name__ == "__main__":
    main()
