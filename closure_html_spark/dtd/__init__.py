"""Runtime DTD tables.

Loads the compiled dtd.json artifact (produced by tools/dtd_compiler.py
from the HTML-4.0 Frameset DTD chain; the compiler is build tooling and
does not ship) into plain dicts.  One instance per Python
worker process, cached at module level -- functionally equivalent to a
Spark broadcast variable for this small static table, but simpler because
the artifact ships inside the package (--py-files).

Reference semantics: sgml-dtd.lisp element/entity/resolve accessors
(find-element :284-294, elm-inclusion :504-508, resolve :601-602,
elms-eqv :609-614).
"""

from __future__ import annotations

import json

# Elements whose content preserves comment tokens (sgml-parse.lisp:142-144)
PRESERVES_COMMENTS = frozenset({"STYLE", "SCRIPT"})

PCDATA = "#PCDATA"
TOP = "%top"


class Dtd:
    __slots__ = (
        "include", "exclude", "obegin", "oend", "attlist", "entities",
        "roots", "resolve", "eqv", "empty", "surclusion", "element_names",
        "valid_tags", "pda_actions", "tag_cache", "pcdata_cache",
        "entity_memo", "heuristic_rules",
    )

    def __init__(self, data: dict):
        els = data["elements"]
        self.include = {k: frozenset(v["include"]) for k, v in els.items()}
        self.exclude = {k: frozenset(v["exclude"]) for k, v in els.items()}
        self.obegin = {k: v["obegin"] for k, v in els.items()}
        self.oend = {k: v["oend"] for k, v in els.items()}
        # attlist: ordered list of (name, type); type: True | "NUMBER" | "NAME"
        # | "ID" | [enum...]
        self.attlist = {k: [(n, t) for n, t in v["attlist"]] for k, v in els.items()}
        self.entities = data["entities"]
        self.roots = frozenset(data["roots"])
        # resolve: (state, kind, name) -> (kind, name); kind in {S, E}
        self.resolve = {}
        for k, v in data["resolve"].items():
            state, kind, name = k.split("|")
            self.resolve[(state, kind, name)] = (v[0], v[1])
        self.eqv = data["eqv_class"]
        self.surclusion = {k: frozenset(v) for k, v in data["surclusion"].items()}
        self.element_names = frozenset(els.keys())
        # tag-exists? precomputed (NOSCRIPT special-cased out, :959-967)
        self.valid_tags = self.element_names - {"NOSCRIPT"}
        # empty-element-p (sgml-parse.lisp:1108-1109): empty include set
        self.empty = frozenset(k for k, v in self.include.items() if not v)
        # lazily-built fused PDA action tables (pda.py), one (smap, emap,
        # text_leaf) triple per context element; persists for the
        # worker's lifetime
        self.pda_actions = {}
        # raw tag piece ('<' .. '>') -> (normalized token | None, warns
        # tuple) memo used by pda.sgml_parse; size-bounded there, and only
        # pieces whose whole text decides their token are stored
        self.tag_cache = {}
        # raw entity-bearing pcdata gap -> (token, warns tuple) memo
        # (boilerplate gaps like ' &amp; ' repeat across a corpus);
        # size- and entry-length-bounded at the use site (pda.sgml_parse)
        self.pcdata_cache = {}
        # entity reference text ('amp;', '#65;') -> decoded value memo for
        # tokenizer.decode_pcdata_fast; size-bounded there
        self.entity_memo = {}
        # (context, token kind, token name, has lookahead) -> heuristic
        # repair rule (pda._heuristic); bounded by the element set
        self.heuristic_rules = {}

    def inclusion(self, x: str) -> frozenset:
        if x == TOP:
            return self.roots
        return self.include[x]

    def tag_exists(self, name: str) -> bool:
        # tag-exists? (sgml-parse.lisp:959-967): NOSCRIPT special-cased out
        return name != "NOSCRIPT" and name in self.element_names

    def eqv_eq(self, x: str, y: str) -> bool:
        # elms-eqv via precomputed class ids
        cx = self.eqv.get(x)
        cy = self.eqv.get(y)
        return cx is not None and cx == cy


# the levels shortest_path_to expands before it gives up
SHORTEST_PATH_MAX_DEPTH = 10


def shortest_path_to(dtd: Dtd, pathen: list[list[str]],
                     goal: str) -> list[str] | None:
    """Breadth-first containment-chain search (shortest-path-to,
    sgml-parse.lisp:1699-1712): paths grow by prepending each element of
    the head's surclusion (the elements that may contain it) until a path
    head equals `goal`.  Dev tooling in the reference (used by its
    Netscape-comparison scripts); exposed here for DTD exploration.

    Unlike the reference's naive level expansion, visited heads are
    deduplicated (BFS still finds a shortest chain, and the first chain in
    the reference's expansion order wins a head) -- without this, an
    unreachable goal from a well-connected start multiplies by the
    surclusion fan-in each level and explodes combinatorially."""
    visited = {p[0] for p in pathen}
    for _ in range(SHORTEST_PATH_MAX_DEPTH):
        for p in pathen:
            if p[0] == goal:
                return p
        nxt = []
        for p in pathen:
            for s in sorted(dtd.surclusion.get(p[0], ())):
                if s not in visited:
                    visited.add(s)
                    nxt.append([s] + p)
        if not nxt:
            return None
        pathen = nxt
    return None


def shortest_path(dtd: Dtd, start: str, goal: str) -> list[str] | None:
    """Containment chain [goal, ..., start] (each element may directly
    contain the next), or None if no chain exists within
    SHORTEST_PATH_MAX_DEPTH levels."""
    return shortest_path_to(dtd, [[start]], goal)


# name -> artifact; mirrors the reference catalog (html-parser.lisp:34-53).
# HTML-3.0 is absent because the reference itself cannot load it: the file
# pulls an uncataloged IETF PUBLIC entity set and uses SDATA entities the
# reference's DTD grammar (sgml-dtd.lisp:177-252) does not accept.
DTD_CATALOG = {
    "html-4.0-frameset": "dtd.json",          # chtml:parse default
    "html-4.0-strict": "dtd_html40_strict.json",
    "html-4.0-transitional": "dtd_html40_transitional.json",
    "netscape-bookmark": "dtd_netscape_bookmark.json",
}

_DTDS: dict = {}


def load_dtd(name: str = "html-4.0-frameset") -> Dtd:
    """Load a compiled DTD by catalog name (cached per process).  The
    parse entry points take the Dtd as a parameter, mirroring the
    reference's `sgml-parse dtd input` (sgml-parse.lisp:1025)."""
    dtd = _DTDS.get(name)
    if dtd is None:
        # importlib.resources works both from the filesystem and from a
        # --py-files zip (zipimport); a bare Path(__file__) open does not
        from importlib.resources import files
        fname = DTD_CATALOG[name]
        data = files(__package__).joinpath(fname).read_text()
        dtd = Dtd(json.loads(data))
        _DTDS[name] = dtd
    return dtd
