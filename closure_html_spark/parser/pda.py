"""DTD-driven PDA parser producing a flat pre-order DOM.

Reimplements the reference parse loop and repair machinery:
  - sgml-parse main loop (2-token lookahead)  sgml-parse.lisp:1025-1106
  - transition rules (priority order)          :1111-1172
  - empty-element-p                            :1108-1109
  - white-space-token-p                        :1180-1183
  - tag-as-marker-p INCLUDING its bug          :1174-1178 (two `and` forms,
    only the last returned; with defaults *font-heuristic-p*=t and
    *anchor-heuristic-p*=nil the predicate is always nil, so FONT flows
    through the normal PDA + heuristic rules).  The HTAG machinery it
    gates -- marker nodes, map-htag-pairs, mungle-font-pair and
    post-mortem/fix-font (:1398-1556, :1665-1690) -- is unreachable in
    the reference and not reproduced
  - heuristic repair rules (exact order)       :1213-1315
  - post-mortem/fix-top-level-structure        :1333-1396

The DOM is a flat pre-order layout (Doc): parallel Python lists
name/attrs/text/parent/end indexed by node id, built append-only inside
the vectorized UDF.  The PDA only ever appends under the open node, so
ids come out in document pre-order; a node's end (one past its last
descendant) is recorded when it closes, and its subtree is the id range
[n, end[n]).  No node owns a container, so a parse leaves nothing for the
cyclic collector to walk.  The post-mortem keeps the order.

One engine ships: sgml_parse's fused loop, which cuts the text into tag
and text pieces with one C-side regex split per window, resolves tag
pieces by a whole-piece per-DTD memo and runs the exact char machine
only on pieces no fast form takes.  The differential tests pin it
against _sgml_parse_ref in tests/references.py, the direct transcription
of the reference loop over the char machine.
"""

from __future__ import annotations

import re

from ..dtd import PCDATA, PRESERVES_COMMENTS, TOP, Dtd
from .normalize import (
    build_end_hit,
    build_start_hit,
    mungle_attlist,
)
from .tokenizer import (
    _FAST_END_TAG,
    _FAST_START_TAG,
    Tokenizer,
    decode_pcdata_fast,
)

_DONE = object()       # production sentinel: input exhausted
_EOF_TOK = ("E", TOP)  # read-token* :eof (sgml-parse.lisp:956-957)
_LT_TOK = ("S", PCDATA, "<")  # read-tag's literal '<' (bad char after '<')

# The fused loop's piece split: every '<' starts a tag piece that runs to
# the first '>' (inclusive) or stops before the next '<' / EOF; the text
# between tag pieces is one text piece.  A split from any '<' onward does
# not depend on what precedes it, so windows cut just before a '<' give
# the same pieces as one split of the whole document.
_PIECE = re.compile(r"<[^<>]*>?|[^<]+")
# characters per piece window (the next window starts at the first '<'
# at or after this many characters): bounds the split's memory
_WINDOW = 1 << 16
_DASH_WARN = ((4, '"--" seen within comment; This is strongly depreciated.'),)


class Doc:
    """Flat pre-order DOM for one document.

    Node ids are positions in parallel lists, assigned in document
    pre-order, so the subtree of node n is the id range [n, end[n]) and
    its children are n + 1, end[n + 1], end[end[n + 1]], ... up to end[n].
    No per-node container exists: a node is one entry in each of name,
    attrs, text, parent and end."""

    __slots__ = ("name", "attrs", "text", "parent", "end", "root",
                 "warnings")

    def __init__(self):
        self.name: list[str] = []
        self.attrs: list = []       # list[(name, value)] or None
        self.text: list = []        # str for pcdata nodes, else None
        self.parent: list[int] = []
        self.end: list[int] = []    # one past the node's last descendant
        self.root = 0
        self.warnings: list[tuple[int, str]] = []

    def add(self, name, attrs, text, parent) -> int:
        """Append a node with an empty subtree as the last child of
        `parent`.  Pre-order holds only if `parent` is still open; the
        caller closes it by setting end[parent] = len(name)."""
        nid = len(self.name)
        self.name.append(name)
        self.attrs.append(attrs)
        self.text.append(text)
        self.parent.append(parent)
        self.end.append(nid + 1)
        return nid

    def children_of(self, nid: int) -> list[int]:
        """Child ids of nid in document order."""
        end = self.end
        out = []
        c = nid + 1
        stop = end[nid]
        while c < stop:
            out.append(c)
            c = end[c]
        return out

    def find_all(self, name: str, nid: int | None = None):
        """Ids of the `name` nodes in nid's subtree (default: the tree),
        in document order; list.index does the scan."""
        if nid is None:
            nid = self.root
        find = self.name.index
        stop = self.end[nid]
        while True:
            try:
                nid = find(name, nid, stop)
            except ValueError:
                return
            yield nid
            nid += 1

    def walk(self, nid=None):
        """Pre-order iterator of (node_id, depth) over nid's subtree."""
        if nid is None:
            nid = self.root
        end = self.end
        ends: list[int] = []   # ends of the open ancestors
        for n in range(nid, end[nid]):
            while ends and n >= ends[-1]:
                ends.pop()
            yield n, len(ends)
            ends.append(end[n])


def _etag(name):
    return ("E", name)


def _stag(name, atts=None):
    return ("S", name, atts if atts is not None else [])


_MAX_STEPS_SLACK = 10000


# ---------------------------------------------------------------------------
# Fused action tables: one dict hit replaces the transition's chain of
# include/empty/resolve lookups (sgml-parse.lisp:1111-1172, same priority
# order, precomputed per context).  Action encodings:
#   ("P",)        legal #PCDATA           -> text leaf
#   ("L",)        legal empty element     -> element leaf
#   ("O",)        legal container element -> open (push)
#   ("X",)        end tag matching ctx    -> close (pop)
#   ("R", tok)    resolve hit             -> insert synthesized tok, retry
#   ("W", fb)     illegal #PCDATA         -> ignore iff all-whitespace,
#                                            else fall back to fb (R or H)
#   ("H",)        no rule                 -> heuristic repair
_ACT_H = ("H",)
_ACT_O = ("O",)
_ACT_L = ("L",)
_ACT_P = ("P",)
_ACT_X = ("X",)


def _build_ctx_actions(dtd: Dtd, ctx: str):
    """(smap, emap, text_leaf) for one context element: the start and end
    action maps, covering every token name, and whether #PCDATA is a
    legal leaf here (so a text piece can be appended without a token)."""
    inc = dtd.roots if ctx == TOP else dtd.include[ctx]
    empty = dtd.empty
    resolve = dtd.resolve
    names = set(dtd.element_names)
    names.add(PCDATA)
    smap = {}
    emap = {}
    for nm in names:
        if nm in inc:
            if nm == PCDATA:
                smap[nm] = _ACT_P
            elif nm in empty:
                smap[nm] = _ACT_L
            else:
                smap[nm] = _ACT_O
        else:
            x = resolve.get((ctx, "S", nm))
            act = (("R", _stag(x[1]) if x[0] == "S" else _etag(x[1]))
                   if x is not None else _ACT_H)
            smap[nm] = ("W", act) if nm == PCDATA else act
    names.add(TOP)
    for nm in names:
        if nm == ctx:
            emap[nm] = _ACT_X
        else:
            x = resolve.get((ctx, "E", nm))
            emap[nm] = (("R", _stag(x[1]) if x[0] == "S" else _etag(x[1]))
                        if x is not None else _ACT_H)
    return smap, emap, smap[PCDATA] is _ACT_P


_EMPTY_MAP: dict = {}


def _piece_hit(dtd: Dtd, p: str):
    """Memo entry (token | None, warns tuple) for a tag piece whose whole
    text decides its token, or None when the exact char machine must read
    it.  Every accepted form ends in the piece's only '>', so the char
    machine would consume exactly the piece and look no further."""
    c = p[1:2]
    if c == "/":
        m = _FAST_END_TAG.fullmatch(p, 1)
        return None if m is None else build_end_hit(dtd, m)
    if c == "!":
        if p[-1] != ">":
            return None
        if p[2] != "-":
            # read-define-tag: '<!...>' is discarded, '<!>' skipped
            return (None, ())
        if len(p) >= 7 and p.startswith("<!--") and p.endswith("-->"):
            # read-comment: the first '-->' after '<!--' ends at the
            # first '>', which is the piece's last character
            data = p[4:-3]
            return (("C", data), _DASH_WARN if "--" in data else ())
        return None
    m = _FAST_START_TAG.fullmatch(p, 1)
    return None if m is None else build_start_hit(dtd, m)


def _slow_token(dtd: Dtd, tk: Tokenizer, i: int):
    """One raw token via the exact char machine at i, normalized (read-
    token*).  Returns (token | None when dropped, new cursor)."""
    tk.i = i
    tok = tk.read_token()
    i = tk.i
    k0 = tok[0]
    if k0 == "pcdata":
        return ("S", PCDATA, tok[1]), i
    if k0 == "comment":
        return ("C", tok[1]), i
    warn = tk.warn
    if k0 == "start" or k0 == "empty":
        if k0 == "empty":
            warn(2, "Oops -- there is an empty tag; but this is only HTML?!")
        nm = tok[1]
        if nm in dtd.valid_tags:
            return ("S", nm, mungle_attlist(dtd, nm, tok[2], warn)), i
        warn(4, f"There is no such thing as <{nm}> -- ignored.")
    elif k0 == "end":
        nm = tok[1]
        if nm in dtd.valid_tags:
            return ("E", nm), i
        warn(4, f"There is no such thing as </{nm}> -- ignored.")
    elif k0 == "pi":
        warn(2, f"Ignoreing processing instruction tag: '{tok[1]}'")
    # define tags dropped; "eof" only after a final '<!>' (read-define-tag
    # skips it and reads on), where the caller then sees i == n
    return None, i


def sgml_parse(dtd: Dtd, text: str) -> Doc:
    """Parse decoded text into a Doc rooted at a synthetic top node.

    This is the fused engine: tokenize + normalize + PDA in one loop over
    a C-side piece split (_PIECE).  Tag pieces are one whole-piece memo hit
    (dtd.tag_cache), text pieces become #PCDATA directly, and anything
    else runs the exact char machine from the piece's offset until the
    cursor is back on a piece boundary.  The differential fuzz and golden
    piece-boundary cases pin it serialization- and warning-identical to
    the reference loop, _sgml_parse_ref in tests/references.py."""
    tk = Tokenizer(text, dtd.entities)
    src = text
    n = len(src)
    find = src.find
    split = _PIECE.findall
    window = _WINDOW
    cache = dtd.tag_cache
    cache_get = cache.get
    pcache = dtd.pcdata_cache
    pcache_get = pcache.get
    entities = dtd.entities
    ememo = dtd.entity_memo
    warn = tk.warn
    warns_extend = tk.warnings.extend
    eof_sent = False
    # Cursor state.  `i` is the next unread character; `pos` is the offset
    # of pieces[k], the next piece boundary.  i == pos: the next token
    # starts at a piece.  i < pos: the char machine stopped inside a piece
    # and reads on from i.
    i = pos = 0
    pieces: list = []
    k = npieces = 0

    doc = Doc()
    root = doc.add("%root", None, None, -1)
    s = root

    d_name = doc.name
    d_attrs = doc.attrs
    d_text = doc.text
    d_parent = doc.parent
    # a leaf's end is its id + 1; an open node's end is set when it closes
    d_end = doc.end

    stack = [_stag(TOP)]   # open-element tokens (heuristic context)
    # parent-context action maps, restored on close without a dict lookup;
    # the sentinel pair plays the empty-stack role
    mstack = [(_EMPTY_MAP, _EMPTY_MAP, False)]
    pending: list = []     # LIFO of synthesized / pushed-back tokens
    held = None            # heuristic token waiting for its lookahead
    actions = dtd.pda_actions
    pair = actions.get(TOP)
    if pair is None:
        pair = actions[TOP] = _build_ctx_actions(dtd, TOP)
    smap, emap, text_leaf = pair
    nn = 1  # next node id (root is 0)

    # Consuming transitions are bounded by the input; only the inserting
    # ones (resolve / heuristic) can loop, so only they pay the budget.
    budget = 10 * n + _MAX_STEPS_SLACK

    while True:
        # ---- next token (fused tokenizer) --------------------------------
        if pending:
            see = pending.pop()
        else:
            see = None
            while see is None:
                if i == pos:
                    if k == npieces:
                        if i >= n:
                            if eof_sent:
                                see = _DONE
                                break
                            eof_sent = True
                            see = _EOF_TOK
                            break
                        w = find("<", i + window)
                        pieces = split(src, i, n if w < 0 else w)
                        npieces = len(pieces)
                        k = 0
                    p = pieces[k]
                    k += 1
                    pos = i + len(p)
                    if p[0] != "<":
                        if "&" not in p:
                            i = pos
                            if text_leaf and held is None:
                                # the "P" action below, without a token
                                d_name.append(PCDATA)
                                d_attrs.append(None)
                                d_text.append(p)
                                d_parent.append(s)
                                nn += 1
                                d_end.append(nn)
                                continue
                            see = ("S", PCDATA, p)
                            continue
                        # entity-bearing gap (read-pcdata stops only at
                        # '<'); short gaps repeat across a corpus
                        # (' &amp; ', '&nbsp;' runs), so memoize decoded
                        # token + warns per raw gap
                        hit = pcache_get(p)
                        if hit is not None:
                            see, ws = hit
                            if ws:
                                warns_extend(ws)
                        else:
                            # inline decode of the warning-free common
                            # forms; the exact char machine handles the
                            # rest (unknown names, no ';', overflow, EOF)
                            dec = decode_pcdata_fast(p, entities, ememo)
                            if dec is not None:
                                see = ("S", PCDATA, dec)
                                if len(p) <= 256 and len(pcache) < 16384:
                                    pcache[p] = (see, ())
                            else:
                                w0 = len(tk.warnings)
                                tk.i = i
                                see = ("S", PCDATA, tk.read_pcdata()[1])
                                # gaps ending in an INCOMPLETE reference
                                # ('&', '&#', '&#x') warn differently at
                                # EOF vs before '<' (read-entity-ref's EOF
                                # branches), so their decode is not a pure
                                # function of the raw gap -- never memoize
                                if (len(p) <= 256 and len(pcache) < 16384
                                        and p[-1] != "&"
                                        and not p.endswith("&#")
                                        and not p.endswith("&#x")):
                                    pcache[p] = (
                                        see, tuple(tk.warnings[w0:]))
                        i = pos
                        continue
                    hit = cache_get(p)
                    if hit is None:
                        hit = _piece_hit(dtd, p)
                        if hit is not None and len(cache) < 65536:
                            cache[p] = hit
                    if hit is not None:
                        see, ws = hit
                        if ws:
                            warns_extend(ws)
                        i = pos
                        continue
                    if len(p) > 1:
                        c = p[1]
                        if c not in "/!?" and not (c.isalpha()
                                                   and c.isascii()):
                            # read-tag: bad char after '<' -> literal '<'
                            warn(3, f"Bad character after '<': {c!r} "
                                    "-- ignored.")
                            see = _LT_TOK
                            if p[-1] != ">" and "&" not in p:
                                # the piece ends at the next '<' or EOF,
                                # so read-pcdata would return its rest
                                # verbatim: queue it behind the '<'
                                pending.append(("S", PCDATA, p[1:]))
                                i = pos
                            else:  # the char machine reads on from i
                                i += 1
                            continue
                # Exact char machine: a piece no fast form takes, or the
                # rest of a piece it stopped inside.  Then walk the piece
                # boundaries up to its cursor; past the window, resume at
                # the next '<' (always a boundary) and let the char
                # machine read up to it.
                see, i = _slow_token(dtd, tk, i)
                while pos < i:
                    if k < npieces:
                        pos += len(pieces[k])
                        k += 1
                    else:
                        pos = find("<", i)
                        if pos < 0:
                            pos = n
                        pieces = ()
                        k = npieces = 0
            if held is not None:
                # the heuristic's lookahead token has arrived
                ein = [held] if see is _DONE else [held, see]
                held = None
                pending.extend(reversed(_heuristic(dtd, tk, stack[-1], ein)))
                continue
            if see is _DONE:
                break
        kind = see[0]
        if kind == "S":
            act = smap.get(see[1])
        elif kind == "E":
            act = emap.get(see[1])
        else:  # comment
            if stack and stack[-1][1] in PRESERVES_COMMENTS:
                d_name.append(PCDATA)
                d_attrs.append(None)
                d_text.append(see[1])
                d_parent.append(s)
                nn += 1
                d_end.append(nn)
            continue
        if act is None:
            # only possible with an empty stack (maps swapped to _EMPTY_MAP)
            tk.warn(5, f"Oops empty stack in TRANSITION on {see!r}.")
            break
        a = act[0]
        if a == "P":  # pcdata leaf
            d_name.append(PCDATA)
            d_attrs.append(None)
            d_text.append(see[2])
            d_parent.append(s)
            nn += 1
            d_end.append(nn)
            continue
        if a == "O":  # open container
            d_name.append(see[1])
            d_attrs.append(see[2])
            d_text.append(None)
            d_parent.append(s)
            d_end.append(0)
            stack.append(see)
            mstack.append(pair)
            pair = actions.get(see[1])
            if pair is None:
                pair = actions[see[1]] = _build_ctx_actions(dtd, see[1])
            smap, emap, text_leaf = pair
            s = nn
            nn += 1
            continue
        if a == "X":  # close
            stack.pop()
            d_end[s] = nn
            s = d_parent[s]
            pair = mstack.pop()
            smap, emap, text_leaf = pair
            continue
        if a == "L":  # empty element leaf
            d_name.append(see[1])
            d_attrs.append(see[2])
            d_text.append(None)
            d_parent.append(s)
            nn += 1
            d_end.append(nn)
            continue
        if a == "R":  # resolve: insert synthesized token before see
            budget -= 1
            if budget < 0:
                tk.warn(5, "parser step budget exceeded -- document truncated")
                break
            pending.append(see)
            pending.append(act[1])
            continue
        if a == "W":  # illegal pcdata: ignorable whitespace (:1157-1161)
            if see[2].strip(" \t\n\r\x0c") == "":
                continue
            fb = act[1]
            if fb[0] == "R":
                budget -= 1
                if budget < 0:
                    tk.warn(5,
                            "parser step budget exceeded -- document truncated")
                    break
                pending.append(see)
                pending.append(fb[1])
                continue
            # fall through to heuristic
        # ---- heuristic repair (rare) -------------------------------------
        budget -= 1
        if budget < 0:
            tk.warn(5, "parser step budget exceeded -- document truncated")
            break
        if pending:
            ein = [see, pending.pop()]
            pending.extend(reversed(_heuristic(dtd, tk, stack[-1], ein)))
        else:
            held = see  # repaired once the next token is pulled

    while s >= 0:  # nodes still open at EOF or on a break
        d_end[s] = nn
        s = d_parent[s]
    doc.warnings = tk.warnings
    doc.root = root
    return doc


# heuristic repair outcomes (_heuristic_rule)
_H_DROP, _H_CLOSE, _H_REOPEN, _H_STYLE, _H_LI, _H_TR, _H_SWAP = range(7)


def _heuristic_rule(dtd: Dtd, ctx_name: str, kind: str, name: str,
                    has_next: bool) -> int:
    """Which inline repair rule (sgml-parse.lisp:1213-1315, exact order)
    fires for token (kind, name) in context ctx_name."""
    eqv = dtd.eqv_eq

    def is_(tag: str) -> bool:
        # `is` in the reference: context matches `state` via elms-eqv and
        # the token matches `tag` via elms-eqv; "/NAME" means end tag.
        if tag.startswith("/"):
            return kind == "E" and eqv(name, tag[1:])
        return kind == "S" and eqv(name, tag)

    def in_(state: str) -> bool:
        return eqv(state, ctx_name)

    if "HTML" in dtd.roots:
        if kind == "E" and name == TOP:
            return _H_CLOSE
        if kind == "S" and name == "STYLE":
            return _H_STYLE
        if in_("H1") and is_("CENTER"):
            return _H_REOPEN
        if in_("FONT") and (is_("CENTER") or is_("P")):
            return _H_REOPEN
        if in_("I") and is_("HR"):
            return _H_REOPEN
        if eqv(ctx_name, "FONT"):
            return _H_CLOSE
        if in_("CENTER") and is_("TR"):
            return _H_CLOSE
        if in_("H1") and is_("/H2"):
            return _H_CLOSE
        if in_("H1") and is_("UL"):
            return _H_CLOSE
        if in_("H3") and is_("/CENTER"):
            return _H_CLOSE
        if in_("DIV") and is_("/TD"):
            return _H_CLOSE
        if in_("UL") and (is_("P") or is_("A") or is_("IMG") or is_(PCDATA)):
            return _H_LI
        if in_("TABLE") and is_("TD"):
            return _H_TR
        if in_("TABLE") and is_(PCDATA):
            return _H_REOPEN
        if in_("NOSCRIPT") and is_("FRAMESET"):
            return _H_CLOSE
        if in_("TABLE") and is_("FORM"):
            return _H_REOPEN
        # INTENTIONAL DEVIATION from sgml-parse.lisp:1290-1294: the
        # reference swaps the first two queue items unconditionally --
        # `(list* (cadr eingabe) (car eingabe) (cddr eingabe))` -- so a
        # 1-token queue splices NIL into the token stream (its own comment
        # concedes "we should better check here wether FORM is open at
        # all").  With only the /FORM queued there is nothing to swap
        # behind; we fall through to the default drop (warn level 4)
        # instead of enqueueing a bogus token.  Pinned both ways by
        # tests/test_parser_golden.py::test_form_in_tbody_queue_depth.
        if in_("TBODY") and is_("/FORM") and has_next:
            return _H_SWAP
        if (in_("LI") or in_("UL")) and (is_("TD") or is_("/TD")):
            return _H_CLOSE
    return _H_DROP


def _heuristic(dtd: Dtd, tk: Tokenizer, context, ein: list) -> list:
    """Inline repair rules (sgml-parse.lisp:1213-1315), exact order.  The
    rule depends only on the context name, the token's kind and name and
    whether a lookahead token is queued, so it is memoized per DTD."""
    see = ein[0]
    ctx_name = context[1]
    key = (ctx_name, see[0], see[1], len(ein) >= 2)
    rule = dtd.heuristic_rules.get(key)
    if rule is None:
        rule = dtd.heuristic_rules[key] = _heuristic_rule(dtd, *key)
    if rule == _H_DROP:
        # default: drop the offending token (document-action :1199-1211)
        tk.warn(4, f"[-] Saw {see[:2]!r} in {ctx_name} -- nuked.")
        return ein[1:]
    if rule == _H_CLOSE:
        return [_etag(ctx_name)] + ein
    if rule == _H_REOPEN:
        return [_etag(ctx_name), see, context] + ein[1:]
    if rule == _H_STYLE:
        return [_stag("SPAN", [("CLASS", "illegalstyle")])] + ein[1:]
    if rule == _H_LI:
        return [_stag("LI")] + ein
    if rule == _H_TR:
        return [_stag("TR")] + ein
    return [ein[1], ein[0]] + ein[2:]  # _H_SWAP


# ---------------------------------------------------------------------------
# Post-mortem top-level fixup (sgml-parse.lisp:1333-1396)

def post_mortem_fix_top_level(doc: Doc) -> int:
    """Merge multiple HTML/HEAD/BODY into the canonical
    HTML(HEAD(...), BODY(...)|FRAMESET(...)) shape.  Returns new root id.

    The reference builds a fresh HTML and HEAD (and BODY when there is
    none) and moves the old children under them; the replaced nodes stay
    in the arrays, detached, so len(doc.name) counts them.  The common
    shape -- one HTML holding at most one HEAD and then one BODY or
    FRAMESET -- is already in the target pre-order, so its nodes are
    rewritten in place; any other shape is renumbered once."""
    name, parent, end = doc.name, doc.parent, doc.end
    r = doc.root
    n = len(name)
    if n > r + 1 and name[r + 1] == "HTML" and end[r + 1] == end[r] == n:
        # one HTML: in place, the new HTML and HEAD take the ids of the
        # old HTML and HEAD, or of the old root and HTML when there is no
        # HEAD; x is the HEAD's next sibling, or n when there is none
        x = r + 2
        if x < n and name[x] == "HEAD":
            html = r + 1
            x = end[x]
        else:
            html = r
        if x == n or (end[x] == n and name[x] in ("BODY", "FRAMESET")):
            head = html + 1
            if x == n:  # the new BODY goes last, after the HEAD's subtree
                doc.add("BODY", None, None, html)
            else:
                parent[x] = html
            for k in (html, head):  # keep the replaced nodes, detached
                doc.add(name[k], doc.attrs[k], doc.text[k], -1)
                name[k] = "HTML" if k == html else "HEAD"
                doc.attrs[k] = None
                doc.text[k] = None
            parent[html] = -1
            end[html] = len(name) - 2
            parent[head] = html
            if html == r:
                end[head] = head + 1
            doc.root = html
            return html

    tops = doc.children_of(r)
    head_elts: list[int] = []
    body_elts: list[int] = []
    frameset_elts: list[int] = []
    body = -1
    frameset = -1
    if len(tops) > 1:
        doc.warnings.append((4, "Multiple HTML elements in document."))
    for k in tops:
        if name[k] != "HTML":
            continue  # grammar guarantees HTML here; tolerate otherwise
        for kk in doc.children_of(k):
            nm = name[kk]
            if nm == "HEAD":
                if head_elts:
                    doc.warnings.append((4, "Multiple HEAD elements."))
                head_elts.extend(doc.children_of(kk))
            elif nm == "BODY":
                body = kk
                if body_elts:
                    doc.warnings.append((4, "Multiple BODY elements."))
                body_elts.extend(doc.children_of(kk))
            elif nm == "FRAMESET":
                frameset = kk
                frameset_elts.extend(doc.children_of(kk))
    if frameset >= 0 and body >= 0:
        doc.warnings.append(
            (4, "Body present while FRAMSET is present -- nuked!"))
    _relayout(doc, frameset if frameset >= 0 else body,
              frameset_elts if frameset >= 0 else body_elts, head_elts)
    return doc.root


def _relayout(doc: Doc, x: int, x_elts: list[int],
              head_elts: list[int]):
    """Renumber doc into HTML(HEAD(head_elts), X(x_elts)), in pre-order,
    where X is the existing node x (BODY or FRAMESET) or, when x < 0, a
    new BODY.  Every node left out of the tree follows it, detached."""
    name, attrs, text, parent, end = (doc.name, doc.attrs, doc.text,
                                      doc.parent, doc.end)
    out = Doc()
    o_name, o_attrs, o_text, o_parent, o_end = (
        out.name, out.attrs, out.text, out.parent, out.end)
    placed = bytearray(len(name))

    def move(elts, under):
        for e in elts:
            stop = end[e]
            off = len(o_name) - e
            o_name.extend(name[e:stop])
            o_attrs.extend(attrs[e:stop])
            o_text.extend(text[e:stop])
            o_parent.append(under)
            o_parent.extend([p + off for p in parent[e + 1:stop]])
            o_end.extend([k + off for k in end[e:stop]])
            placed[e:stop] = b"\1" * (stop - e)
        o_end[under] = len(o_name)

    html = out.add("HTML", None, None, -1)
    head = out.add("HEAD", None, None, html)
    move(head_elts, head)
    if x >= 0:
        placed[x] = 1
        xid = out.add(name[x], attrs[x], text[x], html)
        move(x_elts, xid)
    else:
        out.add("BODY", None, None, html)
    o_end[html] = len(o_name)
    for k in range(len(name)):
        if not placed[k]:
            out.add(name[k], attrs[k], text[k], -1)
    doc.name, doc.attrs, doc.text, doc.parent, doc.end = (
        o_name, o_attrs, o_text, o_parent, o_end)
    doc.root = html


def check_saneness(doc: Doc, dtd: Dtd) -> list[str]:
    """Runnable port of check-saneness (sgml-parse.lisp:1630-1638): walk the
    tree and report (a) children not allowed by the parent's DTD inclusion
    set, (b) broken parent/child linkage.  (The HTAG check is moot: the
    HTAG machinery is unreachable, see module docstring.)  Returns the list
    of complaint strings -- empty on a sane tree."""
    out = []
    name = doc.name
    parent = doc.parent
    end = doc.end
    for nid in range(doc.root, end[doc.root]):
        gi = name[nid]
        inc = dtd.roots if gi == TOP else dtd.include.get(gi)
        for k in doc.children_of(nid):
            if inc is not None and name[k] not in inc and name[k] != PCDATA:
                out.append(f"Unallowed {name[k]} element within {gi}.")
            if parent[k] != nid or end[k] > end[nid]:
                out.append("Parent/child linkage broken.")
    return out


def parse_html(dtd: Dtd, text: str) -> Doc:
    """Full parse: PDA + post-mortem (post-mortem-heuristic order,
    sgml-parse.lisp:1326-1331).  Only fix-top-level runs: the
    tag-as-marker-p bug makes the reference's fix-font unreachable, so
    FONT goes through the PDA like any other element."""
    doc = sgml_parse(dtd, text)
    post_mortem_fix_top_level(doc)
    return doc
