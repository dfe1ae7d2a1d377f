"""Main-content extraction over the parsed DOM (the north-star stage).

A HAX-style pre-order event walk (the batch analog of serialize-pt,
html-parser.lisp:122-151) over the flat pre-order DOM (pda.Doc: the
subtree of node n is the id range [n, end[n])), scoring text blocks with
text-density / link-density / tag-class heuristics and emitting
main-content spans.  Every walk here is a scan over an id range that
jumps past a skipped subtree by its end[].

Definitions:
  - extracted_text: concatenation of all PCDATA under BODY in document
    order, excluding SCRIPT/STYLE subtrees.  This equals the text content
    of the reference's serialized BODY (the byte-identity invariant).
  - blocks: maximal runs of pcdata assigned to their nearest block-level
    ancestor.  Per block we compute:
        text_len      total chars
        link_len      chars whose nearest A-ancestor lies within the block
        n_tags        element count inside the block
        link_density  link_len / text_len
        score         text_len * (1 - link_density)^2 * tag_weight
  - spans: (start, end, score, keep) character offsets into extracted_text,
    one per block with non-empty text; keep marks main-content spans
    (score >= MIN_SCORE and link_density < MAX_LINK_DENSITY).
  - main_text: concatenation of kept span texts -- the boilerplate-stripped
    content.  The Spark pipeline ships the string this function builds
    (SCALE.md "Output volume"), so the kept text crosses the Arrow
    boundary a second time; rebuilding it JVM-side from (extracted_text,
    spans) would cost a character-indexed substr per span, which is
    quadratic in the document's length.
"""

from __future__ import annotations

from .dtd import Dtd, PCDATA
from .parser.pda import Doc

# block-level elements of the HTML 4.0 DTD that start a new text block
BLOCK_ELEMENTS = frozenset({
    "P", "DIV", "TD", "TH", "LI", "DD", "DT", "BLOCKQUOTE", "PRE",
    "H1", "H2", "H3", "H4", "H5", "H6", "CENTER", "ADDRESS", "CAPTION",
    "FORM", "BODY", "TABLE", "UL", "OL", "DL", "NOFRAMES", "FIELDSET",
})

SKIP_SUBTREES = frozenset({"SCRIPT", "STYLE"})

TAG_WEIGHT = {
    "P": 1.2, "PRE": 1.2, "BLOCKQUOTE": 1.2,
    "DIV": 1.0, "TD": 1.0, "TH": 0.9, "BODY": 1.0,
    "H1": 0.8, "H2": 0.8, "H3": 0.8, "H4": 0.8, "H5": 0.8, "H6": 0.8,
    "LI": 0.7, "DD": 0.7, "DT": 0.7,
    "CENTER": 0.6, "ADDRESS": 0.6, "CAPTION": 0.6,
}
DEFAULT_WEIGHT = 0.5

MIN_SCORE = 10.0
MAX_LINK_DENSITY = 0.4


def find_first(doc: Doc, parent: int, name: str) -> int:
    """flat-find-element (pt.lisp:204-208)."""
    names, end = doc.name, doc.end
    c = parent + 1
    stop = end[parent]
    while c < stop:
        if names[c] == name:
            return c
        c = end[c]
    return -1


def child_text(doc: Doc, n: int) -> str:
    """Concatenated text of n's direct pcdata children."""
    names, text = doc.name, doc.text
    return "".join(text[c] or "" for c in doc.children_of(n)
                   if names[c] == PCDATA)


def title_of(doc: Doc) -> str:
    head = find_first(doc, doc.root, "HEAD")
    if head < 0:
        return ""
    title = find_first(doc, head, "TITLE")
    if title < 0:
        return ""
    return child_text(doc, title)


def extract_main_content(doc: Doc, dtd: Dtd,
                         with_main_text: bool = True) -> dict:
    """Returns {title, extracted_text, main_text, spans} for one Doc.
    spans: list of (start, end, score) into extracted_text.
    with_main_text=False skips assembling the main_text string (it is
    then None): the Arrow pipeline skips it when its caller did not ask
    for both extracted_text and spans."""
    body = find_first(doc, doc.root, "BODY")
    if body < 0:
        body = find_first(doc, doc.root, "FRAMESET")
    if body < 0:
        return {"title": title_of(doc), "extracted_text": "",
                "main_text": "", "spans": []}  # spans: (start,end,score,keep)

    # pre-order scan of BODY's id range carrying (block, in_link); a block
    # element or an A opens a scope that ends at its end[].  Text is
    # accumulated into contiguous per-block SEGMENTS in document order, so
    # spans never overlap even when body text interleaves with child blocks
    parts: list[str] = []
    pos = 0
    segs: list[list] = []  # [block_nid, bname, start, end, text_len, link_len, n_tags]

    name_arr = doc.name
    text_arr = doc.text
    end_arr = doc.end
    block = body
    in_link = False
    scope_end = stop = end_arr[body]
    scopes: list[tuple] = []  # the enclosing (block, in_link, scope_end)
    n = body + 1
    while n < stop:
        while n >= scope_end:
            block, in_link, scope_end = scopes.pop()
        nm = name_arr[n]
        if nm == PCDATA:
            data = text_arr[n]
            n += 1
            if not data:
                continue
            if not segs or segs[-1][0] != block:
                segs.append([block, name_arr[block], pos, pos, 0, 0, 0])
            seg = segs[-1]
            parts.append(data)
            seg[3] = pos + len(data)
            seg[4] += len(data)
            if in_link:
                seg[5] += len(data)
            pos += len(data)
            continue
        if nm in SKIP_SUBTREES:
            n = end_arr[n]
            continue
        if nm in BLOCK_ELEMENTS:
            scopes.append((block, in_link, scope_end))
            block = n
            scope_end = end_arr[n]
        else:
            if segs and segs[-1][0] == block:
                segs[-1][6] += 1
            if nm == "A" and not in_link:
                scopes.append((block, in_link, scope_end))
                in_link = True
                scope_end = end_arr[n]
        n += 1

    extracted = "".join(parts)
    spans = []
    for _, bname, start, end, tlen, llen, ntags in segs:
        if tlen == 0:
            continue
        ld = llen / tlen
        score = tlen * (1.0 - ld) * (1.0 - ld) * TAG_WEIGHT.get(bname, DEFAULT_WEIGHT)
        keep = score >= MIN_SCORE and ld < MAX_LINK_DENSITY
        spans.append((start, end, round(score, 4), keep))

    return {
        "title": title_of(doc),
        "extracted_text": extracted,
        "main_text": ("".join(extracted[a:b] for a, b, _, k in spans if k)
                      if with_main_text else None),
        "spans": spans,
    }


# --- structured extraction: tables + head metadata (round 7) ----------------

def _cell_text(doc: Doc, cell: int) -> str:
    """Concatenated PCDATA under a TD/TH in document order, not descending
    into nested TABLEs (their cells belong to their own table_idx)."""
    names, text, end = doc.name, doc.text, doc.end
    parts = []
    n = cell + 1
    stop = end[cell]
    while n < stop:
        nm = names[n]
        if nm == PCDATA:
            parts.append(text[n] or "")
        elif nm == "TABLE" or nm in SKIP_SUBTREES:
            n = end[n]
            continue
        n += 1
    return "".join(parts)


def tables_of_doc(doc: Doc) -> list:
    """Structured rows from every <table> in the repaired DOM:
    (table_idx, row_idx, col_idx, tag, cell) with table_idx in pre-order
    appearance, rows = TR descendants in document order (THEAD/TBODY/TFOOT
    transparent -- the DTD repair inserts the omissible TBODY, so walking
    through section wrappers is what makes soup and well-formed markup
    yield identical grids), cells = direct TD/TH children per row.  Nested
    tables are separate table_idx entries, never rows of their parent."""
    names, end = doc.name, doc.end
    out = []
    t_idx = 0
    for n in doc.find_all("TABLE"):
        trs = []
        m = n + 1
        stop = end[n]
        while m < stop:
            nm = names[m]
            if nm == "TABLE":      # nested table: its own visit
                m = end[m]
                continue
            if nm == "TR":
                trs.append(m)
            m += 1
        for r, tr in enumerate(trs):
            c = 0
            for ch in doc.children_of(tr):
                if names[ch] in ("TD", "TH"):
                    out.append((t_idx, r, c, names[ch],
                                _cell_text(doc, ch)))
                    c += 1
        t_idx += 1
    return out



def metadata_of_doc(doc: Doc) -> dict:
    """Head metadata a CC-style pipeline keeps per page: title, <meta
    name=description>, <meta property="og:title"> (RDFa -- undeclared in
    the DTD but value-attrs survive mungle-attlist verbatim,
    sgml-parse.lisp:898-917), <link rel=canonical>, and the first <h1>'s
    text.  First occurrence wins; absent -> ''.  NOT exposed: <html lang>
    -- the post-mortem top-level merge synthesizes a bare HTML node
    exactly like the reference's fix-top-level-structure
    (sgml-parse.lisp:1371 make-pt/low with no attrs), so root attrs are
    unrecoverable from the repaired DOM by construction."""
    md = {"title": title_of(doc), "description": "", "og_title": "",
          "canonical": "", "h1": ""}
    root = doc.root
    head = find_first(doc, root, "HEAD")
    if head >= 0:
        for n in range(head, doc.end[head]):
            nm = doc.name[n]
            if nm == "META":
                a = dict(doc.attrs[n] or ())
                if a.get("NAME") == "description" and not md["description"]:
                    md["description"] = a.get("CONTENT", "")
                elif a.get("PROPERTY") == "og:title" and not md["og_title"]:
                    md["og_title"] = a.get("CONTENT", "")
            elif nm == "LINK":
                a = dict(doc.attrs[n] or ())
                if a.get("REL") == "canonical" and not md["canonical"]:
                    md["canonical"] = a.get("HREF", "")
    body = find_first(doc, root, "BODY")
    if body >= 0:
        for n in doc.find_all("H1", body):
            md["h1"] = _cell_text(doc, n)
            break
    return md


def jsonld_of_doc(doc: Doc) -> list:
    """Raw schema.org JSON-LD payloads: the concatenated pcdata of every
    <script type=application/ld+json>, in document order.  The parser
    keeps script bodies as raw pcdata runs (split around stray '<' --
    concatenation restores the original bytes), so the payload comes
    back verbatim; actual JSON parsing happens JVM-side via from_json
    (the UDF-free half of the operator)."""
    out = []
    for n in doc.find_all("SCRIPT"):
        a = dict(doc.attrs[n] or ())
        if a.get("TYPE", "").lower() != "application/ld+json":
            continue
        out.append(child_text(doc, n))
    return out
