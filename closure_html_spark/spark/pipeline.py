"""The extraction pipeline: pages -> (url, extracted_text, spans, ...).

Spark shape (SURVEY.md §3.1 "Spark version"): a single narrow stage per
document family -- scan -> iterator-style mapInArrow (Arrow-batched, no
per-row Python marshalling at the row level; the parser itself is the
per-document state machine) -> result columns.  Every Python stage of the
package, here and in pdfs, warcs, winnow, multimodal and relational (the
numpy embedding kernels included), is one doc_stage: the stage computes
one column per result -- a Python list or a numpy vector -- and
doc_stage makes each an Arrow array of the type its output DDL declares.
Every parse stage runs its per-document work through one loop,
_parsed_docs, which applies the byte cap, the charset seeding and the
never-kill-the-batch error handling.  No shuffle is introduced by
extraction itself; repartitioning for skew is the caller's choice (see
lineage.py).

DTD tables are loaded once per Python process from the packaged dtd.json
(module-level cache in closure_html_spark.dtd) -- the broadcast-variable
equivalent for static build artifacts shipped via --py-files.  Under
get_spark that process is the executor's worker daemon (daemon.py), which
loads them before it forks any worker.
"""

from __future__ import annotations

import gc

from pyspark.sql import DataFrame

from ..dtd import load_dtd
from ..extract import extract_main_content
from ..parser.charset import decode_html
from ..parser.pda import parse_html, sgml_parse
from ..serialize import serialize_doc

# result columns in declaration order; a `columns=` subset of these keys
# lets metadata-only consumers skip building AND transferring the text
# payload (the dominant stage cost -- SCALE.md frontier #1)
RESULT_COL_DDL = {
    "title": "string",
    "extracted_text": "string",
    "spans": "array<struct<start:int,end:int,score:double,keep:boolean>>",
    "links": "array<string>",
    "anchors": "array<string>",
    "n_nodes": "int",
    "n_warns": "int",
    "warn_levels": "array<int>",
    "charset": "string",
    "main_text": "string",
}

# links/anchors need their own scan of the whole DOM (the span scorer's
# scan covers BODY only), so only consumers that ask for them pay for it
_DEFAULT_COLS = tuple(k for k in RESULT_COL_DDL
                      if k not in ("links", "anchors"))


def _doc_links(doc, want_anchors: bool) -> tuple[list[str], list[str]]:
    """The outlink feed (HREF values of <A> nodes in document order) and
    the anchor text of each link (concatenated pcdata of the A subtree --
    the classic inbound-anchor relevance signal).  anchors[i] belongs to
    links[i]; an A whose subtree has no pcdata yields ''.

    A subtree is an id range of the flat pre-order DOM, so this is a
    C-side list.index scan of `name` for A nodes plus one join of the
    text slice [a + 1, end[a]) per anchor.  An A nested in an A (the PDA
    lets soup like '<a href=x>..<a href=y>' nest) keeps the pairing: the
    outer anchor's text includes the inner one's.  Anchor text is only
    joined when the caller asked for it."""
    out = []
    anchors = []
    attrs = doc.attrs
    text = doc.text
    end = doc.end
    for n in doc.find_all("A"):
        for k, v in (attrs[n] or ()):
            if k == "HREF" and v is not None:
                out.append(v)
                if want_anchors:
                    anchors.append("".join(filter(None, text[n + 1:end[n]])))
                break
    return out, anchors


# every parse stage's per-document byte cap (_parsed_docs): the deployment
# memory bound SCALE.md's worker-sizing rule is written in.  The stages'
# worker closures ship the driver's value.
MAX_DOC_BYTES = 64 * 1024 * 1024  # 64 MiB

# extract_pages' values for a document whose processing raised
_ERROR_ROW = {"title": "", "extracted_text": "", "spans": (), "links": (),
              "anchors": (), "n_nodes": 0, "n_warns": -1,
              "warn_levels": (0, 0, 0, 0, 0), "main_text": ""}


def doc_stage(df: DataFrame, id_cols: tuple[str, ...], in_cols: list[str],
              result_ddl: str, columns_of) -> DataFrame:
    """The one Python stage: `id_cols` of `df` (in input order) ahead of
    the `result_ddl` columns, computed by one mapInArrow over the id
    columns and `in_cols` (a column in both is selected once).

    `columns_of(batch)` returns (take, columns): one column per result
    -- a Python list, a numpy vector or a prebuilt Arrow array -- and
    take None when the stage yields one row per input row, or else each
    output row's input-row index (a list or a numpy vector).  The id
    columns pass through zero-copy, or are gathered C++-side by take.
    Each column becomes an Arrow array of the type the DDL declares, so
    nested field names match the schema Spark expects.  The Arrow schema
    is resolved on the driver (it needs the JVM DDL parser) and
    captured."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    missing = [c for c in id_cols if c not in df.columns]
    if missing:
        raise ValueError(f"id columns not in the input: {missing}")
    ids = [name for name in df.columns if name in id_cols]
    ddl = ", ".join([f"{n} {t}" for n, t in df.dtypes if n in id_cols]
                    + [result_ddl])
    arrow_schema = to_arrow_schema(StructType.fromDDL(ddl))
    # a name twice in one batch breaks the JVM's Arrow reader
    clash = sorted(set(ids) & set(arrow_schema.names[len(ids):]))
    if clash:
        raise ValueError(f"id columns named like result columns: {clash}")
    types = arrow_schema.types[len(ids):]

    def fn(batches):
        for batch in batches:
            take, columns = columns_of(batch)
            if take is None:
                id_arrays = [batch.column(c) for c in ids]
            else:
                take = pa.array(take, pa.int32())
                id_arrays = [batch.column(c).take(take) for c in ids]
            yield pa.RecordBatch.from_arrays(
                id_arrays + [pa.array(c, t) for c, t in zip(columns, types)],
                schema=arrow_schema)

    return df.select(*dict.fromkeys(ids + list(in_cols))).mapInArrow(fn, ddl)


def _parsed_docs(batch, work, max_doc_bytes: int):
    """The per-document loop of every parse stage: yields exactly one
    (idx, result, charset) per row of the Arrow `batch`, in order, where
    result is `work(text)` on the row's decoded `html`.

    bytes(), the byte cap, decode_html and `work` run inside one try, so
    one bad document never kills the batch: on an exception result is
    None and charset is 'error:<Type>'.  A document past `max_doc_bytes`
    is decoded and worked from its prefix and marked 'error:oversize'.
    If the batch has a `content_type` column, its charset parameter seeds
    the decoder (a <meta> charset still overrides it, charset.py)."""
    # with worker reuse, PySpark's daemon runs a full gc.collect() after
    # every task (pyspark/daemon.py:244).  The worker daemon (daemon.py)
    # froze the imports before the fork; this freezes what the worker has
    # built since, such as the DTD's bounded tag and pcdata caches, so
    # that collection walks only what the last batch left.  Parsing makes
    # no cyclic garbage, and a frozen object is still freed when its
    # refcount drops to zero.
    gc.freeze()
    htmls = batch.column("html").to_pylist()
    cts = (batch.column("content_type").to_pylist()
           if "content_type" in batch.schema.names else None)
    for idx, raw in enumerate(htmls):
        try:
            raw_b = bytes(raw)
            oversize = len(raw_b) > max_doc_bytes
            if oversize:
                raw_b = raw_b[:max_doc_bytes]
            text, cs = decode_html(
                raw_b, content_type=cts[idx] if cts is not None else None)
            result = work(text)
        except Exception as exc:  # never kill the batch for one doc
            yield idx, None, f"error:{type(exc).__name__}"
            continue
        yield idx, result, "error:oversize" if oversize else cs


def extract_pages(df: DataFrame, id_cols: tuple[str, ...] = ("url",),
                  columns: tuple[str, ...] | None = None) -> DataFrame:
    """Parse + extract every page.  Keeps `id_cols` as passthrough keys.

    One doc_stage: strings go Python->Arrow once, and id columns pass
    through zero-copy from the input batch.

    MAX_DOC_BYTES is the per-document byte cap (64 MiB), as in every
    parse stage.  The session's Arrow batch caps bound the BATCH, but one
    pathological page -- a 500 MB binary mislabeled text/html -- is still
    one row inside it, and parse output (node arrays, spans, serialized
    text) is proportional to input, so a single such row can blow a
    worker's memory at 10^12-document scale.  Oversize pages are truncated to the
    cap and parsed normally (the reference's own buffered xstream reads
    never require whole-document lookahead), with the row marked
    charset='error:oversize' and one level-5 parse warning counted --
    monitoring queries see exactly how many docs were clipped.  A page
    whose processing raises yields one row with charset='error:<Type>',
    n_warns=-1 and empty payloads.

    If the input has a `content_type` column (WARC-style HTTP header), its
    charset parameter seeds the decoder; a <meta> charset still overrides
    it, mirroring the reference's mid-stream decoder switch (charset.py).

    columns: optional subset of RESULT_COL_DDL keys -- the metadata-now /
    text-lazily split.  Column pruning cannot reach inside a Python map
    stage, so a monitoring query selecting only warn_levels would still
    pay the full text build + Arrow transfer; passing
    columns=("warn_levels",) skips building the text payload entirely
    (and skips the span scorer when no text column is requested).
    main_text is the concatenated kept spans; an error row's main_text
    is ''.
    columns=None builds _DEFAULT_COLS, which EXCLUDES links/anchors: they
    need a second scan of the whole DOM, so only consumers that name them
    pay it."""
    if columns is None:
        wanted = _DEFAULT_COLS
    else:
        unknown = set(columns) - set(RESULT_COL_DDL)
        if unknown:
            raise ValueError(f"unknown result columns: {sorted(unknown)}")
        wanted = tuple(k for k in RESULT_COL_DDL if k in columns)
    # the span scorer only runs when some text-derived column is requested
    need_extract = bool(
        {"title", "extracted_text", "spans", "main_text"} & set(wanted))
    need_anchors = "anchors" in wanted
    need_links = bool({"links", "anchors"} & set(wanted))
    # built here, not from (extracted_text, spans) on the JVM: Spark's
    # substr is character-indexed and walks the UTF-8 string from its
    # start on every call, so a per-span fold there is quadratic
    need_main = "main_text" in wanted

    def columns_of(batch):
        dtd = load_dtd()

        def work(text):
            doc = parse_html(dtd, text)
            # parse-warn levels 1-5 (sgml-parse.lisp:285-292) as per-doc
            # counters -> aggregable corpus metrics
            lv = [0, 0, 0, 0, 0]
            for level, _ in doc.warnings:
                if 1 <= level <= 5:
                    lv[level - 1] += 1
            row = {"n_nodes": len(doc.name), "n_warns": len(doc.warnings),
                   "warn_levels": lv}
            if need_extract:
                row.update(extract_main_content(doc, dtd,
                                                with_main_text=need_main))
            if need_links:
                row["links"], row["anchors"] = _doc_links(doc, need_anchors)
            return row

        rows = []
        for _, row, cs in _parsed_docs(batch, work, MAX_DOC_BYTES):
            row = row or dict(_ERROR_ROW)
            if cs == "error:oversize":
                row["warn_levels"][4] += 1
                row["n_warns"] += 1
            row["charset"] = cs
            rows.append(row)
        return None, [[row[k] for row in rows] for k in wanted]

    in_cols = ["html"] + (["content_type"] if "content_type" in df.columns
                          else [])
    return doc_stage(df, id_cols, in_cols,
                     ", ".join(f"{k} {RESULT_COL_DDL[k]}" for k in wanted),
                     columns_of)


def serialize_pages(df: DataFrame,
                    id_cols: tuple[str, ...] = ("url",)) -> DataFrame:
    """Parse + re-serialize every page to canonical escaped HTML
    (the reference's clean-html round trip, doc/examples.xml:60-77).
    html_out is the largest string column in the system (~1x input), so
    it goes Python->Arrow exactly once; ids zero-copy.  A document whose
    processing raises yields html_out=''."""
    def columns_of(batch):
        dtd = load_dtd()

        def work(text):
            return serialize_doc(parse_html(dtd, text), dtd)

        return None, [[out if out is not None else "" for _, out, _
                       in _parsed_docs(batch, work, MAX_DOC_BYTES)]]

    return doc_stage(df, id_cols, ["html"], "html_out string", columns_of)


def nodes_of(df: DataFrame,
             id_cols: tuple[str, ...] = ("url",)) -> DataFrame:
    """Exploded `nodes` table: one row per DOM node -- the relational query
    surface over parsed documents (SURVEY.md §2.8 / FIXTURES.md §2).

    The per-node columns are list slices of the flat DOM and the id
    columns are replicated by doc_stage's take; a 50 KB page explodes to
    ~10^3 nodes, so nothing here builds a per-node Python object but the
    attrs dict.  A document whose processing raises contributes zero
    rows."""
    def columns_of(batch):
        dtd = load_dtd()

        def work(text):
            return parse_html(dtd, text)

        take, node_id, parent_id, depth_c = [], [], [], []
        name_c, attrs_c, text_c = [], [], []
        for idx, doc, _ in _parsed_docs(batch, work, MAX_DOC_BYTES):
            if doc is None:
                continue
            # the tree is the id range [root, end[root]), already in
            # pre-order: ids and parents are offsets from the root, and a
            # parent's depth is known before its children's
            root = doc.root
            stop = doc.end[root]
            pids = [-1]
            pids.extend([p - root for p in doc.parent[root + 1:stop]])
            depth = [0]
            for p in pids[1:]:
                depth.append(depth[p] + 1)
            take.extend([idx] * len(pids))
            node_id.extend(range(len(pids)))
            parent_id.extend(pids)
            depth_c.extend(depth)
            name_c.extend(doc.name[root:stop])
            # dict() dedups repeated attr names (last wins) -- Spark's
            # map-key uniqueness requirement.  An empty map is the empty
            # tuple: no allocation, and Arrow converts it faster than {}
            attrs_c.extend([dict(a) if a else ()
                            for a in doc.attrs[root:stop]])
            text_c.extend(doc.text[root:stop])
        return take, [node_id, parent_id, depth_c, name_c, attrs_c, text_c]

    return doc_stage(df, id_cols, ["html"],
                     "node_id int, parent_id int, depth int, name string, "
                     "attrs map<string,string>, text string", columns_of)


def tokens_of(df: DataFrame, id_cols: tuple[str, ...]) -> DataFrame:
    """Exploded `tokens` table (FIXTURES.md §2): the raw lexer output, one
    row per token -- the debugging/inspection surface for the tokenizer.
    A document whose processing raises contributes zero rows."""
    from ..parser.tokenizer import Tokenizer

    def columns_of(batch):
        dtd = load_dtd()

        def work(text):
            return list(Tokenizer(text, dtd.entities).tokens())

        take, pos_c, kind_c, name_c, attrs_c, text_c = [], [], [], [], [], []
        for idx, toks, _ in _parsed_docs(batch, work, MAX_DOC_BYTES):
            if toks is None:
                continue
            take.extend([idx] * len(toks))
            pos_c.extend(range(len(toks)))
            for tok in toks:
                kind = tok[0]
                kind_c.append(kind)
                if kind in ("start", "empty"):
                    name_c.append(tok[1])
                    # the dict dedups repeated attr names (last wins) --
                    # Spark's map-key uniqueness requirement
                    attrs_c.append({(a[0] if isinstance(a, tuple) else a):
                                    (a[1] if isinstance(a, tuple) else "")
                                    for a in tok[2]})
                    text_c.append(None)
                    continue
                attrs_c.append(())
                if kind == "end":
                    name_c.append(tok[1])
                    text_c.append(None)
                elif kind == "eof":
                    name_c.append(None)
                    text_c.append(None)
                else:  # pcdata/comment/define/pi
                    name_c.append(None)
                    text_c.append(tok[1])
        return take, [pos_c, kind_c, name_c, attrs_c, text_c]

    return doc_stage(df, id_cols, ["html"],
                     "pos int, kind string, name string, "
                     "attrs map<string,string>, text string", columns_of)


def bookmarks_of(df: DataFrame, id_cols: tuple[str, ...]) -> DataFrame:
    """Parse NETSCAPE-Bookmark-file-1 payloads (the reference's second
    catalog DTD) into (folder_path, link_title, href) rows -- demonstrates
    the multi-DTD parse surface (`sgml-parse dtd input`).  A document
    whose processing raises contributes zero rows."""
    from ..extract import child_text, find_first

    def columns_of(batch):
        dtd = load_dtd("netscape-bookmark")

        def work(text):
            return sgml_parse(dtd, text)

        take, folder_c, title_c, href_c = [], [], [], []
        for idx, doc, _ in _parsed_docs(batch, work, MAX_DOC_BYTES):
            if doc is None:
                continue

            # folder = concatenated H3 headings on the DL ancestor path: a
            # DT with an H3 sets it for the DT's id range
            names, end = doc.name, doc.end
            folder = ""
            scopes = []   # the enclosing (folder, scope end)
            n = doc.root
            scope_end = stop = end[n]
            while n < stop:
                while n >= scope_end:
                    folder, scope_end = scopes.pop()
                nm = names[n]
                if nm == "A":
                    href = next((v for k, v in (doc.attrs[n] or ())
                                 if k == "HREF"), None)
                    take.append(idx)
                    folder_c.append(folder)
                    title_c.append(child_text(doc, n))
                    href_c.append(href)
                    n = end[n]
                    continue
                if nm == "DT":
                    h3 = find_first(doc, n, "H3")
                    if h3 >= 0:
                        scopes.append((folder, scope_end))
                        folder = (folder + "/"
                                  + child_text(doc, h3)).lstrip("/")
                        scope_end = end[n]
                n += 1
        return take, [folder_c, title_c, href_c]

    return doc_stage(df, id_cols, ["html"],
                     "folder string, link_title string, href string",
                     columns_of)


# --- structured extraction stages --------------------------------------------

def tables_of(df: DataFrame, id_cols: tuple[str, ...]) -> DataFrame:
    """Exploded `cells` table: one row per TD/TH of every <table> in the
    repaired DOM -- (table_idx, row_idx, col_idx, tag, cell).  Shuffle-free
    like nodes_of; a malformed document contributes zero rows rather than
    killing the batch (the extract_pages never-kill-the-batch
    convention)."""
    from ..extract import tables_of_doc

    def columns_of(batch):
        dtd = load_dtd()

        def work(text):
            return tables_of_doc(parse_html(dtd, text))

        take, t_c, r_c, c_c, tag_c, cell_c = [], [], [], [], [], []
        for idx, rows, _ in _parsed_docs(batch, work, MAX_DOC_BYTES):
            for (t, r, c, tag, cell) in rows or ():
                take.append(idx)
                t_c.append(t)
                r_c.append(r)
                c_c.append(c)
                tag_c.append(tag)
                cell_c.append(cell)
        return take, [t_c, r_c, c_c, tag_c, cell_c]

    return doc_stage(df, id_cols, ["html"],
                     "table_idx int, row_idx int, col_idx int, "
                     "tag string, cell string", columns_of)


_META_FIELDS = ("title", "description", "og_title", "canonical", "h1")


def metadata_of(df: DataFrame, id_cols: tuple[str, ...]) -> DataFrame:
    """Per-page head metadata (title / meta description / og:title /
    canonical link / first h1): exactly one output row per input page
    (a malformed document yields the all-'' row, so ingest accounting
    stays 1:1)."""
    from ..extract import metadata_of_doc

    empty = {f: "" for f in _META_FIELDS}

    def columns_of(batch):
        dtd = load_dtd()

        def work(text):
            return metadata_of_doc(parse_html(dtd, text))

        mds = [md or empty
               for _, md, _ in _parsed_docs(batch, work, MAX_DOC_BYTES)]
        return None, [[md[f] for md in mds] for f in _META_FIELDS]

    return doc_stage(df, id_cols, ["html"],
                     ", ".join(f"{f} string" for f in _META_FIELDS),
                     columns_of)


def jsonld_of(df: DataFrame, id_cols: tuple[str, ...]) -> DataFrame:
    """One row per <script type=application/ld+json> block: (ld_idx,
    json) with the payload verbatim.  Schema-aware parsing stays JVM-side
    -- compose with F.from_json, never a Python json.loads stage.  A
    document whose processing raises contributes zero rows."""
    from ..extract import jsonld_of_doc

    def columns_of(batch):
        dtd = load_dtd()

        def work(text):
            return jsonld_of_doc(parse_html(dtd, text))

        take, idx_c, json_c = [], [], []
        for idx, payloads, _ in _parsed_docs(batch, work, MAX_DOC_BYTES):
            for i, payload in enumerate(payloads or ()):
                take.append(idx)
                idx_c.append(i)
                json_c.append(payload)
        return take, [idx_c, json_c]

    return doc_stage(df, id_cols, ["html"], "ld_idx int, json string",
                     columns_of)
