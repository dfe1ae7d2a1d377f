"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -- flagship: synthesize CC-style pages from sf0.001 documents,
                  run the full parse + main-content-extraction pipeline.
queries()      -- every implemented operator (SURVEY.md §2 + training-data
                  ops), each (spark, sf_dir) -> DataFrame.
oracle_sql()   -- DuckDB-equivalent SQL per query (omitted only for ops whose
                  internals are engine-hash-specific -> rows-only check).

The extraction queries are oracle-checkable because the deterministic pages
synthesis (closure_html_spark/spark/pages.py, template 0) makes the expected
extraction output an ANSI-SQL function of the documents table -- the oracle
verifies the ENTIRE parse/repair/extract path, not just relational plumbing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from closure_html_spark.spark import relational as R
from closure_html_spark.spark.pages import (
    HOSTILE_ACHR,
    HOSTILE_AMP,
    HOSTILE_BAD,
    HOSTILE_FLOOD,
    ORACLE_EXTRACTED_TEXT,
    ORACLE_MAIN_TEXT,
    ORACLE_TITLE,
    ORACLE_VARIANT_NSPANS,
    ORACLE_VARIANT_PREFIX,
    hostile_pages_from_documents,
    pages_from_documents,
    pages_with_meta,
    pages_with_tables,
)
from closure_html_spark.spark.multimodal import (
    ORACLE_MEDIA_DECODE,
    ORACLE_MEDIA_META,
    ORACLE_MEDIA_PHASH,
    q_media_decode,
    q_media_meta,
    q_media_phash_neardup,
)
from closure_html_spark.spark.pdfs import ORACLE_PDF_EXTRACT, q_pdf_extract
from closure_html_spark.spark.tables import read_table
from closure_html_spark.spark.warcs import (
    ORACLE_WARC_EXTRACT,
    ORACLE_WET_ROUNDTRIP,
    q_warc_extract,
    q_wet_roundtrip,
)
from closure_html_spark.spark.pipeline import (
    extract_pages,
    jsonld_of,
    metadata_of,
    nodes_of,
    serialize_pages,
    tables_of,
    tokens_of,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: pages -> extracted text,
    main-content text + scored spans per url."""
    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    return extract_pages(pages, id_cols=("url",)).select(
        "url", "title", "extracted_text", "main_text", "spans")


# --- extraction queries (full-pipeline, oracle-checked) ---------------------

def _q_extract_doc(spark, sf_dir):
    """ONE wide extraction gate covering title + extracted_text +
    main_text + span accounting (template 0 always yields 3 blocks --
    nav, content, footer -- and the main span length equals the document
    text length).  Four single-column gates (extract_text/main/title/
    spans) would re-run the same extraction four times and crowd the
    driver's 50-entry correctness window; this one query pins every
    column they would pin, in one pass."""
    pages = pages_from_documents(spark, sf_dir)
    ext = extract_pages(pages, id_cols=("doc_id",))
    return (ext.select(
        "doc_id", "title", "extracted_text", "main_text",
        F.size("spans").alias("n_spans"),
        F.length("main_text").alias("main_len")).orderBy("doc_id"))


def _q_serialize_roundtrip(spark, sf_dir):
    """Parse -> canonical serialize -> parse -> extract: the clean-html
    round trip must preserve extracted text exactly (idempotence property).
    Rows-only driver check; the equality assertion happens inside the query:
    returns mismatch count per doc (always 0)."""
    pages = pages_from_documents(spark, sf_dir)
    ser = serialize_pages(pages, id_cols=("doc_id",))
    reparsed = ser.select(
        "doc_id", F.encode(F.col("html_out"), "utf-8").alias("html"))
    ext1 = extract_pages(pages, id_cols=("doc_id",),
                         columns=("extracted_text",)) \
        .select("doc_id", F.col("extracted_text").alias("t1"))
    ext2 = extract_pages(reparsed, id_cols=("doc_id",),
                         columns=("extracted_text",)) \
        .select("doc_id", F.col("extracted_text").alias("t2"))
    return (ext1.join(ext2, "doc_id")
            .select("doc_id",
                    (F.col("t1") != F.col("t2")).cast("int").alias("mismatch"))
            .orderBy("doc_id"))


def _q_tokens_histogram(spark, sf_dir):
    """Lexer token-kind histogram over the parsed corpus (tokens table)."""
    pages = pages_from_documents(spark, sf_dir)
    toks = tokens_of(pages, id_cols=("doc_id",))
    return (toks.groupBy("kind")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("kind"))


def _q_host_stats(spark, sf_dir):
    """Per-host page counts + bytes over the synthesized corpus: the skew
    fixture surface (host0 holds ~30%% of pages).  Oracle replays the host
    assignment rule in SQL."""
    pages = pages_from_documents(spark, sf_dir)
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    return (pages.groupBy(host.alias("host"))
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.sum(F.length("html")).alias("bytes_total"))
            .orderBy(F.desc("n_pages"), "host"))


def _q_warn_histogram(spark, sf_dir):
    """Corpus warning metrics by parse-warn level (1-5): the reference's
    warning channel as aggregable counters.  Variant templates 1-3 contain
    deliberate tag soup, so levels 3/4 are non-zero."""
    pages = pages_from_documents(spark, sf_dir, tile=4, variants=4)
    # metadata-only projection: skips building/transferring the text
    # payload inside the Python stage (column pruning can't reach there)
    ext = extract_pages(pages, id_cols=("doc_id",),
                        columns=("warn_levels",))
    return (ext.select(F.posexplode("warn_levels").alias("level0", "n"))
            .groupBy((F.col("level0") + 1).alias("level"))
            .agg(F.sum("n").alias("n_warnings"))
            .orderBy("level"))


def _q_extract_links(spark, sf_dir):
    """Outlink extraction -- the crawl-frontier feed: hrefs of <A> nodes in
    document order, emitted by the extract stage itself as a
    `links array<string>` column (columns=("links",) projection), so the
    frontier consumer never materializes the full per-node table -- no
    explode, no shuffle until the final per-doc shaping.  Template 0 pages
    carry exactly three links (/, /about, /c), so the oracle is closed-form
    and breaks loudly on any attr-parsing drift."""
    pages = pages_from_documents(spark, sf_dir)
    ext = extract_pages(pages, id_cols=("doc_id",), columns=("links",))
    return (ext.select(
        "doc_id",
        F.size("links").cast("long").alias("n_links"),
        F.array_join(F.array_sort("links"), ",").alias("hrefs"))
        .orderBy("doc_id"))


def _q_anchor_text(spark, sf_dir):
    """Inbound anchor-text aggregation -- the classic web-scale signal
    (the anchor text of links POINTING AT a page describes it better
    than its own body; used from early IR ranking through modern corpus
    curation as a page-quality/topic feature).  The extract stage emits
    (links, anchors) as parallel arrays from its single DOM walk
    (columns= projection: no node table, no text payload), hrefs resolve
    against the source url (RFC 3986 column exprs), and the ONLY
    exchange carries (target_url, anchor) short strings: per-(target,
    anchor) counts partial-agg map-side, then a per-target rollup picks
    the dominant anchor via max(struct(n, anchor)) -- ties break to the
    lexicographically largest anchor, deterministically.  At 100 TB the
    anchor frame is ~30 edges x ~60 bytes per page, orders of magnitude
    under the corpus itself, and both aggs combine before the wire.
    Template-0 pages carry exactly home/about/contact site-relative
    links, so the expected aggregate is a closed-form function of the
    host assignment."""
    pages = pages_from_documents(spark, sf_dir)
    ext = extract_pages(pages, id_cols=("url",),
                        columns=("links", "anchors"))
    pairs = (ext.select(
        "url", F.explode(F.arrays_zip("links", "anchors")).alias("p"))
        .select("url", F.col("p.links").alias("href"),
                F.col("p.anchors").alias("anchor")))
    target = R.resolve_href(F.col("url"), F.col("href"))
    edges = (pairs.select(target.alias("target_url"), "anchor")
             .where(F.col("target_url").isNotNull()))
    per = (edges.groupBy("target_url", "anchor")
           .agg(F.count(F.lit(1)).alias("n")))
    return (per.groupBy("target_url")
            .agg(F.sum("n").alias("n_inlinks"),
                 F.count(F.lit(1)).alias("n_anchors"),
                 F.max(F.struct(F.col("n"), F.col("anchor")))
                  .getField("anchor").alias("top_anchor"))
            .orderBy("target_url"))


ORACLE_ANCHOR_TEXT = """
WITH h AS (
  SELECT CASE WHEN doc_id % 10 < 3 THEN 0 ELSE doc_id % 50 END AS host
  FROM documents
),
c AS (SELECT host, COUNT(*) AS n FROM h GROUP BY host),
l AS (SELECT * FROM (VALUES ('/', 'home'), ('/about', 'about'),
                            ('/c', 'contact')) AS t(path, anchor))
SELECT 'https://host' || host || '.example' || path AS target_url,
       n AS n_inlinks, CAST(1 AS BIGINT) AS n_anchors,
       anchor AS top_anchor
FROM c, l
ORDER BY target_url
"""


def _q_extract_variants(spark, sf_dir):
    """Tag-soup repair under the hard correctness signal: replay extraction
    over the 4-template variant corpus (tile=4/variants=4 -- the same corpus
    warn_histogram counts) and check the repaired EXTRACTED TEXT, span
    count AND outlinks per page.  The soup wrappers of templates 1-3 are
    constants, so each variant's output is a closed-form prefix + the
    template-0 closed form; any drift in the ~25 heuristic repair rules /
    resolve insertions / post-mortem merge shifts the text, and every
    template carries exactly the three core hrefs (/, /about, /c), so the
    oracle also breaks if repair ever drops or duplicates an A node inside
    a mis-nested table/list/font wrapper.  (Text and links are checked
    in one extraction pass, not as two twin gates.)"""
    pages = pages_from_documents(spark, sf_dir, tile=4, variants=4)
    ext = extract_pages(pages, id_cols=("doc_id", "rep"),
                        columns=("extracted_text", "spans", "links"))
    return (ext.select(
        "doc_id", "rep", "extracted_text",
        F.size("spans").alias("n_spans"),
        F.size("links").cast("long").alias("n_links"),
        F.array_join(F.array_sort("links"), ",").alias("hrefs"))
        .orderBy("doc_id", "rep"))


def _q_extract_hostile(spark, sf_dir):
    """ADVERSARIAL parser corpus under the hard gate: five hostile
    template families (deep unclosed nesting, pcdata
    flood, entity bomb, ##BAD TAG## storm, charset lie -- see
    hostile_pages_from_documents) replayed through the full
    parse+repair+extract pipeline.  Each family's REPAIRED extraction
    output is a closed-form SQL function of `documents` (constants
    measured against the parser), so the oracle pins the repaired text
    digest + length, span count, warning count, and the re-decoded
    charset label per page.  The flood rows are ~30 KB each, so the
    compare ships md5+length instead of raw text."""
    pages = hostile_pages_from_documents(spark, sf_dir)
    ext = extract_pages(pages, id_cols=("doc_id",),
                        columns=("extracted_text", "spans", "n_warns",
                                 "charset"))
    return (ext.select(
        "doc_id", (F.col("doc_id") % 5).alias("tpl"),
        F.md5("extracted_text").alias("text_md5"),
        F.length("extracted_text").alias("text_len"),
        F.size("spans").alias("n_spans"), "n_warns", "charset")
        .orderBy("doc_id"))


# Closed forms measured against the parser (see hostile_pages_from_-
# documents docstring): tpl0 = payload under HOSTILE_DEEP auto-closed
# divs, tpl1 = payload x HOSTILE_FLOOD, tpl2 = '&' x HOSTILE_AMP || 'A' x
# HOSTILE_ACHR || payload (entities decoded), tpl3 = '<3 ' x HOSTILE_BAD
# || payload (each '<3 ' a level-3 bad-tag warn kept as pcdata), tpl4 =
# 'xÂ©y' || payload (UTF-8 bytes of (c) re-decoded as the lying
# iso-8859-1).  tpl0/tpl1 have zero spans when the payload is empty; the
# bomb/storm/lie constants guarantee one span otherwise.
ORACLE_EXTRACT_HOSTILE = f"""
WITH h AS (
  SELECT doc_id, doc_id % 5 AS tpl,
         CASE doc_id % 5
           WHEN 0 THEN text
           WHEN 1 THEN repeat(text, {HOSTILE_FLOOD})
           WHEN 2 THEN repeat('&', {HOSTILE_AMP}) || repeat('A', {HOSTILE_ACHR}) || text
           WHEN 3 THEN repeat('<3 ', {HOSTILE_BAD}) || text
           ELSE 'xÂ©y' || text
         END AS et
  FROM documents
)
SELECT doc_id, tpl, md5(et) AS text_md5,
       CAST(LENGTH(et) AS INT) AS text_len,
       CAST(CASE WHEN tpl IN (0, 1) AND LENGTH(et) = 0 THEN 0 ELSE 1 END
            AS INT) AS n_spans,
       CAST(CASE WHEN tpl = 3 THEN {HOSTILE_BAD} ELSE 0 END AS INT) AS n_warns,
       CASE WHEN tpl = 4 THEN 'latin-1' ELSE 'utf-8' END AS charset
FROM h ORDER BY doc_id
"""


def _q_bookmarks(spark, sf_dir):
    """Multi-DTD parse surface under the hard gate: deterministic
    NETSCAPE-Bookmark-file-1 payloads (the reference's second catalog
    DTD) parse through `sgml_parse(netscape-bookmark, ...)` into
    (folder, link_title, href) rows -- two links in a H3 folder plus one
    top-level link per doc, all closed-form."""
    from closure_html_spark.spark.pipeline import bookmarks_of

    docs = read_table(spark, sf_dir, "documents") \
        .select("doc_id")
    i = F.col("doc_id").cast("string")
    m = (F.col("doc_id") % 5).cast("string")
    src = F.concat(
        F.lit("<!DOCTYPE NETSCAPE-Bookmark-file-1><TITLE>BM </TITLE>"
              "<H1>BM</H1><DL><DT><H3>Folder"), m, F.lit("</H3><DL>"
              "<DT><A HREF=\"https://bm.example/a"), i,
        F.lit("\">Link "), i, F.lit("</A>"
              "<DT><A HREF=\"https://bm.example/b"), i,
        F.lit("\">Second</A></DL>"
              "<DT><A HREF=\"https://top.example/"), i,
        F.lit("\">Top</A></DL>"))
    df = docs.select("doc_id", F.encode(src, "utf-8").alias("html"))
    return (bookmarks_of(df, id_cols=("doc_id",))
            .orderBy("doc_id", "href"))


ORACLE_BOOKMARKS = """
SELECT doc_id, folder, link_title, href FROM (
  SELECT doc_id, 'Folder' || (doc_id % 5) AS folder,
         'Link ' || doc_id AS link_title,
         'https://bm.example/a' || doc_id AS href FROM documents
  UNION ALL
  SELECT doc_id, 'Folder' || (doc_id % 5), 'Second',
         'https://bm.example/b' || doc_id FROM documents
  UNION ALL
  SELECT doc_id, '', 'Top', 'https://top.example/' || doc_id FROM documents
) ORDER BY doc_id, href
"""


def _q_corpus_clean_pipeline(spark, sf_dir):
    """The COMPOSED training-data pipeline in one oracle-checked query --
    the transform chain a corpus builder actually ships, end-to-end from
    raw HTML: parse+repair+extract (main_text) -> quality gate (>= 10
    words, Gopher-lite word-count rule) -> exact near-dup removal (md5 of
    main_text, first doc_id wins).

    Scale shape: dedup ownership is decided on an ids+hash-only frame --
    (doc_id, md5(main_text)) goes through the window exchange -- and the
    LOSER ids meet the text rows in a left-anti join with NO broadcast
    hint.  On real web corpora exact-duplicate losers are tens of
    percent of the corpus, so force-broadcasting them would OOM the
    driver; without the hint AQE broadcasts only when the runtime loser
    count is actually small, and otherwise falls back to a doc_id-keyed
    shuffled anti-join -- text then crosses exactly ONE hash exchange,
    keyed on the unique doc_id (linear, skew-free), which is the
    standard corpus-dedup scale pattern.  The 100-TB invariant is: the
    ownership window exchange is h-keyed and carries ONLY (doc_id, h) --
    never text (plan-asserted by
    tests/test_plans.py::test_corpus_clean_no_text_exchange).  Inside
    this single-query gate the ownership branch re-runs the narrow
    extract stage; in production the extract output is a persisted table
    (the lineage write path) and both branches are column-pruned scans
    of it.  Template-0 synthesis keeps every stage's output a
    closed-form SQL function of `documents`, so the oracle replays the
    WHOLE chain."""
    from pyspark.sql import Window

    pages = pages_from_documents(spark, sf_dir)
    wc = F.size(F.split(F.trim("main_text"), r"\s+"))
    quality = (F.length("main_text") > 0) & (wc >= 10)
    ext = extract_pages(pages, id_cols=("doc_id", "lang"))
    # guide §2.4: both the ownership branch and the final
    # anti-join consume the extract output, and Catalyst does not dedupe
    # common subplans -- unmaterialized, the parse+extract stage runs
    # TWICE.
    # localCheckpoint is the in-query mirror of the persisted extract
    # table the docstring already promises production would read.
    passed = (ext.select("doc_id", "lang", "main_text").filter(quality)
              .localCheckpoint(eager=True))
    slim = passed.select("doc_id", F.md5("main_text").alias("h"))
    wh = Window.partitionBy("h")
    losers = (slim.withColumn("keep_id", F.min("doc_id").over(wh))
              .filter(F.col("doc_id") != F.col("keep_id"))
              .select("doc_id"))
    return (passed.join(losers, "doc_id", "left_anti")
            .select("doc_id", "lang", "main_text")
            .orderBy("doc_id"))


ORACLE_CORPUS_CLEAN = """
WITH passed AS (
  SELECT doc_id, lang, text AS main_text
  FROM documents
  WHERE LENGTH(text) > 0
    AND LEN(regexp_split_to_array(TRIM(text), '\\s+')) >= 10
),
ranked AS (
  SELECT doc_id, lang, main_text,
         ROW_NUMBER() OVER (PARTITION BY md5(main_text)
                            ORDER BY doc_id) AS rn
  FROM passed
)
SELECT doc_id, lang, main_text FROM ranked WHERE rn = 1 ORDER BY doc_id
"""


def _q_corpus_to_sequences(spark, sf_dir):
    """The FULL pretraining-data chain in one oracle-checked query: raw
    HTML -> parse+repair+extract -> quality gate -> exact dedup
    (_q_corpus_clean_pipeline) -> GPT-style sequence packing
    (q_pack_sequences semantics over the CLEANED corpus): every
    surviving doc gets (shard, seq_id, tok_offset) for R.PACK_BUDGET-token
    context windows over R.PACK_SHARDS shards.

    Scale shape: the clean chain's invariants carry over unchanged
    (hashes/ids shuffle, text does not); the packing stage consumes
    main_text map-side for the token count and sends only (doc_id,
    shard, n_tokens) into the per-shard cumsum window -- no global
    sort, text still never crosses a wide exchange."""
    clean = _q_corpus_clean_pipeline(spark, sf_dir)
    n_tok = F.size(F.split(F.trim("main_text"), r"\s+")).cast("long")
    slim = clean.select(
        "doc_id",
        R.md5_shard(F.col("doc_id"), R.PACK_SHARDS).alias("shard"),
        n_tok.alias("n_tokens"))
    from pyspark.sql import Window
    w = Window.partitionBy("shard").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)
    return (slim.select(
        "doc_id", "shard", "n_tokens",
        (cum - F.col("n_tokens")).alias("tok_offset"),
        F.floor((cum - F.col("n_tokens")) / R.PACK_BUDGET).alias("seq_id"))
        .orderBy("doc_id"))


ORACLE_CORPUS_TO_SEQUENCES = f"""
WITH cleaned AS (SELECT * FROM ({ORACLE_CORPUS_CLEAN}) AS c),
slim AS (
  SELECT doc_id,
         CAST(from_hex(substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIT
              AS BIGINT) % {R.PACK_SHARDS} AS shard,
         CAST(LEN(regexp_split_to_array(TRIM(main_text), '\\s+'))
              AS BIGINT) AS n_tokens
  FROM cleaned
),
packed AS (
  SELECT doc_id, shard, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
              - n_tokens AS BIGINT) AS tok_offset
  FROM slim
)
SELECT doc_id, shard, n_tokens, tok_offset,
       CAST(FLOOR(tok_offset / {R.PACK_BUDGET}) AS BIGINT) AS seq_id
FROM packed ORDER BY doc_id
"""


def _q_nodes_histogram(spark, sf_dir):
    """DOM-node name histogram over the parsed corpus -- the exploded nodes
    table as a relational surface.  Template 0 node mix is deterministic."""
    pages = pages_from_documents(spark, sf_dir)
    nodes = nodes_of(pages, id_cols=("doc_id",))
    return (nodes.groupBy("name")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("name"))


# --- merged per-doc stat gates (redundant gates are folded so every
# registered query fits the driver's 50-entry window; each merge
# JOINS the component queries on doc_id, so the component code AND its
# oracle closed form stay fully exercised) -----------------------------------

def _q_text_stats(spark, sf_dir):
    """char_entropy + token_stats in one gate (inner join on doc_id --
    entropy excludes empty-text docs on both engines)."""
    return (R.q_char_entropy(spark, sf_dir)
            .join(R.q_token_stats(spark, sf_dir), "doc_id")
            .orderBy("doc_id"))


ORACLE_TEXT_STATS = f"""
SELECT a.doc_id, a.entropy, a.n_distinct_chars,
       b.n_chars_m, b.n_tokens, b.n_bpeish, b.n_distinct, b.ttr
FROM ({R.ORACLE_CHAR_ENTROPY}) a JOIN ({R.ORACLE_TOKEN_STATS}) b
  ON a.doc_id = b.doc_id
ORDER BY a.doc_id
"""


def _q_quality_signals(spark, sf_dir):
    """quality_score (stopword ratio / mean word length) + the Gopher
    rule set (Rae et al. 2021) in one gate."""
    return (R.q_quality_score(spark, sf_dir)
            .join(R.q_gopher_quality(spark, sf_dir), "doc_id")
            .orderBy("doc_id"))


ORACLE_QUALITY_SIGNALS = f"""
SELECT a.doc_id, a.n_stop, a.stop_ratio, a.mean_wlen,
       b.n_words, b.mean_word_len, b.alpha_frac, b.sym_frac,
       b.stop_hits, b.keep
FROM ({R.ORACLE_QUALITY}) a JOIN ({R.ORACLE_GOPHER}) b
  ON a.doc_id = b.doc_id
ORDER BY a.doc_id
"""


def _q_normalize_text(spark, sf_dir):
    """mojibake repair (JVM encode/decode exprs) + Unicode NFC (Arrow
    stage) in one gate."""
    return (R.q_mojibake_fix(spark, sf_dir)
            .join(R.q_unicode_nfc(spark, sf_dir), "doc_id")
            .orderBy("doc_id"))


ORACLE_NORMALIZE_TEXT = f"""
SELECT a.doc_id, a.fixed_text, b.nfc_text, b.nfc_len
FROM ({R.ORACLE_MOJIBAKE}) a JOIN ({R.ORACLE_UNICODE_NFC}) b
  ON a.doc_id = b.doc_id
ORDER BY a.doc_id
"""


def _q_html_tables(spark, sf_dir):
    """Structured <table> extraction -- the tabular-data leg of an
    extraction pipeline: one row per TD/TH cell with (table_idx, row_idx,
    col_idx, tag, cell).  The corpus (pages_with_tables) pairs a
    well-formed table with a tag-soup twin (omitted </th>/</td>/</tr>,
    TBODY left to the resolve machinery), so the oracle's closed-form
    UNION grid pins that DTD table repair yields identical structure for
    both -- drift in TD/TH/TR auto-close or TBODY insertion breaks the
    gate loudly."""
    pages = pages_with_tables(spark, sf_dir)
    return (tables_of(pages, id_cols=("doc_id",))
            .orderBy("doc_id", "table_idx", "row_idx", "col_idx"))


def _tables_grid_sql() -> str:
    cells = [
        (0, 0, 0, "TH", "'k'"), (0, 0, 1, "TH", "'v'"),
        (0, 1, 0, "TD", "'doc'"),
        (0, 1, 1, "TD", "CAST(doc_id AS VARCHAR)"),
        (0, 2, 0, "TD", "'len'"),
        (0, 2, 1, "TD", "CAST(n_chars AS VARCHAR)"),
        (1, 0, 0, "TH", "'f'"), (1, 0, 1, "TH", "'w'"),
        (1, 1, 0, "TD", "'lang'"), (1, 1, 1, "TD", "lang"),
        (1, 2, 0, "TD", "'src'"), (1, 2, 1, "TD", "source"),
    ]
    legs = " UNION ALL ".join(
        f"SELECT doc_id, CAST({t} AS INT) AS table_idx, "
        f"CAST({r} AS INT) AS row_idx, CAST({c} AS INT) AS col_idx, "
        f"'{tag}' AS tag, {cell} AS cell FROM documents"
        for (t, r, c, tag, cell) in cells)
    return legs + " ORDER BY doc_id, table_idx, row_idx, col_idx"


ORACLE_HTML_TABLES = _tables_grid_sql()


def _q_doc_metadata(spark, sf_dir):
    """Head-metadata extraction (title / meta description / og:title /
    rel=canonical / first h1) -- the per-page provenance record a CC-style
    pipeline carries next to the text.  og:title rides an attribute the
    HTML-4 DTD does not declare, pinning the mungle-attlist keep-verbatim
    rule (sgml-parse.lisp:898-917) under the gate."""
    pages = pages_with_meta(spark, sf_dir)
    return metadata_of(pages, id_cols=("doc_id",)).orderBy("doc_id")


ORACLE_DOC_METADATA = """
SELECT doc_id,
       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
       'Summary of doc ' || CAST(doc_id AS VARCHAR) AS description,
       'OG Doc ' || CAST(doc_id AS VARCHAR) AS og_title,
       'https://canon.example/p' || CAST(doc_id AS VARCHAR) AS canonical,
       'Heading ' || CAST(doc_id AS VARCHAR) AS h1
FROM documents ORDER BY doc_id
"""


def _q_jsonld_extract(spark, sf_dir):
    """schema.org JSON-LD extraction: <script type=application/ld+json>
    payloads come back verbatim from the Arrow stage (the parser keeps
    script bodies raw); field parsing is JVM-side from_json -- no Python
    json.loads stage anywhere."""
    pages = pages_with_meta(spark, sf_dir)
    raw = jsonld_of(pages, id_cols=("doc_id",))
    j = F.from_json(
        "json", "`@type` string, headline string, wordCount long")
    return (raw.select("doc_id", "ld_idx",
                       j.getField("@type").alias("ld_type"),
                       j.getField("headline").alias("headline"),
                       j.getField("wordCount").alias("word_count"))
            .orderBy("doc_id", "ld_idx"))


ORACLE_JSONLD = """
SELECT doc_id, CAST(0 AS INT) AS ld_idx, 'Article' AS ld_type,
       'Doc ' || CAST(doc_id AS VARCHAR) AS headline,
       n_chars AS word_count
FROM documents ORDER BY doc_id
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """EXACTLY 50 entries -- the driver's correctness gate verifies the
    first 50 keys, so the registry is sized to fit entirely inside the
    window (a query past it is never verified).  Redundant single-column
    gates are merged (extract_doc, extract_variants, text_stats,
    quality_signals, normalize_text); the merged-away components keep
    local-only DuckDB replay via aux_queries()/aux_oracle_sql().  The
    queries with the least driver history come FIRST, as defense in
    depth against any future window shrink."""
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # host-frequency boilerplate line removal (RefinedWeb/Dolma; the
        # north_rule's "HTML boilerplate strip" leg), in the slot the
        # O(N^2) embedding_neardup exact baseline left for aux
        "host_boilerplate_clean": R.q_host_boilerplate_clean,
        # structured <table> extraction: soup + well-formed twins must
        # repair to identical grids (tokens_histogram is aux: any
        # tokenizer drift already breaks every extraction gate's
        # byte-pinned text; the tokens TABLE shape keeps aux replay)
        "html_tables": _q_html_tables,
        # head metadata: title/description/og:title/canonical/h1
        # (host_stats is aux: it replayed the synthesis rule, gating no
        # machinery the agg + url gates don't)
        "doc_metadata": _q_doc_metadata,
        # Okapi BM25 top-k retrieval, one-pass corpus stats re-entering
        # as a broadcast (sentence_chunks is aux: pure column exprs)
        "bm25_topk": R.q_bm25_topk,
        # SemDeDup: IVF-cell-bucketed semantic near-dup removal -- the
        # scale answer to the O(N^2) exact baseline (media_meta is aux:
        # projection twin of the gated media_decode); R.N_CELLS cells,
        # the constant its oracle is built from
        "semantic_dedup": R.q_semantic_dedup,
        # adversarial parser corpus: deep nesting / pcdata flood /
        # entity bomb / bad-tag storm / charset lie, all closed-form
        # oracled (string_datetime is aux; its string/datetime machinery
        # stays gated via sessionize + url_canonical)
        "extract_hostile": _q_extract_hostile,
        # one wide extraction gate: title/text/main/spans in one pass
        "extract_doc": _q_extract_doc,
        # tag-soup repair: variant text + spans + links in one pass
        "extract_variants": _q_extract_variants,
        # merged per-doc stats (components exercised via the join)
        "text_stats": _q_text_stats,
        "quality_signals": _q_quality_signals,
        "normalize_text": _q_normalize_text,
        # PDF/layout parse (north_rule tier leg; real simple-PDF parser)
        "pdf_extract": q_pdf_extract,
        # WARC ingest (CC archive grammar + HTTP-header charset seeding)
        "warc_extract": q_warc_extract,
        # the composed end-to-end corpus transform (parse -> quality ->
        # dedup), every stage under the same oracle
        "corpus_clean_pipeline": _q_corpus_clean_pipeline,
        # multi-DTD catalog parse (netscape-bookmark) under the gate
        "bookmarks": _q_bookmarks,
        # eval-set n-gram overlap scrub (broadcast eval grams; the clean
        # transform is exercised through it and replayed in aux)
        "decontaminate": R.q_decontaminate,
        # new-batch ingest vs persisted corpus index: exact-hash +
        # minhash-band classification, index side never shuffled
        "incremental_dedup": R.q_incremental_dedup,
        # deterministic hash-threshold stratified sampling (map-only)
        "corpus_sample": R.q_corpus_sample,
        # GPT-style sequence packing (per-shard windows, no global sort)
        "pack_sequences": R.q_pack_sequences,
        # in-engine CCNet-style classifier training (GD as partial aggs)
        "quality_classifier": R.q_quality_classifier,
        # BPE tokenizer training (distributed word counter + bounded
        # driver merge loop, the sentencepiece architecture)
        "bpe_merges": R.q_bpe_merges,
        # exact-substring REMOVAL (Lee et al. 2022): duplicated w-word
        # windows dropped, corpus-wide first occurrence kept; detect/
        # coverage reports (q_repeated_spans, q_dup_coverage) replay in aux
        "repeated_span_clean": R.q_repeated_span_clean,
        # inbound anchor-text aggregation over the (links, anchors)
        # parallel arrays (extract_links is aux: its href machinery stays
        # gated via extract_variants AND this)
        "anchor_text": _q_anchor_text,
        "simhash": R.q_simhash,
        # (embedding_neardup -- the EXACT O(N^2) crossJoin baseline --
        # is aux: the one non-scale-safe plan is not invokable from the
        # driver window; its oracle survives in aux and it remains the
        # LSH twin's recall reference)
        # the LSH queries size their bands from the table's row count
        # (R.lsh_band_bits), which is R.BAND_BITS, the width the oracles
        # are built at, on every corpus of up to 2^14 rows
        "embedding_neardup_lsh": R.q_embedding_neardup_lsh,
        # connected components over the LSH pair graph (a driver
        # union-find below R.CC_DRIVER_MAX_PAIRS pairs, large-star/
        # small-star in Spark above it)
        "neardup_clusters": R.q_neardup_clusters,
        # multimodal plumbing (media_meta is aux)
        "media_decode": q_media_decode,
        # --- full-pipeline extraction (parse + repair + extract) ---
        "serialize_roundtrip": _q_serialize_roundtrip,
        "nodes_histogram": _q_nodes_histogram,
        # (extract_links is aux: per-doc href extraction stays
        # driver-gated via extract_variants; tokens_histogram and
        # host_stats are aux, for the reasons given above)
        "warn_histogram": _q_warn_histogram,
        # --- relational shell (SURVEY.md §2.10) ---
        "pricing_summary": R.q_pricing_summary,
        "top_revenue_nations": R.q_top_revenue_nations,
        # (order_priority is aux: its join+agg+sort pattern stays gated
        # via top_revenue_nations; window_user_events likewise -- the
        # window capability stays gated via sessionize)
        "sessionize": R.q_sessionize,
        # (set_ops and string_datetime are aux)
        # --- training-data ops ---
        "dedup_exact": R.q_dedup_exact,
        # realistic C4-style span length (3 words is a toy; 50-word
        # shared spans are near-certain cross-doc duplication; the toy
        # chunk_words=3 report stays in aux_queries)
        "paragraph_dedup_50": lambda s, d: R.q_paragraph_dedup(
            s, d, chunk_words=R.C4_CHUNK_WORDS),
        # the removal transform that follows the report: clean_text with
        # globally duplicated 50-word chunks removed (one survivor each)
        "paragraph_clean_50": R.q_paragraph_dedup_clean,
        "url_canonical": R.q_url_canonical,
        # the frontier's RFC 3986 link resolution, replayed in batch
        "resolve_href": R.q_resolve_href,
        # corpus scrubbing / segmentation transforms
        "pii_redact": R.q_pii_redact,
        # crawl politeness: robots.txt groups + longest-match verdicts
        "robots_filter": R.q_robots_filter,
        # host-graph PageRank (iterative; crawl prioritization signal)
        "host_pagerank": R.q_host_pagerank,
        "tfidf_topk": R.q_tfidf_topk,
        "repetition_stats": R.q_repetition_stats,
        # (q_fingerprint is aux: the winnowing variant below subsumes
        # the rolling-hash machinery under the gate)
        "winnow_fingerprint": R.q_winnow_fingerprint,
        "jaccard_pairs": R.q_jaccard_pairs,
        # EXACT brute-force top-k baseline (broadcast query side); the
        # scale paths are the LSH/IVF twins below
        "ann_cosine_topk": R.q_ann_cosine_topk,
        "ann_lsh_topk": R.q_ann_lsh_topk,
        "ann_ivf_topk": R.q_ann_ivf_topk,
        # (minhash_est_pairs is aux: its banding + signature-agreement
        # machinery runs under the gate through BOTH text_dedup_clean
        # and incremental_dedup)
        # the kept corpus: survivors + untouched docs with their text
        # (text_dedup_clusters is aux: clean consumes the same
        # connected-components labels; mime_class likewise)
        "text_dedup_clean": R.q_text_dedup_clean,
        "lang_id": R.q_lang_id,
    }
    assert len(q) == 50, f"driver window is 50 entries; got {len(q)}"
    return q


def aux_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Gates outside the driver's 50-entry window whose DISTINCT
    output shape is still worth an oracle: replayed by
    tests/test_entry_oracle.py exactly like queries(), just not by the
    driver.  (Everything merged into extract_doc / extract_variants /
    text_stats / quality_signals / normalize_text is exercised THROUGH
    those gates and needs no aux entry.)"""
    return {
        # toy chunk size kept as the documented small-span report
        "paragraph_dedup": R.q_paragraph_dedup,
        # banded signature report (minhash_est_pairs consumes these bands)
        "minhash_bands": R.q_minhash_bands,
        # per-doc distinct-shingle counts (jaccard's input representation)
        "ngram_shingles": R.q_ngram_shingles,
        "fingerprint": R.q_fingerprint,
        "text_dedup_clusters": R.q_text_dedup_clusters,
        "mime_class": R.q_mime_class,
        # the decontaminated corpus (report is under the gate)
        "decontaminate_clean": R.q_decontaminate_clean,
        # alpha-sampling mix planner (feeds q_corpus_sample's rates)
        "domain_mix": R.q_domain_mix,
        # machinery gated via text_dedup_clean + incremental_dedup
        "minhash_est_pairs": R.q_minhash_est_pairs,
        "set_ops": R.q_set_ops,
        "order_priority": R.q_order_priority,
        # string fns stay driver-gated via url_canonical, datetime via
        # sessionize
        "string_datetime": R.q_string_datetime,
        # window capability stays driver-gated via sessionize
        "window_user_events": R.q_window_user_events,
        # href machinery stays gated via extract_variants + anchor_text
        "extract_links": _q_extract_links,
        # the full raw-HTML -> cleaned -> packed-sequences chain
        "corpus_to_sequences": _q_corpus_to_sequences,
        "bpe_tokenize": R.q_bpe_tokenize,
        "lm_perplexity": R.q_lm_perplexity,
        "ppl_buckets": R.q_ppl_buckets,
        "repeated_spans": R.q_repeated_spans,
        "dup_coverage": R.q_dup_coverage,
        # reproducible training order + CDX revisit dedup
        "corpus_shuffle": R.q_corpus_shuffle,
        "url_revisit": R.q_url_revisit,
        # C4 line-level cleaning over synthesized multi-line pages
        "c4_line_clean": R.q_c4_line_clean,
        # token-budget quality-first selection (histogram + boundary
        # stratum vs the oracle's single global window: same set)
        "quality_budget_select": R.q_quality_budget_select,
        # EXACT O(N^2) crossJoin baseline: recall reference for the LSH
        # twin only
        "embedding_neardup": R.q_embedding_neardup,
        # sitemap.xml ingest (crawl seeding; robots emits the pointers)
        "sitemap_urls": R.q_sitemap_urls,
        # domain-suffix blocklist filter (UT1-style)
        "url_blocklist": R.q_url_blocklist,
        # per-language data-card report (one partial-agg pass)
        "corpus_datasheet": R.q_corpus_datasheet,
        # outside the window for the html_tables/doc_metadata/bm25/
        # semantic_dedup gates (reasons inline in queries())
        "tokens_histogram": _q_tokens_histogram,
        "host_stats": _q_host_stats,
        "sentence_chunks": R.q_sentence_chunks,
        "media_meta": q_media_meta,
        # schema.org JSON-LD (raw payload via Arrow stage, fields via
        # JVM-side from_json)
        "jsonld_extract": _q_jsonld_extract,
        # product-quantization codes (Jegou et al. 2011) -- 4-bit-per-
        # subspace codes, broadcast codebook, one groupBy pass; the
        # vector-compression leg of the ANN family
        "pq_encode": R.q_pq_encode,
        # compressed-domain ADC search over the PQ codes (per-query LUTs
        # in the scoring kernel's closure)
        "ann_pq_topk": R.q_ann_pq_topk,
        # DSIR importance weights (arXiv:2302.03169) -- hashed-unigram
        # target/raw log-ratio, broadcast model map, map-side scoring
        # (no per-doc groupBy anywhere)
        "dsir_weights": R.q_dsir_weights,
        # image perceptual-hash near-dup (aHash bits over the decode
        # feature, banded hamming join -- exact for hamming<=1 by
        # pigeonhole)
        "media_phash_neardup": q_media_phash_neardup,
        # cross-engine-deterministic HyperLogLog (distinct counts with a
        # 2^p-key exchange, any corpus size)
        "vocab_hll": R.q_vocab_hll,
        # WET (ISO 28500 conversion records) export surface, gated as an
        # in-engine write->reparse round trip
        "wet_roundtrip": q_wet_roundtrip,
        # leak-proof hash-stratified eval split and count-min-sketch
        # frequency estimates (bounded-memory state)
        "corpus_split": R.q_corpus_split,
        "cms_word_freq": R.q_cms_word_freq,
        # the full PQ serving system (IVF cells prune, ADC scores the
        # survivors from 4-byte codes)
        "ann_ivfadc_topk": R.q_ann_ivfadc_topk,
        # deterministic HDR-binned quantile sketch (the replayable
        # t-digest stand-in; 16 sub-bins/octave)
        "token_quantiles": R.q_token_quantiles,
        # RSS/Atom feed ingest (third crawl-seeding source; dates
        # round-tripped through the wire formats)
        "feed_entries": R.q_feed_entries,
        # fuzzy (MinHash) decontamination -- the near-dup complement to
        # the exact 8-gram scrub
        "decontaminate_fuzzy": R.q_decontaminate_fuzzy,
    }


def aux_oracle_sql() -> dict[str, str]:
    return {
        "paragraph_dedup": R.ORACLE_PARAGRAPH_DEDUP,
        "minhash_bands": R.ORACLE_MINHASH,
        "ngram_shingles": R.ORACLE_NGRAM,
        "fingerprint": R.ORACLE_FINGERPRINT,
        "text_dedup_clusters": R.ORACLE_TEXT_DEDUP_CLUSTERS,
        "mime_class": R.ORACLE_MIME_CLASS,
        "decontaminate_clean": R.ORACLE_DECONTAMINATE_CLEAN,
        "domain_mix": R.ORACLE_DOMAIN_MIX,
        "minhash_est_pairs": R.ORACLE_MINHASH_EST,
        "set_ops": R.ORACLE_SET_OPS,
        "order_priority": R.ORACLE_ORDER_PRIORITY,
        "string_datetime": R.ORACLE_STRING_DATETIME,
        "window_user_events": R.ORACLE_WINDOW,
        "extract_links": (
            "SELECT doc_id, CAST(3 AS BIGINT) AS n_links, "
            "'/,/about,/c' AS hrefs FROM documents ORDER BY doc_id"),
        "corpus_to_sequences": ORACLE_CORPUS_TO_SEQUENCES,
        "bpe_tokenize": R.ORACLE_BPE_TOKENIZE,
        "lm_perplexity": R.ORACLE_LM_PERPLEXITY,
        "ppl_buckets": R.ORACLE_PPL_BUCKETS,
        "repeated_spans": R.ORACLE_REPEATED_SPANS,
        "dup_coverage": R.ORACLE_DUP_COVERAGE,
        "corpus_shuffle": R.ORACLE_CORPUS_SHUFFLE,
        "url_revisit": R.ORACLE_URL_REVISIT,
        "c4_line_clean": R.ORACLE_C4_LINE_CLEAN,
        "quality_budget_select": R.ORACLE_QUALITY_BUDGET,
        "embedding_neardup": R.ORACLE_EMBEDDING_NEARDUP,
        "sitemap_urls": R.ORACLE_SITEMAP_URLS,
        "url_blocklist": R.ORACLE_URL_BLOCKLIST,
        "corpus_datasheet": R.ORACLE_CORPUS_DATASHEET,
        "sentence_chunks": R.ORACLE_SENTENCE_CHUNKS,
        "media_meta": ORACLE_MEDIA_META,
        "tokens_histogram": """
WITH n AS (SELECT COUNT(*) AS d,
                  COUNT(*) FILTER (WHERE LENGTH(text) > 0) AS dt
           FROM documents)
SELECT * FROM (
  SELECT 'end' AS kind, 10*d AS n FROM n
  UNION ALL SELECT 'eof', 1*d FROM n
  UNION ALL SELECT 'pcdata', 6*d + dt FROM n
  UNION ALL SELECT 'start', 10*d FROM n
) ORDER BY kind
""",
        "host_stats": """
WITH p AS (
  SELECT doc_id,
         'host' || CAST(CASE WHEN doc_id % 10 < 3 THEN 0
                             ELSE doc_id % 50 END AS VARCHAR)
           || '.example' AS host,
         octet_length(encode(
           '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
           || '</title></head><body>'
           || '<div id=nav><a href=/>home</a> <a href=/about>about</a></div>'
           || '<p>' || replace(replace(replace(text, '&', '&amp;'),
                               '<', '&lt;'), '>', '&gt;') || '</p>'
           || '<div class=footer><a href=/c>contact</a> &copy; 2026</div>'
           || '</body></html>')) AS nbytes
  FROM documents
)
SELECT host, COUNT(*) AS n_pages,
       CAST(SUM(nbytes) AS BIGINT) AS bytes_total
FROM p GROUP BY host ORDER BY n_pages DESC, host
""",
        "jsonld_extract": ORACLE_JSONLD,
        "pq_encode": R.ORACLE_PQ_ENCODE,
        "ann_pq_topk": R.ORACLE_ANN_PQ,
        "dsir_weights": R.ORACLE_DSIR,
        "media_phash_neardup": ORACLE_MEDIA_PHASH,
        "vocab_hll": R.ORACLE_VOCAB_HLL,
        "wet_roundtrip": ORACLE_WET_ROUNDTRIP,
        "corpus_split": R.ORACLE_CORPUS_SPLIT,
        "cms_word_freq": R.ORACLE_CMS,
        "ann_ivfadc_topk": R.ORACLE_ANN_IVFADC,
        "token_quantiles": R.ORACLE_TOKEN_QUANTILES,
        "feed_entries": R.ORACLE_FEED_ENTRIES,
        "decontaminate_fuzzy": R.ORACLE_DECONTAMINATE_FUZZY,
    }


def oracle_sql() -> dict[str, str]:
    return {
        # n_spans = 3 is pinned to template 0 (nav/content/footer), the ONLY
        # template _q_extract_doc synthesizes (pages_from_documents
        # defaults); revisit if that query ever runs variant templates
        "extract_doc": (
            f"SELECT doc_id, {ORACLE_TITLE} AS title, "
            f"{ORACLE_EXTRACTED_TEXT} AS extracted_text, "
            f"{ORACLE_MAIN_TEXT} AS main_text, "
            "3 AS n_spans, CAST(LENGTH(text) AS INT) AS main_len "
            "FROM documents ORDER BY doc_id"),
        "serialize_roundtrip": (
            "SELECT doc_id, 0 AS mismatch FROM documents ORDER BY doc_id"),
        "html_tables": ORACLE_HTML_TABLES,
        "doc_metadata": ORACLE_DOC_METADATA,
        "bm25_topk": R.ORACLE_BM25,
        "semantic_dedup": R.ORACLE_SEMANTIC_DEDUP,
        # The histograms are deterministic functions of template 0 /
        # the variant cycle: per-doc counts measured once against the parser
        # (closed form), scaled by COUNT(*).  A parser behavior change that
        # shifts any count breaks these oracles loudly -- that is the point.
        "nodes_histogram": """
WITH n AS (SELECT COUNT(*) AS d,
                  COUNT(*) FILTER (WHERE LENGTH(text) > 0) AS dt
           FROM documents)
SELECT * FROM (
  SELECT '#PCDATA' AS name, 6*d + dt AS n FROM n
  UNION ALL SELECT 'A', 3*d FROM n
  UNION ALL SELECT 'BODY', 1*d FROM n
  UNION ALL SELECT 'DIV', 2*d FROM n
  UNION ALL SELECT 'HEAD', 1*d FROM n
  UNION ALL SELECT 'HTML', 1*d FROM n
  UNION ALL SELECT 'P', 1*d FROM n
  UNION ALL SELECT 'TITLE', 1*d FROM n
) ORDER BY name
""",
        # warn_histogram runs tile=4/variants=4: every doc yields one page
        # per template; per-doc warns are level 3 x1 (template 2's &bogus;)
        # and level 4 x2 (templates 1 and 3 heuristic repairs)
        "warn_histogram": """
WITH n AS (SELECT COUNT(*) AS d FROM documents)
SELECT * FROM (
  SELECT 1 AS level, 0*d AS n_warnings FROM n
  UNION ALL SELECT 2, 0*d FROM n
  UNION ALL SELECT 3, 1*d FROM n
  UNION ALL SELECT 4, 2*d FROM n
  UNION ALL SELECT 5, 0*d FROM n
) ORDER BY level
""",
        "anchor_text": ORACLE_ANCHOR_TEXT,
        # variant corpus: 4 reps/doc, variant = (doc_id+rep)%4; each
        # variant's repaired extraction is a fixed soup prefix + the
        # template-0 closed form (constants measured against the parser,
        # kept in pages.py next to the templates); every template carries
        # exactly the three core hrefs
        "extract_variants": f"""
WITH p AS (
  SELECT doc_id, r.rep, text
  FROM documents, (SELECT UNNEST([0,1,2,3]) AS rep) r
)
SELECT doc_id, rep,
       {ORACLE_VARIANT_PREFIX}
         || 'home about' || text || 'contact © 2026' AS extracted_text,
       CAST({ORACLE_VARIANT_NSPANS} AS INT) AS n_spans,
       CAST(3 AS BIGINT) AS n_links,
       '/,/about,/c' AS hrefs
FROM p ORDER BY doc_id, rep
""",
        "pricing_summary": R.ORACLE_PRICING,
        "top_revenue_nations": R.ORACLE_TOP_REVENUE,
        "bpe_merges": R.ORACLE_BPE_MERGES,
        "repeated_span_clean": R.ORACLE_REPEATED_SPAN_CLEAN,
        "sessionize": R.ORACLE_SESSIONIZE,
        "extract_hostile": ORACLE_EXTRACT_HOSTILE,
        "quality_classifier": R.ORACLE_QUALITY_CLASSIFIER,
        "dedup_exact": R.ORACLE_DEDUP_EXACT,
        "paragraph_dedup_50": R.ORACLE_PARAGRAPH_DEDUP_50,
        "paragraph_clean_50": R.ORACLE_PARAGRAPH_CLEAN_50,
        "url_canonical": R.ORACLE_URL_CANONICAL,
        "resolve_href": R.ORACLE_RESOLVE_HREF,
        "pii_redact": R.ORACLE_PII_REDACT,
        "robots_filter": R.ORACLE_ROBOTS_FILTER,
        "normalize_text": ORACLE_NORMALIZE_TEXT,
        "host_pagerank": R.ORACLE_HOST_PAGERANK,
        "tfidf_topk": R.ORACLE_TFIDF,
        "text_stats": ORACLE_TEXT_STATS,
        "quality_signals": ORACLE_QUALITY_SIGNALS,
        "repetition_stats": R.ORACLE_REPETITION,
        "winnow_fingerprint": R.ORACLE_WINNOW,
        "jaccard_pairs": R.ORACLE_JACCARD_PAIRS,
        "ann_cosine_topk": R.ORACLE_ANN,
        "lang_id": R.ORACLE_LANG_ID,
        "simhash": R.ORACLE_SIMHASH,
        "incremental_dedup": R.ORACLE_INCREMENTAL_DEDUP,
        "text_dedup_clean": R.ORACLE_TEXT_DEDUP_CLEAN,
        "decontaminate": R.ORACLE_DECONTAMINATE,
        "corpus_sample": R.ORACLE_CORPUS_SAMPLE,
        "pack_sequences": R.ORACLE_PACK_SEQUENCES,
        "host_boilerplate_clean": R.ORACLE_HOST_BOILERPLATE,
        # the LSH oracles replay the md5-derived hyperplane sign matrix
        # bit-for-bit (constants baked into both plans); R.BAND_BITS in
        # the oracle is lsh_band_bits(N) on every gate corpus (N <= 2^14)
        "embedding_neardup_lsh": R.ORACLE_EMBEDDING_NEARDUP_LSH,
        "neardup_clusters": R.ORACLE_NEARDUP_CLUSTERS,
        "ann_lsh_topk": R.ORACLE_ANN_LSH,
        "ann_ivf_topk": R.ORACLE_ANN_IVF,
        "media_decode": ORACLE_MEDIA_DECODE,
        "pdf_extract": ORACLE_PDF_EXTRACT,
        "corpus_clean_pipeline": ORACLE_CORPUS_CLEAN,
        "warc_extract": ORACLE_WARC_EXTRACT,
        "bookmarks": ORACLE_BOOKMARKS,
    }
