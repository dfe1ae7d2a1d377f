"""Deterministic synthesis of the `pages` input table.

BASELINE.json's input_hint mandates the shape
    pages(url: string, warc_ts: timestamp, html: binary, text: string,
          lang: string)
but the driver testdata has no pages parquet, so we synthesize it
deterministically (seed-free: pure functions of doc_id) from the
`documents` table -- entirely with JVM-side Spark SQL expressions, so
synthesis itself never leaves Tungsten.

Template 0 is the canonical correctness template: its extraction output is
expressible in ANSI SQL over `documents`, giving the DuckDB oracle a way to
verify the full parse+extract pipeline end-to-end:
    extracted_text == 'home about' || text || 'contact © 2026'
    main_text      == text            (nav/footer are link-dense boilerplate)
    title          == 'Doc ' || doc_id

Templates 1..3 (bench tiling only) wrap the same core in progressively
nastier tag soup -- tables without </td>, lists without </li>, comments,
font/center misnesting -- to exercise the repair machinery at benchmark
scale.  Hosts are skewed on purpose: ~30%% of pages land on host0
(north_rule skew fixture).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from closure_html_spark.spark.tables import read_table


def _esc(col):
    # HTML-escape of the text payload (matches entity decode on the way back)
    return F.replace(
        F.replace(
            F.replace(col, F.lit("&"), F.lit("&amp;")),
            F.lit("<"), F.lit("&lt;")),
        F.lit(">"), F.lit("&gt;"))


_NAV = ("<div id=nav><a href=/>home</a> <a href=/about>about</a></div>")
_FOOTER = ('<div class=footer><a href=/c>contact</a> &copy; 2026</div>')


def _template(variant: int, title_expr, esc_text, heavy: int = 1):
    head = F.concat(F.lit("<html><head><title>"), title_expr,
                    F.lit("</title></head><body>"))
    par = F.concat(F.lit("<p>"), esc_text, F.lit("</p>"))
    if heavy > 1:  # benchmark mode: realistic multi-KB pages
        par = F.repeat(par, heavy)
    core = F.concat(F.lit(_NAV), par, F.lit(_FOOTER))
    if variant == 0:
        return F.concat(head, core, F.lit("</body></html>"))
    if variant == 1:
        # table soup: td without tr, form in table, no closing tags
        return F.concat(
            head,
            F.lit("<table width=100%><td>left<td>"), F.lit("<b>x"),
            F.lit("</table>"), core,
            F.lit("<table><form action=/s><tr><td><input name=q></table>"),
            F.lit("</body>"))
    if variant == 2:
        # list soup + entity stress + comment
        return F.concat(
            head,
            F.lit("<ul><p>bullet one<li>two &nbsp;&bogus; &#65;&#x42;"
                  "<li>three</ul><!-- boilerplate comment -->"),
            core, F.lit("</html>"))
    # variant 3: font/center misnesting + truncated tail
    return F.concat(
        head,
        F.lit("<font size=2><center>header</font></center><h1>Title<h2>"),
        core)


def pages_from_documents(spark: SparkSession, sf_dir: str,
                         tile: int = 1, variants: int = 1,
                         heavy: int = 1) -> DataFrame:
    """Build `pages` from {sf_dir}/documents.parquet.

    tile > 1 replicates each document `tile` times (distinct urls) for
    benchmark scale; variants > 1 cycles templates by (doc_id+rep) % variants.
    """
    docs = read_table(spark, sf_dir, "documents")
    df = docs.select("doc_id", "text", "lang")
    if tile > 1:
        df = df.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(tile - 1))))
    else:
        df = df.withColumn("rep", F.lit(0))

    # skewed host assignment: ~30% of pages on host0 (north_rule skew fixture)
    host = F.when((F.col("doc_id") % 10) < 3, F.lit(0)) \
            .otherwise(F.col("doc_id") % 50)
    url = F.concat(F.lit("https://host"), host.cast("string"),
                   F.lit(".example/p"), F.col("doc_id").cast("string"),
                   F.when(F.col("rep") > 0,
                          F.concat(F.lit("r"), F.col("rep").cast("string")))
                    .otherwise(F.lit("")))
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    esc_text = _esc(F.col("text"))

    variant_sel = (F.col("doc_id") + F.col("rep")) % variants if variants > 1 else F.lit(0)
    html = _template(0, title, esc_text, heavy)
    for v in range(1, variants):
        html = F.when(variant_sel == v,
                      _template(v, title, esc_text, heavy)).otherwise(html)

    return df.select(
        url.alias("url"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")) +
         F.make_interval(secs=F.col("doc_id") + F.lit(86400) * F.col("rep"))
         ).alias("warc_ts"),
        F.encode(html, "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
        F.col("rep"),
    )


_HOSTILE_HEAD = "<html><head><title>H</title></head><body>"
_META_LIE = ('<html><head><meta http-equiv=Content-Type '
             'content="text/html; charset=iso-8859-1">'
             '<title>H</title></head><body><p>x©y')


# the hostile corpus' sizes, read by the extract_hostile oracle too: nesting
# depth, payload copies, &amp; and &#65; chains, '<3 ' repetitions
HOSTILE_DEEP = 200
HOSTILE_FLOOD = 64
HOSTILE_AMP = 1000
HOSTILE_ACHR = 200
HOSTILE_BAD = 500


def hostile_pages_from_documents(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The ADVERSARIAL page corpus (round-6 verdict #2): five hostile
    template families cycling on doc_id % 5, each stressing a different
    repair surface while keeping the REPAIRED extraction output a
    closed-form SQL function of `documents`:

      h0  deep nesting -- HOSTILE_DEEP unclosed <div>s wrapping the
          payload; the PDA must auto-close the whole chain at EOF
      h1  pcdata flood -- the payload repeated HOSTILE_FLOOD times inside
          ONE <p> on one line (the 1 MB-single-line shape, scaled)
      h2  entity bomb -- HOSTILE_AMP chained &amp; + HOSTILE_ACHR chained
          &#65; ahead of the payload (entity machine stress)
      h3  ##BAD TAG## storm -- HOSTILE_BAD repetitions of '<3 ' (bad
          char after '<', level-3 warn each, '<3 ' kept as pcdata)
      h4  charset lie -- <meta> claims iso-8859-1 over UTF-8 bytes;
          the two-phase re-decode must relabel and re-decode, turning
          the UTF-8 (c) sign (0xC2 0xA9) into 'Â©'

    Every template ends WITHOUT its closing tags (EOF repair on every
    row).  Synthesis is pure JVM expressions like pages_from_documents."""
    docs = read_table(spark, sf_dir, "documents")
    esc_text = _esc(F.col("text"))
    h = F.col("doc_id") % 5
    t0 = F.concat(F.lit(_HOSTILE_HEAD + "<div>" * HOSTILE_DEEP + "<p>"),
                  esc_text)
    t1 = F.concat(F.lit(_HOSTILE_HEAD + "<p>"),
                  F.repeat(esc_text, HOSTILE_FLOOD))
    t2 = F.concat(F.lit(_HOSTILE_HEAD + "<p>" + "&amp;" * HOSTILE_AMP
                        + "&#65;" * HOSTILE_ACHR), esc_text)
    t3 = F.concat(F.lit(_HOSTILE_HEAD + "<p>" + "<3 " * HOSTILE_BAD),
                  esc_text)
    t4 = F.concat(F.lit(_META_LIE), esc_text)
    html = (F.when(h == 0, t0).when(h == 1, t1).when(h == 2, t2)
            .when(h == 3, t3).otherwise(t4))
    url = F.concat(F.lit("https://hostile.example/p"),
                   F.col("doc_id").cast("string"))
    return docs.select(
        url.alias("url"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")) +
         F.make_interval(secs=F.col("doc_id"))).alias("warc_ts"),
        F.encode(html, "utf-8").alias("html"),
        F.col("text"), F.col("lang"), F.col("doc_id"),
    )


# Oracle-side SQL fragments (DuckDB) matching template 0 -- kept next to the
# template so they evolve together.
ORACLE_EXTRACTED_TEXT = "'home about' || text || 'contact © 2026'"
ORACLE_MAIN_TEXT = "text"
ORACLE_TITLE = "'Doc ' || CAST(doc_id AS VARCHAR)"

# Variant-corpus closed forms (tile/variants cycle: variant = (doc_id+rep)%4).
# The tag-soup wrappers of templates 1-3 are constants, so the REPAIRED
# extraction output is still an exact SQL function of `documents`: each
# variant contributes a fixed text prefix ahead of the nav/core (measured
# against the parser; a drift in any repair rule shifts these and breaks the
# extract_text_variants oracle loudly).  chr(160) is the decoded &nbsp;.
ORACLE_VARIANT_PREFIX = (
    "CASE (doc_id + rep) % 4 "
    "WHEN 1 THEN 'leftx' "
    "WHEN 2 THEN 'bullet onetwo ' || chr(160) || '&bogus; ABthree' "
    "WHEN 3 THEN 'headerTitle' "
    "ELSE '' END")
# span counts: v0 nav/text/footer; v1 +left,x; v2 +bullet,two,three;
# v3 +header,Title -- minus the text span when the document text is empty
ORACLE_VARIANT_NSPANS = (
    "CASE (doc_id + rep) % 4 WHEN 0 THEN 2 WHEN 2 THEN 5 ELSE 4 END "
    "+ CASE WHEN LENGTH(text) > 0 THEN 1 ELSE 0 END")


# --- structured-extraction corpora (round 7) --------------------------------
# Each doc carries TWO logical tables with identical shape but different
# values; table 0 is fully closed, table 1 leans on the DTD's optional end
# tags (</th>/</td>/</tr> omitted) AND the omissible TBODY start tag, so the
# repaired grids must come out identical modulo cell values -- the oracle is
# therefore a closed-form UNNEST over `documents` and any drift in the
# table-repair rules (resolve-table inserts TBODY; TD/TH/TR auto-close)
# breaks the gate loudly.

def pages_with_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize pages whose bodies hold a well-formed and a tag-soup
    <table>, cells closed-form in doc_id/n_chars/lang/source."""
    docs = read_table(spark, sf_dir, "documents")
    nstr = F.col("doc_id").cast("string")
    lenstr = F.col("n_chars").cast("string")
    table_a = F.concat(
        F.lit("<table><tr><th>k</th><th>v</th></tr>"
              "<tr><td>doc</td><td>"), nstr,
        F.lit("</td></tr><tr><td>len</td><td>"), lenstr,
        F.lit("</td></tr></table>"))
    table_b = F.concat(
        F.lit("<table><tr><th>f<th>w<tr><td>lang<td>"), F.col("lang"),
        F.lit("<tr><td>src<td>"), F.col("source"), F.lit("</table>"))
    html = F.concat(
        F.lit("<html><head><title>T</title></head><body>"),
        table_a, F.lit("<p>"), _esc(F.col("text")), F.lit("</p>"),
        table_b, F.lit("</body></html>"))
    url = F.concat(F.lit("https://tables.example/p"), nstr)
    return docs.select(
        url.alias("url"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")) +
         F.make_interval(secs=F.col("doc_id"))).alias("warc_ts"),
        F.encode(html, "utf-8").alias("html"),
        F.col("text"), F.col("lang"), F.col("doc_id"),
    )


def pages_with_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize pages carrying the head-metadata surface a CC-style
    pipeline keeps per document: <html lang>, <title>, <meta
    name=description>, an RDFa <meta property="og:title"> (undeclared in
    the HTML-4 DTD -- value-attrs are kept verbatim, the mungle-attlist
    rule the extractor depends on), and <link rel=canonical>."""
    docs = read_table(spark, sf_dir, "documents")
    nstr = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html lang="), F.col("lang"),
        F.lit("><head><title>Doc "), nstr,
        F.lit('</title><meta name=description content="Summary of doc '),
        nstr,
        F.lit('"><meta property="og:title" content="OG Doc '), nstr,
        F.lit('"><link rel=canonical href="https://canon.example/p'), nstr,
        F.lit('"><script type="application/ld+json">'
              '{"@type": "Article", "headline": "Doc '), nstr,
        F.lit('", "wordCount": '), F.col("n_chars").cast("string"),
        F.lit('}</script></head><body><h1>Heading '), nstr,
        F.lit("</h1><p>"), _esc(F.col("text")),
        F.lit("</p></body></html>"))
    url = F.concat(F.lit("https://meta.example/p"), nstr)
    return docs.select(
        url.alias("url"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")) +
         F.make_interval(secs=F.col("doc_id"))).alias("warc_ts"),
        F.encode(html, "utf-8").alias("html"),
        F.col("text"), F.col("lang"), F.col("doc_id"),
    )
