"""PDF extraction as a Spark stage + deterministic pdf-corpus synthesis.

north_rule tier: "main-content extraction pipeline (HTML boilerplate
strip, PDF/layout parse, DOM heuristics)" -- this module is the PDF leg.
One pipeline.doc_stage like extract_pages: ids zero-copy, and the
per-doc parser (closure_html_spark.pdf) never raises.

Synthesis mirrors pages.pages_from_documents: minimal but REAL PDF files
(header, catalog/pages/page objects, an uncompressed content stream with
two BT..ET text blocks -- title line + body line -- and a Type1 font
object) built entirely from JVM-side column expressions, so the expected
extraction is a closed-form SQL function of `documents`:
    pdf_text == 'Doc ' || doc_id || chr(10) || text   (title \n body)
with the body line absent when text is empty.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from closure_html_spark.spark.tables import read_table


def _esc_pdf(col):
    # PDF literal-string escapes: backslash first, then parens
    return F.replace(
        F.replace(
            F.replace(col, F.lit("\\"), F.lit("\\\\")),
            F.lit("("), F.lit("\\(")),
        F.lit(")"), F.lit("\\)"))


def pdfs_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents") \
        .select("doc_id", "text")
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    content = F.concat(
        F.lit("BT /F1 12 Tf 72 720 Td ("), _esc_pdf(title),
        F.lit(") Tj ET\nBT /F1 10 Tf 72 700 Td ("),
        _esc_pdf(F.col("text")), F.lit(") Tj ET"))
    pdf = F.concat(
        F.lit("%PDF-1.4\n"
              "1 0 obj<</Type/Catalog/Pages 2 0 R>>endobj\n"
              "2 0 obj<</Type/Pages/Kids[3 0 R]/Count 1>>endobj\n"
              "3 0 obj<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]"
              "/Contents 4 0 R/Resources<</Font<</F1 5 0 R>>>>>>endobj\n"
              "4 0 obj<</Length "),
        # /Length is a BYTE count: octet length of the utf-8-encoded
        # stream, not the character count (the in-repo parser ignores
        # /Length; conforming external readers do not)
        F.length(F.encode(content, "utf-8")).cast("string"),
        F.lit(">>stream\n"), content, F.lit("\nendstream\nendobj\n"
              "5 0 obj<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>"
              "endobj\ntrailer<</Root 1 0 R>>\n%%EOF\n"))
    return docs.select("doc_id",
                       F.encode(pdf, "utf-8").alias("pdf"),
                       "text")


def pdf_extract_pages(df: DataFrame, id_cols: tuple[str, ...]) -> DataFrame:
    """PDF text extraction over a `pdf binary` column, one row per input
    row; a null or broken PDF keeps its row with the error marker."""
    from ..pdf import extract_pdf_text
    from .pipeline import doc_stage

    def columns_of(batch):
        texts, n_streams, errors = [], [], []
        for raw in batch.column("pdf").to_pylist():
            res = extract_pdf_text(bytes(raw) if raw is not None else b"")
            texts.append(res["pdf_text"])
            n_streams.append(res["n_streams"])
            errors.append(res["error"])
        return None, [texts, n_streams, errors]

    return doc_stage(df, id_cols, ["pdf"],
                     "pdf_text string, n_streams int, pdf_error string",
                     columns_of)


def q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: synthesize the pdf corpus, extract, return per-doc
    text -- the oracle replays the closed form (title \\n body)."""
    pdfs = pdfs_from_documents(spark, sf_dir)
    ext = pdf_extract_pages(pdfs, id_cols=("doc_id",))
    return (ext.select("doc_id", "pdf_text", "n_streams")
            .orderBy("doc_id"))


ORACLE_PDF_EXTRACT = """
SELECT doc_id,
       CASE WHEN LENGTH(text) > 0
            THEN 'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || text
            ELSE 'Doc ' || CAST(doc_id AS VARCHAR) END AS pdf_text,
       1 AS n_streams
FROM documents ORDER BY doc_id
"""
