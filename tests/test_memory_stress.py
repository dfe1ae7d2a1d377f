"""Memory-bound stress for the extract stage (round-6 verdict #4).

SURVEY hard part (e): the per-doc byte cap (pipeline.py, 64 MiB
default) truncates oversize documents, but nothing pinned the peak
worker RSS when every doc in a batch sits AT the cap.  This module
drives cap-size tag-dense docs (the worst measured amplification
shape) through a small worker pool and asserts completion, oversize
accounting, and that per-worker peak RSS obeys the sizing rule
documented in SCALE.md:

    worker_peak ~= interpreter base (~100 MB with Arrow, no pandas)
                 + A x MAX_DOC_BYTES   (ONE doc's DOM at a time;
                   A ~= 19 measured for tag-dense soup, ~2 for
                   pcdata floods)
                 + B x Arrow byte cap  (one batch of pages; B ~= 25
                   measured on crawl pages at the 1 MiB cap)
                 + 2 x R               (a raw page of R bytes past the
                   byte cap arrives whole, held as Arrow and as bytes)

With the default 64 MiB per-doc cap and pages of at most that size it
budgets ~1.5 GB per Python worker (spark.executor.pyspark.memory=2g at
one worker per core); the test scales the same rule down to a 2 MiB
per-doc cap so it runs in seconds.
"""

import pytest
from pyspark.sql import functions as F

from closure_html_spark.spark import pipeline
from closure_html_spark.spark.pipeline import extract_pages
from closure_html_spark.spark.session import ARROW_BATCH_CAPS

CAP = 2 << 20  # 2 MiB per-doc cap for the test

# tag-dense unit: the worst measured amplification shape (~19x input
# bytes as DOM nodes)
_UNIT = '<p>word soup here with <a href="/x">a link</a> and more</p>'


def _pages(spark, n_docs: int, doc_bytes: int):
    reps = doc_bytes // len(_UNIT) + 1
    html = F.concat(
        F.lit("<html><head><title>T</title></head><body>"),
        F.repeat(F.lit(_UNIT), reps))
    return (spark.range(n_docs)
            .select(F.concat(F.lit("https://m.example/p"),
                             F.col("id").cast("string")).alias("url"),
                    F.encode(html, "utf-8").alias("html")))


def test_oversize_batch_completes_with_accounting(spark, monkeypatch):
    """8 docs, each ~1.5x the cap, through 4 partitions: the stage must
    complete (truncation, not OOM/kill), and EVERY row must carry the
    oversize accounting -- charset='error:oversize', one level-5 warn
    counted, n_warns incremented (pipeline.py oversize branch)."""
    pages = _pages(spark, 8, int(CAP * 1.5)).repartition(4)
    monkeypatch.setattr(pipeline, "MAX_DOC_BYTES", CAP)
    ext = extract_pages(pages, id_cols=("url",))
    rows = ext.select("url", "charset", "n_warns",
                      F.element_at("warn_levels", 5).alias("lv5"),
                      F.length("extracted_text").alias("tl")).collect()
    assert len(rows) == 8
    for r in rows:
        assert r.charset == "error:oversize", r
        assert r.lv5 >= 1, r
        assert r.n_warns >= 1, r
        # truncated to the cap, then parsed: extracted text is bounded
        # by the cap, not the original size
        assert 0 < r.tl <= CAP, r


def test_worker_peak_rss_obeys_sizing_rule(spark, monkeypatch):
    """Drive 16 AT-cap tag-dense docs through 4 concurrent workers,
    then probe the reused workers' high-water RSS: each must sit under
    base + A x cap + B x byte cap + 2 x R with the measured A=19, B=25
    and 50% slack -- the SCALE.md rule scaled to this test's 2 MiB
    per-doc cap, the session's 1 MiB byte cap and R = 2 MiB pages
    (167 MB, 250 MB with the slack).  The probe is a mapInArrow and
    imports nothing the worker does not already hold before it reads
    its high-water mark.
    A doc whose DOM exceeded the rule (e.g. a per-batch leak, or all
    batch docs' DOMs alive at once) would blow well past it."""
    pages = _pages(spark, 16, CAP - 4096).repartition(4)
    monkeypatch.setattr(pipeline, "MAX_DOC_BYTES", CAP)
    ext = extract_pages(pages, id_cols=("url",))
    agg = ext.agg(F.sum(F.length("extracted_text")),
                  F.sum("n_nodes")).collect()[0]
    assert agg[0] > 0 and agg[1] > 0

    def probe(batches):
        import os
        import resource

        import pyarrow as pa
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "rss_mb": [resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                       / 1024.0]})

    peaks = (spark.range(4).repartition(4)
             .mapInArrow(probe, "pid long, rss_mb double").collect())
    warm = [r.rss_mb for r in peaks if r.rss_mb > 100.0]
    if not warm:
        pytest.skip("worker pool was recycled; no warm worker probed")
    mib = 1 << 20
    byte_cap = int(ARROW_BATCH_CAPS[
        "spark.sql.execution.arrow.maxBytesPerBatch"])
    budget_mb = 100 + 19 * CAP / mib + 25 * byte_cap / mib + 2 * CAP / mib
    assert max(warm) < budget_mb * 1.5, \
        f"worker peak {max(warm):.0f} MB exceeds sizing rule " \
        f"({budget_mb:.0f} MB + 50% slack)"
