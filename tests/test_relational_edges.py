"""Edge-case pins from the round-5 advice: the PII phone pattern must
actually fire, the WARC/PDF stage schemas must survive 0 or 2+ id
columns, and the synthesized PDF /Length must be a byte count."""

import re

from pyspark.sql import functions as F

from closure_html_spark.spark import relational as R

SF = "/root/testdata/sf0.001"


def test_pii_phone_redaction_fires(spark):
    """Every synthesized doc carries one NANP 3-3-4 phone: n_phones >= 1
    and the [PHONE] placeholder appears in the redacted text (the old
    3-4-4 synthesis never matched PII_PHONE_RE, so the gate was green
    without ever exercising the phone path)."""
    out = R.q_pii_redact(spark, SF)
    agg = out.agg(F.min("n_phones").alias("lo"),
                  F.min("n_emails").alias("le"),
                  F.min("n_ips").alias("li")).collect()[0]
    assert agg["lo"] >= 1 and agg["le"] >= 1 and agg["li"] >= 1
    row = out.limit(1).collect()[0]
    assert "[PHONE]" in row["clean_text"]
    assert "[EMAIL]" in row["clean_text"]
    assert "[IP]" in row["clean_text"]


def test_warc_stage_two_id_columns(spark):
    """id_ddl used to join fragments that each carried a trailing ', ',
    producing invalid DDL for 2+ id columns."""
    from closure_html_spark.spark.warcs import (
        warc_records_to_pages, warcs_from_documents)
    recs = warcs_from_documents(spark, SF).withColumn(
        "shard", (F.col("doc_id") % 4).cast("int"))
    pages = warc_records_to_pages(recs.limit(8),
                                  id_cols=("doc_id", "shard"))
    rows = pages.collect()
    assert len(rows) == 8
    assert {"doc_id", "shard", "url", "html"} <= set(pages.columns)


def test_pdf_stage_zero_and_two_id_columns(spark):
    """The sibling bug: a leading comma when id_cols is empty."""
    from closure_html_spark.spark.pdfs import (
        pdf_extract_pages, pdfs_from_documents)
    pdfs = pdfs_from_documents(spark, SF).limit(4)
    no_ids = pdf_extract_pages(pdfs, id_cols=())
    assert no_ids.count() == 4
    two = pdf_extract_pages(
        pdfs.withColumn("shard", F.lit(1)), id_cols=("doc_id", "shard"))
    assert {"doc_id", "shard", "pdf_text"} <= set(two.columns)
    assert two.count() == 4


def test_pdf_length_is_byte_count(spark, tmp_path):
    """/Length must equal the utf-8 BYTE length of the stream content --
    pin it with a non-ASCII body where chars != bytes."""
    from closure_html_spark.spark.pdfs import pdfs_from_documents
    d = tmp_path / "documents.parquet"
    spark.createDataFrame([(1, "café °degrees")],
                          "doc_id long, text string") \
        .write.parquet(str(d))
    raw = bytes(pdfs_from_documents(spark, str(tmp_path))
                .collect()[0]["pdf"])
    m = re.search(rb"/Length (\d+)>>stream\n(.*?)\nendstream", raw,
                  re.DOTALL)
    assert m, raw[:200]
    assert int(m.group(1)) == len(m.group(2))
    assert len(m.group(2)) > len(m.group(2).decode("utf-8"))


def test_quality_budget_select_edges(spark, monkeypatch):
    """Budget >= corpus selects everything; tiny budget selects only the
    top stratum prefix; totals respect the budget boundary exactly."""
    from closure_html_spark.spark import relational as R
    SF = "/root/testdata/sf0.001"
    monkeypatch.setattr(R, "QUALITY_BUDGET", 10**9)
    allr = R.q_quality_budget_select(spark, SF).collect()
    assert all(r.selected for r in allr)
    monkeypatch.setattr(R, "QUALITY_BUDGET", 500)
    few = R.q_quality_budget_select(spark, SF).collect()
    sel = [r for r in few if r.selected]
    tot = sum(r.n_tokens for r in sel)
    # selection stops at the first doc crossing the budget: under
    # budget without the last pick, at-or-over with it
    assert tot >= 500 or len(sel) == len(few)
    assert tot - max(r.n_tokens for r in sel) < 500
    # priority: every selected doc outranks every unselected one
    lo = min((r.score, r.doc_id) for r in sel)
    hi = max(((r.score, r.doc_id) for r in few if not r.selected),
             default=None)
    assert hi is None or hi[0] <= lo[0]


def test_dsir_weights_discrimination_and_shape(spark, tmp_path):
    """DSIR audit: (a) on a corpus where the target slice has a
    distinctive vocabulary, target-like docs must score strictly higher
    log importance weights than off-target docs; (b) an empty doc gets
    n_words=0 / NULL weight; (c) scoring is map-side -- the ONLY hash
    exchange in the plan is the n_buckets-keyed count agg (no per-doc
    groupBy of corpus-sized keys)."""
    from pyspark.sql import functions as F
    from closure_html_spark.spark import relational as R
    rows = []
    for i in range(40):
        rows.append((i, "wiki prose citation neutral paragraph", "en"))
    for i in range(40, 80):
        rows.append((i, "click buy cheap deal spam offer now", "de"))
    rows.append((80, "", "en"))
    # a raw doc written in target vocabulary but labeled off-target:
    # DSIR must still score it HIGH (content, not label, drives it)
    rows.append((81, "wiki prose citation neutral paragraph", "de"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = {r["doc_id"]: r
           for r in R.q_dsir_weights(spark, str(tmp_path)).collect()}
    assert len(got) == 82
    assert got[80]["n_words"] == 0 and got[80]["dsir_logw"] is None
    en_like = got[0]["dsir_logw"]
    spam = got[40]["dsir_logw"]
    assert en_like > spam, (en_like, spam)
    assert got[81]["dsir_logw"] == en_like, "label leaked into scoring"
    plan = (R.q_dsir_weights(spark, str(tmp_path))
            ._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    # bucket-count agg = 1 exchange; model map + tot aggs are single-
    # partition exchanges (tiny); NO exchange keyed on doc_id
    assert "hashpartitioning(doc_id" not in plan, plan


def test_vocab_hll_accuracy_both_branches(spark, tmp_path):
    """HLL audit: (a) the raw-estimator branch (cardinality >> 2.5m) must
    land within the sketch's 3-sigma band (~3*1.04/sqrt(1024) = 9.7%) on
    a 30k-distinct corpus; (b) the linear-counting branch (tiny
    cardinality) is near-exact; (c) the only wide exchange is the
    register agg (keys = 2^p), never the word set."""
    from pyspark.sql import functions as F
    from closure_html_spark.spark import relational as R
    # high-cardinality corpus: 3000 docs x 10 unique words each
    df = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.concat(F.lit(f"w{j}_"), F.col("id").cast("string"))
            for j in range(10)]).alias("text"),
        F.lit("en").alias("lang"))
    df.write.parquet(str(tmp_path / "documents.parquet"))
    row = R.q_vocab_hll(spark, str(tmp_path)).collect()[0]
    exact = 30_000
    rel_err = abs(row["est_distinct"] - exact) / exact
    assert rel_err < 0.097, (row["est_distinct"], rel_err)
    assert row["zero_registers"] == 0  # saturated: raw branch taken
    # linear-counting branch: the pinned tiny corpus (31 distinct words)
    small = R.q_vocab_hll(spark, "/root/testdata/sf0.001").collect()[0]
    assert small["zero_registers"] > 0
    assert abs(small["est_distinct"] - 31) / 31 < 0.05
    plan = (R.q_vocab_hll(spark, str(tmp_path))
            ._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert "hashpartitioning(reg" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_corpus_split_growth_stability_and_proportions(spark, tmp_path):
    """The split must be a pure function of doc_id: growing the corpus
    (the incremental-crawl case) cannot move any existing doc across
    splits -- the eval-leak guarantee -- and observed proportions must
    track the 5/5/90 thresholds within hash tolerance."""
    from pyspark.sql import functions as F
    from closure_html_spark.spark import relational as R
    bucket = R.md5_shard(F.col("doc_id"), 100)
    split = (F.when(bucket < 5, "valid").when(bucket < 10, "test")
             .otherwise("train"))
    small = spark.range(2000).select(F.col("id").alias("doc_id"),
                                     split.alias("s"))
    grown = spark.range(4000).select(F.col("id").alias("doc_id"),
                                     split.alias("s"))
    a = dict(small.collect())
    b = dict(grown.collect())
    assert all(b[k] == v for k, v in a.items()), "growth moved a doc"
    from collections import Counter
    c = Counter(b.values())
    assert abs(c["valid"] / 4000 - 0.05) < 0.02
    assert abs(c["test"] / 4000 - 0.05) < 0.02
    assert c["train"] / 4000 > 0.85


def test_cms_overestimate_guarantee_under_collisions(spark, tmp_path):
    """CMS must NEVER underestimate, and with 30k distinct words rammed
    into width=256 counters the min-over-depth estimate must stay within
    the eps*N bound (eps = e/width) for every probe."""
    import duckdb
    import math
    from pyspark.sql import functions as F
    from closure_html_spark.spark import relational as R
    df = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.concat(F.lit(f"w{j}_"), F.col("id").cast("string"))
            for j in range(10)]).alias("text"),
        F.lit("en").alias("lang"))
    df.write.parquet(str(tmp_path / "documents.parquet"))
    est = {r["word"]: r["est_count"]
           for r in R.q_cms_word_freq(spark, str(tmp_path)).collect()}
    assert len(est) == 10  # doc 0's 10 unique words
    n_total = 30_000
    eps_bound = math.e / 256 * n_total
    for w, e in est.items():
        true = 1  # every word in this fixture is unique
        assert e >= true, (w, e)
        assert e <= true + eps_bound, (w, e, eps_bound)


def test_token_quantiles_accuracy_heavy_tail(spark, tmp_path):
    """Quantile-sketch audit on a Zipf-ish heavy-tail corpus: every
    estimate must sit within the binning's guaranteed band
    [true_lower_bin_bound, true], i.e. relative error < 2^-4 + one
    rank-step, across p50/p90/p99.  Also pins the bin round-trip
    property lo(bin(v)) <= v < lo(next bin)."""
    from pyspark.sql import functions as F
    from closure_html_spark.spark import relational as R
    # doc i has ~ 10 + (i % 7)^3 * (1 + i % 13) words: long tail to 2k+
    rows = []
    for i in range(2000):
        n = 10 + (i % 7) ** 3 * (1 + i % 13)
        rows.append((i, " ".join(f"w{j}" for j in range(n)), "en"))
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    got = {r["q"]: r["est_tokens"]
           for r in R.q_token_quantiles(spark, str(tmp_path)).collect()}
    import math
    counts = sorted(10 + (i % 7) ** 3 * (1 + i % 13) for i in range(2000))
    for q, est in got.items():
        true = counts[min(len(counts) - 1,
                          math.ceil(q * len(counts)) - 1)]
        assert est <= true, (q, est, true)
        assert est >= true * (1 - 2 ** -4) - 1, (q, est, true)
    # binning round-trip: lo(bin(v)) <= v for representative v
    for v in (0, 1, 15, 16, 17, 31, 32, 100, 1000, 123456):
        if v < 16:
            b, lo = v, v
        else:
            e = v.bit_length() - 1
            sub = (v >> (e - 4)) & 15
            b = 16 * (e - 3) + sub
            lo = (16 + sub) << (e - 4)
        assert lo <= v < lo + max(1, 1 << max(0, (b // 16 + 3 - 4))), v


def test_feed_entries_tolerant_reader(spark):
    """feed_entries edges: an RSS item without a pubDate keeps its row
    with pub_epoch NULL; a feed body whose root is Atom dispatches on
    <entry> even if an embedded <item> string appears in a title;
    malformed dates -> NULL, never an exception."""
    from closure_html_spark.spark import relational as R
    rows = [
        (1, '<rss version="2.0"><channel>'
            '<item><link>https://a/1</link><title>t1</title></item>'
            '<item><link>https://a/2</link><title>t2</title>'
            '<pubDate>not a date</pubDate></item>'
            '</channel></rss>'),
        (2, '<feed xmlns="http://www.w3.org/2005/Atom">'
            '<entry><link href="https://b/1"/><title>has &lt;item&gt; '
            'text</title><updated>2024-06-01T12:00:00Z</updated></entry>'
            '</feed>'),
    ]
    df = spark.createDataFrame(rows, "host long, feed string")
    got = {(r["host"], r["url"]): r
           for r in R.feed_entries(df).collect()}
    assert len(got) == 3
    assert got[(1, "https://a/1")]["pub_epoch"] is None
    assert got[(1, "https://a/2")]["pub_epoch"] is None  # malformed
    assert got[(2, "https://b/1")]["kind"] == "atom"
    assert got[(2, "https://b/1")]["pub_epoch"] == 1717243200


def test_feed_entries_multiline_bodies(spark):
    """Real feeds put newlines inside every <item>/<entry> block; the
    (?s)-prefixed extraction must yield the same entries as the
    single-line form (Java regex '.' does not cross newlines without
    DOTALL -- the round-8 ADVICE fix)."""
    from closure_html_spark.spark import relational as R
    rows = [
        (1, '<rss version="2.0"><channel>\n'
            '  <item>\n    <link>https://m/1</link>\n'
            '    <title>t1</title>\n'
            '    <pubDate>Mon, 01 Jan 2024 00:00:00 GMT</pubDate>\n'
            '  </item>\n  <item>\n    <link>https://m/2</link>\n'
            '    <title>t2</title>\n  </item>\n'
            '</channel></rss>'),
        (2, '<feed xmlns="http://www.w3.org/2005/Atom">\n'
            '  <entry>\n    <link href="https://n/1"/>\n'
            '    <title>a1</title>\n'
            '    <updated>2024-01-01T00:00:00Z</updated>\n'
            '  </entry>\n</feed>'),
    ]
    df = spark.createDataFrame(rows, "host long, feed string")
    got = {(r["host"], r["url"]): r
           for r in R.feed_entries(df).collect()}
    assert set(got) == {(1, "https://m/1"), (1, "https://m/2"),
                        (2, "https://n/1")}
    assert got[(1, "https://m/1")]["pub_epoch"] == 1704067200
    assert got[(2, "https://n/1")]["pub_epoch"] == 1704067200
    assert got[(1, "https://m/2")]["pub_epoch"] is None
