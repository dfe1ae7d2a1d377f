"""Relational + training-data query pack (SURVEY.md §2.10).

The reference is a per-document transform library with no relational ops;
this module supplies the relational shell an extraction engine needs around
it, each query expressed Spark-first (DataFrame API, broadcast hints where
the dimension is small, JVM-side functions only -- no Python UDFs) and
paired with an ANSI-SQL oracle run by DuckDB in __spark_entry__.py.

Also includes the training-data-pipeline operators (dedup, text analysis,
similarity search) over the documents/embeddings tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# every table read: schema and row count from the parquet footers, no job
from closure_html_spark.spark.tables import (
    parquet_files as _parquet_files, parquet_n_rows as _parquet_n_rows,
    read_table as _t)
# the one Arrow stage every Python kernel below runs through
from closure_html_spark.spark.pipeline import doc_stage


# ---------------------------------------------------------------------------
# Constants a query shares with the DuckDB oracle that replays it, or with
# other queries: each is declared once, so a query and its gate cannot drift
# apart

# MinHash signature width and LSH band count (N_HASHES // N_BANDS minima
# per band), the estimated-Jaccard cut of minhash_est_pairs,
# incremental_dedup and decontaminate_fuzzy, and text_dedup's stricter one
N_HASHES = 16
N_BANDS = 4
EST_JACCARD_MIN = 0.5
TEXT_DEDUP_MIN = 0.7
# the hot-bucket cap (_cap_buckets) of the candidate-pair queries: 64x the
# ~2^10 rows/bucket the LSH sizing rules aim at
MAX_BUCKET = 65536
# connected_components labels a pair graph of at most this many pairs on
# the driver (16 MiB of int64 ids at the gate; union-find CPU and peak
# memory measured in SCALE.md) and runs large-star/small-star rounds in
# Spark above it
CC_DRIVER_MAX_PAIRS = 1 << 20
# the ANN family's result depth and query side (vec_id < N_QUERIES)
TOP_K = 5
N_QUERIES = 3
# the embedding near-dup cosine cut: embedding_neardup(_lsh),
# neardup_clusters and semantic_dedup
COSINE_MIN = 0.4
# random-hyperplane LSH band count, and the floor of lsh_band_bits (bits
# per band), which is its value at every corpus of up to 2^14 rows and the
# width the LSH oracles are built at
RHP_BANDS = 8
BAND_BITS = 4
# IVF cells probed per query, and the IVF cell count
N_PROBE = 4
N_CELLS = 16
# product quantization: subspaces per vector, sub-centroids per subspace
# (4-bit codes)
PQ_M = 8
PQ_SUB_CENTS = 16
# jaccard_pairs' similarity cut and shingle document-frequency cap
JACCARD_THRESHOLD = 0.5
JACCARD_MAX_DF = 50
# paragraph-dedup chunk sizes (words): the toy report, the C4-style span
TOY_CHUNK_WORDS = 3
C4_CHUNK_WORDS = 50
# keywords per document in tfidf_topk; PageRank iterations and damping
TFIDF_K = 3
PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85
# winnowing k-gram length and window width
WINNOW_K = 8
WINNOW_W = 16
# corpus_sample's per-language keep rates, out of SAMPLE_DENOM
SAMPLE_RATES = {"en": 600, "de": 300}
SAMPLE_DENOM = 1000
# sequence packing's context window (tokens) and output shard count, for
# pack_sequences and the corpus_to_sequences chain
PACK_BUDGET = 512
PACK_SHARDS = 8
# the eval split (doc_id % EVAL_MOD == 0) of both decontamination scrubs,
# and the exact scrub's word n-gram length
EVAL_MOD = 7
DECON_N = 8
# domain_mix's alpha-sampling temperature
MIX_ALPHA = 0.3
# incremental_dedup's batch: doc_id % BATCH_MOD >= BATCH_MIN
BATCH_MOD = 10
BATCH_MIN = 8
# the quality classifier's gradient-descent iterations and learning rate
QC_ITERS = 5
QC_LR = 2.0
# the BPE gate's merge count and word-counter cut
BPE_MERGES = 8
BPE_TOP_WORDS = 200
# the bigram LM's vocabulary cut and add-k smoothing constant
LM_TOP_VOCAB = 500
LM_K = 0.5
# the exact-substring family's window length (words), and the distinct
# documents that make a window a duplicate
SPAN_W = 8
SPAN_MIN_DOCS = 2
# corpus_shuffle's output shard count and seed
SHUFFLE_SHARDS = 8
SHUFFLE_SEED = "s0"
# captures per url in url_revisit's synthesized archive
REVISIT_SNAPSHOTS = 3
# quality_budget_select's token budget
QUALITY_BUDGET = 20000
# the share of a host's pages on which a line counts as boilerplate
BOILERPLATE_MIN = 0.6
# url_blocklist's domain rules
BLOCKLIST = ("host7.example", "news.host3.example")
# BM25's query terms, result depth and Okapi k1 (saturation) / b (length
# normalization)
BM25_TERMS = ("spark", "window", "join")
BM25_K = 20
BM25_K1 = 1.2
BM25_B = 0.75
# DSIR's hashed-unigram bucket count, add-k smoothing and target slice
DSIR_BUCKETS = 256
DSIR_SMOOTHING = 0.5
DSIR_TARGET = "en"
# HyperLogLog precision: 2^HLL_P registers
HLL_P = 10
# corpus_split: percent of md5_shard(doc_id, 100) buckets in valid / test
SPLIT_VALID_PCT = 5
SPLIT_TEST_PCT = 5
# count-min sketch rows and counters per row, and the doc the gate probes
CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_PROBE_DOC = 0
# the quantiles token_quantiles reports
QUANTILES = (0.5, 0.9, 0.99)


# ---------------------------------------------------------------------------
# TPC-H-ish relational shell

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 analog: map-side partial agg -> single shuffle on tiny key."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                  .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_top_revenue_nations(spark, sf_dir):
    """3-way join with broadcast dims: revenue per nation."""
    li = _t(spark, sf_dir, "lineitem")
    ords = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    return (li.join(ords, li.l_orderkey == ords.o_orderkey)
            .join(F.broadcast(cust), ords.o_custkey == cust.c_custkey)
            .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                  .alias("revenue"),
                 F.count(F.lit(1)).alias("n_items"))
            .orderBy(F.desc("revenue"), "n_name"))


ORACLE_TOP_REVENUE = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_order_priority(spark, sf_dir):
    """Semi-join shape: orders with at least one late lineitem."""
    ords = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (ords.join(li.select("l_orderkey").distinct(),
                      ords.o_orderkey == F.col("l_orderkey"), "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
            .orderBy("o_orderpriority"))


ORACLE_ORDER_PRIORITY = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_window_user_events(spark, sf_dir):
    """Window functions over the event stream: per-user ordering + lag."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.select(
        "event_id", "user_id",
        F.row_number().over(w).alias("seq"),
        F.lag("event_type", 1).over(w).alias("prev_type"),
        F.round(F.sum("value").over(
            w.rowsBetween(Window.unboundedPreceding, 0)), 2).alias("run_value")))


ORACLE_WINDOW = """
SELECT event_id, user_id,
       CAST(ROW_NUMBER() OVER w AS INT) AS seq,
       LAG(event_type, 1) OVER w AS prev_type,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_sessionize(spark, sf_dir):
    """Session windows: 30-minute inactivity gap -> session ids per user."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.col("ts") - F.lag("ts", 1).over(w)) > F.expr("INTERVAL 1800 SECONDS")
    with_flag = ev.withColumn(
        "new_sess", F.when(gap | F.lag("ts", 1).over(w).isNull(), 1).otherwise(0))
    sess = with_flag.withColumn(
        "session_no",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (sess.groupBy("user_id", "session_no")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("session_value"))
            .orderBy("user_id", "session_no"))


ORACLE_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > INTERVAL 1800 SECONDS
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, value,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
  FROM flagged
)
SELECT user_id, session_no, COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS session_value
FROM sess GROUP BY user_id, session_no ORDER BY user_id, session_no
"""


def q_set_ops(spark, sf_dir):
    """Set operations: large parts never shipped in high-quantity lines."""
    part = (_t(spark, sf_dir, "part")
            .filter(F.col("p_size") > 40).select("p_partkey"))
    li = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_quantity") > 45)
          .select(F.col("l_partkey").alias("p_partkey")))
    return part.distinct().subtract(li.distinct()).orderBy("p_partkey")


ORACLE_SET_OPS = """
SELECT p_partkey FROM part WHERE p_size > 40
EXCEPT
SELECT l_partkey FROM lineitem WHERE l_quantity > 45
ORDER BY p_partkey
"""


def q_string_datetime(spark, sf_dir):
    """String + datetime function surface over orders."""
    ords = _t(spark, sf_dir, "orders")
    return (ords.select(
        "o_orderkey",
        F.upper(F.col("o_orderstatus")).alias("status_u"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.length("o_orderpriority").alias("prio_len"))
        .orderBy("o_orderkey"))


ORACLE_STRING_DATETIME = """
SELECT o_orderkey,
       UPPER(o_orderstatus) AS status_u,
       SUBSTRING(o_orderpriority, 1, 1) AS prio_code,
       CAST(YEAR(o_orderdate) AS INT) AS yr,
       CAST(MONTH(o_orderdate) AS INT) AS mo,
       STRFTIME(o_orderdate, '%Y-%m') AS ym,
       CAST(LENGTH(o_orderpriority) AS INT) AS prio_len
FROM orders ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# Training-data operators over documents / embeddings

def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash: survivors = min doc_id per hash."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.withColumn("h", F.md5(F.col("text")))
            .groupBy("h")
            .agg(F.min("doc_id").alias("survivor"),
                 F.count(F.lit(1)).alias("n_copies"))
            .orderBy("survivor"))


ORACLE_DEDUP_EXACT = """
SELECT MD5(text) AS h, MIN(doc_id) AS survivor, COUNT(*) AS n_copies
FROM documents GROUP BY 1 ORDER BY survivor
"""


# BPE-ish pre-tokenization pattern (GPT-2 style, ASCII+Latin-1 letters --
# identical semantics in Java regex and RE2 so the oracle can replay it)
_BPEISH = (r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-zÀ-ÿ]+| ?[0-9]+"
           r"| ?[^\sA-Za-zÀ-ÿ0-9]+|\s+")


def q_token_stats(spark, sf_dir):
    """Token counting (whitespace + BPE-ish regex) + quality ratios,
    all JVM-side."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    return (docs.select(
        "doc_id",
        F.length("text").alias("n_chars_m"),
        F.size(words).alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPEISH), F.lit(0)))
         .alias("n_bpeish"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
        F.round(F.try_divide(F.size(F.array_distinct(words)), F.size(words)), 4)
         .alias("ttr"))
        .orderBy("doc_id"))


ORACLE_TOKEN_STATS = r"""
SELECT doc_id,
       CAST(LENGTH(text) AS INT) AS n_chars_m,
       CAST(LEN(regexp_split_to_array(TRIM(text), '\s+')) AS INT) AS n_tokens,
       CAST(LEN(regexp_extract_all(text,
         $$'(?:s|t|re|ve|m|ll|d)| ?[A-Za-zÀ-ÿ]+| ?[0-9]+| ?[^\sA-Za-zÀ-ÿ0-9]+|\s+$$))
         AS INT) AS n_bpeish,
       CAST(LEN(list_distinct(regexp_split_to_array(TRIM(text), '\s+'))) AS INT)
         AS n_distinct,
       ROUND(LEN(list_distinct(regexp_split_to_array(TRIM(text), '\s+')))
             / LEN(regexp_split_to_array(TRIM(text), '\s+')), 4) AS ttr
FROM documents ORDER BY doc_id
"""


_EN_STOP = "(the|a|and|of|in|to|is)"


def q_quality_score(spark, sf_dir):
    """Boilerplate-style quality scoring: stopword ratio + mean word length."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    stops = F.size(F.regexp_extract_all(
        F.col("text"), F.lit(r"\b" + _EN_STOP + r"\b"), F.lit(0)))
    return (docs.select(
        "doc_id",
        stops.alias("n_stop"),
        F.round(stops / F.size(words), 4).alias("stop_ratio"),
        F.round((F.length("text") + 1) / F.size(words), 4).alias("mean_wlen"))
        .orderBy("doc_id"))


ORACLE_QUALITY = f"""
SELECT doc_id,
       CAST(LEN(regexp_extract_all(text, '\\b{_EN_STOP}\\b')) AS INT) AS n_stop,
       ROUND(LEN(regexp_extract_all(text, '\\b{_EN_STOP}\\b'))
             / LEN(regexp_split_to_array(TRIM(text), '\\s+')), 4) AS stop_ratio,
       ROUND((LENGTH(text) + 1) / LEN(regexp_split_to_array(TRIM(text), '\\s+')), 4)
         AS mean_wlen
FROM documents ORDER BY doc_id
"""


def q_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 over whitespace-normalized lowercase text."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select("doc_id", F.md5(norm).alias("fp")).orderBy("doc_id")


ORACLE_FINGERPRINT = """
SELECT doc_id, MD5(regexp_replace(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS fp
FROM documents ORDER BY doc_id
"""


def _word_windows(n: int):
    """(zipped, gram, complete) for the n-word windows of `text`: the
    word array zipped against its own 1..n-1 shifted slices, and, over
    one exploded element `z` of it, the window's text and the test that
    it is a complete gram (see _ngrams)."""
    words = F.split(F.trim(F.col("text")), r"\s+")
    cols = [words.alias("w0")] + [
        F.slice(words, i + 1, F.size(words)).alias(f"w{i}")
        for i in range(1, n)]
    gram = F.concat_ws(" ", *[F.col(f"z.w{i}") for i in range(n)])
    return F.arrays_zip(*cols), gram, F.col(f"z.w{n-1}").isNotNull()


def _ngrams(docs, n: int = 3, out: str = "tri"):
    """Exploded word n-gram rows: (doc_id, <out>), SHUFFLE-FREE and fully
    codegen'd.  The grams come from zipping the word array against its own
    1..n-1 shifted slices -- arrays_zip/slice/explode/concat_ws are all
    regular (non-lambda) expressions, so unlike the transform/element_at
    HOF formulation (interpreted, measured 5-10x slower here) everything
    stays inside whole-stage codegen; and unlike the original window-lead
    formulation (lead("w", i) over partitionBy(doc_id)) there is NO
    Exchange: the window version shuffled the EXPLODED WORDS -- ~the full
    text volume -- on doc_id before hashing, which at 100 TB is a
    corpus-sized exchange that the "signatures-only shuffle" design of the
    minhash/jaccard family forbids.  Zip position j carries
    (words[j], ..., words[j+n-1]) with nulls past each slice's end; nulls
    appear in HIGHER fields first, so `last field non-null` <=> a complete
    gram, identical to the old lead-chain filter (plan-asserted by
    test_plans.py: no Exchange below the gram projection)."""
    zipped, gram, complete = _word_windows(n)
    return (docs.select("doc_id", F.explode(zipped).alias("z"))
            .filter(complete).select("doc_id", gram.alias(out)))


def q_ngram_shingles(spark, sf_dir):
    """3-gram shingle sets (the MinHash input representation): count of
    distinct word-trigrams per document."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    return (_ngrams(docs.filter(F.size(words) >= 3))
            .groupBy("doc_id")
            .agg(F.countDistinct("tri").cast("int").alias("n_shingles"))
            .orderBy("doc_id"))


ORACLE_NGRAM = """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS ws
  FROM documents
)
SELECT doc_id,
       CAST(LEN(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
            FOR i IN range(1, LEN(ws) - 1)])) AS INT) AS n_shingles
FROM w WHERE LEN(ws) >= 3 ORDER BY doc_id
"""


def q_jaccard_pairs(spark, sf_dir):
    """Exact word-trigram Jaccard near-duplicate pairs -- the exact
    counterpart MinHash approximates -- via an INVERTED SHINGLE INDEX:
    docs join only on shingles they share, never all-pairs.

    Scale shape: candidate volume = sum over shingles of df^2, bounded by
    the JACCARD_MAX_DF document-frequency cap (a shingle appearing in more
    than JACCARD_MAX_DF docs carries no dedup signal and would otherwise
    quadratically dominate the join -- the standard hot-token guard).
    Jaccard is computed over the df-capped shingle space for both
    numerator and sizes, so J is exact within that space and the DuckDB
    oracle replays it bit-for-bit.  At this corpus max df is 7, so the cap keeps every
    shingle and J is the true Jaccard."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    # guide §2.4: Catalyst does not dedupe common subplans, so
    # unmaterialized, the distinct-shingle frame -- one full explode +
    # exchange over the corpus -- re-executes for every consumer (keep,
    # sizes, both self-join sides: 8 document scans).  The df
    # cap is a count-over-window on the same tri key (one exchange, no
    # groupBy + re-join), and the capped frame is materialized once for
    # its three consumers (ids+shingles only, the incremental_dedup
    # localCheckpoint precedent).
    sh0 = _ngrams(docs.filter(F.size(words) >= 3)) \
        .select("doc_id", "tri").distinct()
    wdf = Window.partitionBy("tri")
    sh = (sh0.withColumn("df", F.count(F.lit(1)).over(wdf))
          .filter(F.col("df") <= JACCARD_MAX_DF).drop("df")
          .localCheckpoint(eager=True))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("a_id"), "tri")
    b = sh.select(F.col("doc_id").alias("b_id"), "tri")
    shared = (a.join(b, "tri")
              .filter(F.col("a_id") < F.col("b_id"))
              .groupBy("a_id", "b_id")
              .agg(F.count(F.lit(1)).alias("shared")))
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("sz").alias("sa"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("sz").alias("sb"))
    return (shared.join(sa, "a_id").join(sb, "b_id")
            .select("a_id", "b_id",
                    F.round(F.col("shared") /
                            (F.col("sa") + F.col("sb") - F.col("shared")),
                            6).alias("jaccard"))
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
            .orderBy("a_id", "b_id"))


ORACLE_JACCARD_PAIRS = f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS ws
  FROM documents
),
sh0 AS (
  SELECT DISTINCT doc_id, tri
  FROM w, UNNEST([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                  FOR i IN range(1, LEN(ws) - 1)]) AS t(tri)
  WHERE LEN(ws) >= 3
),
keep AS (SELECT tri FROM sh0 GROUP BY tri HAVING COUNT(*) <= {JACCARD_MAX_DF}),
sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (tri)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
  FROM sh a JOIN sh b USING (tri)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT s.a_id, s.b_id, ROUND(c / (sa.sz + sb.sz - c), 6) AS jaccard
FROM shared s
JOIN sizes sa ON sa.doc_id = s.a_id
JOIN sizes sb ON sb.doc_id = s.b_id
WHERE ROUND(c / (sa.sz + sb.sz - c), 6) >= {JACCARD_THRESHOLD}
ORDER BY a_id, b_id
"""


def _dot_expr(a, b):
    """Dot product via zip_with/aggregate, left-associated from 0.0 so the
    float result is bit-identical to DuckDB's list_dot_product.  Not 64
    unrolled element_at terms: in an ABBA A/B at sf0.1 (BASELINE.md) they
    ran ~1.7x slower on ann_cosine (2.48 s vs 1.48 s), the generated
    expression exceeding JIT method-size limits."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def _norm_expr(c):
    """sqrt of the same left-associated fold over c's squares."""
    return F.sqrt(F.aggregate(
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))


# --- vectorized embedding kernels (guide §4.2) -------------------------------
#
# The zip_with/aggregate HOF lambdas of _dot_expr are INTERPRETED by the
# JVM expression evaluator (never whole-stage-codegen'd): every element of
# every dot product costs a boxed lambda invocation.  Profiled, the
# embedding family took ~34 s of an 81 s relational total, nearly all of
# it in these folds.  The kernels below move the SAME arithmetic into
# numpy, each a doc_stage body that returns numpy columns (guide §4.2:
# hand whole batches to vectorized native code).  Setup that depends only
# on driver-side values (sign matrices, centroid tables) is built on the
# driver and carried by the closure, so no batch repeats it.
# Bit-exactness: the JVM fold is a left-associated float64 sum seeded at
# 0.0 over float->double casts; the numpy loop accumulates
# `acc = acc + a[:, d] * b[:, d]` column by column -- the identical
# IEEE-754 operation sequence per row, vectorized ACROSS rows -- so every
# dot/norm is bit-identical to _dot_expr's and the DuckDB oracles replay
# unchanged.  Rounding/division stay JVM-side.

# the embedding width every kernel and sign matrix is built for; inputs are
# checked against it (_emb_matrix), never reshaped on trust
_EMB_DIM = 64


def _emb_matrix(col):
    """(n, _EMB_DIM) float32 matrix from an Arrow list<float> column -- the
    exact element sequence zip_with sees, as one contiguous buffer.  A row
    of any other length (or a null row) raises ValueError naming the
    lengths found: a bare reshape would fold ragged rows into their
    neighbours without a trace."""
    import numpy as np
    import pyarrow.compute as pc
    found = set(pc.unique(pc.list_value_length(col)).to_pylist())
    if found - {_EMB_DIM}:
        raise ValueError(f"embeddings must have {_EMB_DIM} elements; found "
                         f"lengths {', '.join(sorted(map(str, found)))}")
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return np.asarray(flat, dtype=np.float32).reshape(-1, _EMB_DIM)


def _np_embs(col):
    """(n, _EMB_DIM) float64 matrix from an Arrow list<float> column (see
    _emb_matrix for the length check)."""
    import numpy as np
    return _emb_matrix(col).astype(np.float64)


def _emb_rows(tbl):
    """(ids ascending, float32 matrix) from an Arrow (vec_id, embedding)
    table."""
    import numpy as np
    ids = np.asarray(tbl.column("vec_id").to_numpy(zero_copy_only=False))
    mat = _emb_matrix(tbl.column("embedding").combine_chunks())
    order = np.argsort(ids)
    return ids[order], mat[order]


def _np_seq_dot(a, b):
    """Row-wise dot of two (n, dim) float64 matrices with the fold's exact
    left-to-right add order (vectorized across rows, sequential across
    dims -- NOT np.dot, whose pairwise/BLAS summation order differs)."""
    import numpy as np
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for d in range(a.shape[1]):
        acc = acc + a[:, d] * b[:, d]
    return acc


def _np_pair_dot(df, a_col: str, b_col: str, keep: list[str]):
    """The `keep` columns of `df` plus `dot` = dot(a_col, b_col) (raw
    double, unrounded), by one numpy pass."""
    def columns_of(b):
        return None, [_np_seq_dot(_np_embs(b.column(a_col)),
                                  _np_embs(b.column(b_col)))]

    return doc_stage(df, tuple(keep), [a_col, b_col], "dot double",
                     columns_of)


# embeddings-side size gate for the pair-rerank kernels: when the WHOLE
# vector table fits a broadcast (the same "broadcast the side that fits"
# judgement as guide §3.1 -- the old plan already shipped every embedding
# to every executor through a BroadcastExchange), the pair rerank ships
# ids only (~16 bytes/pair) and looks vectors up in one broadcast matrix;
# past the gate it falls back to the equi-join + per-pair shipping shape,
# which never holds the table in one piece anywhere.
_EMB_BCAST_MAX_BYTES = 64 << 20


def _local_emb_table(sf_dir: str | None):
    """(sorted ids, float32 matrix) read driver-side straight from a LOCAL
    embeddings.parquet below the broadcast gate -- the footer-stats
    pattern (_parquet_n_rows) extended to the bounded-collection case: it
    saves one Spark job per bounded codebook/query collection.  Returns
    None for non-local/oversized tables; callers fall back to a
    distributed collect."""
    import os
    try:
        import pyarrow.parquet as pq
        files = _parquet_files(sf_dir, "embeddings")
        if files is None or sum(os.path.getsize(f) for f in files) \
                > _EMB_BCAST_MAX_BYTES:
            return None
        tbl = pq.read_table(files, columns=["vec_id", "embedding"])
    except Exception:
        return None
    return _emb_rows(tbl)


def _emb_subset(emb, local, keep):
    """(ids ascending, float64 matrix) of the bounded vector subset whose
    vec_id passes `keep` -- a query or centroid side.  `keep` is applied
    to a numpy id array AND to the vec_id Column, so it must be written
    with operators both accept (`lambda v: v < N_QUERIES`).  `local` is
    _local_emb_table's result, read once per query by the caller: the
    subset is cut from it when there is one (no Spark job), else taken by
    one filtered collect."""
    import numpy as np
    if local is None:
        local = _emb_rows(emb.filter(keep(F.col("vec_id")))
                          .select("vec_id", "embedding").toArrow())
    ids, mat = local
    sel = keep(ids)
    return [int(v) for v in ids[sel]], mat[sel].astype(np.float64)


def _emb_matrix_bcast(emb, local):
    """Broadcast (sorted ids, float32 matrix, float64 norms) of the whole
    embeddings frame, from `local` (the caller's _local_emb_table result)
    or, when that is None, one collect.  Norms use the same sequential
    fold as _np_normed (bit-identical)."""
    import numpy as np
    ids, mat = local if local is not None else _emb_rows(
        emb.select("vec_id", "embedding").toArrow())
    norms = np.sqrt(_np_seq_dot(mat.astype(np.float64),
                                mat.astype(np.float64)))
    return emb.sparkSession.sparkContext.broadcast((ids, mat, norms))


def _np_pair_dot_bcast(pairs, bc, a_id: str, b_id: str):
    """(a_id, b_id, dot, a_norm, b_norm) from an ids-only pair frame and
    the broadcast embedding matrix: the heavy bytes cross the Python
    boundary never (guide §8 -- decide with small rows); the dot is the
    same sequential float64 fold as _dot_expr.  Each batch casts only the
    rows it gathers (exact: a float32 -> float64 cast is lossless)."""
    import numpy as np

    def columns_of(b):
        ids, mat, norms = bc.value
        ai, bi = (np.searchsorted(ids, b.column(c).to_numpy(
            zero_copy_only=False)) for c in (a_id, b_id))
        d = _np_seq_dot(mat[ai].astype(np.float64),
                        mat[bi].astype(np.float64))
        return None, [d, norms[ai], norms[bi]]

    return doc_stage(pairs, (a_id, b_id), [],
                     "dot double, a_norm double, b_norm double", columns_of)


def _np_cent_sims(emb, c_ids, c_mat):
    """(vec_id, c_id, raw) rows -- raw = dot(v, c) / (|v| * |c|) UNROUNDED
    -- for every (vector, centroid) pair, from one numpy kernel with the
    bounded centroid matrix in the closure: the kernel twin of the
    `ev.crossJoin(broadcast(cents))` + interpreted-fold shape (same
    sequential float64 fold + division, so F.round(raw, 6) downstream is
    bit-identical to the old in-join rounding)."""
    import numpy as np
    cid_arr = np.asarray([int(c) for c in c_ids], dtype=np.int64)
    cm = np.asarray(c_mat, dtype=np.float64)
    cn = np.sqrt(_np_seq_dot(cm, cm))
    nc = len(cid_arr)

    def columns_of(b):
        e = _np_embs(b.column("embedding"))
        n = e.shape[0]
        vn = np.sqrt(_np_seq_dot(e, e))
        sims = np.empty((n, nc))
        for ci in range(nc):
            d = _np_seq_dot(e, np.broadcast_to(cm[ci], e.shape))
            sims[:, ci] = d / (vn * cn[ci])
        return np.repeat(np.arange(n), nc), [np.tile(cid_arr, n),
                                             sims.reshape(-1)]

    return doc_stage(emb, ("vec_id",), ["embedding"],
                     "c_id bigint, raw double", columns_of)


def _np_normed(emb):
    """(vec_id, embedding, norm) with norm = sqrt(fold(x^2)) -- the numpy
    twin of the per-vector norm lambda (same sequential add order; IEEE
    sqrt is exact so the result is bit-identical)."""
    import numpy as np

    def columns_of(b):
        e = _np_embs(b.column("embedding"))
        return None, [np.sqrt(_np_seq_dot(e, e))]

    return doc_stage(emb, ("vec_id", "embedding"), ["embedding"],
                     "norm double", columns_of)


def _cosine_rerank(pairs, emb, local, n: int, a: str = "a_id",
                   b: str = "b_id", min_sim: float | None = None):
    """(a, b, sim) for an ids-only candidate frame: sim = dot / (|a| * |b|)
    from the numpy kernels, divided and rounded to 6 places JVM-side, so
    it equals the interpreted-fold cosine bit for bit.  Every candidate
    row gets a row out: a pair that occurs twice is scored twice.

    min_sim keeps only the rows with sim >= min_sim, and drops most of
    the rest before the rounding: round(raw, 6) >= min_sim needs
    raw >= min_sim - 5e-7 (HALF_UP), so a raw cosine below
    min_sim - 1e-6 can never pass, and the BigDecimal round runs only on
    the rows near or above the cut.  Spark orders NaN above every number,
    so a NaN cosine passes the prefilter and meets the exact test as
    before.

    n (the table's row count) decides the shape.  Below the broadcast
    gate the pairs cross the Python boundary as ids only and vectors come
    from one broadcast matrix, built from `local` (the caller's
    _local_emb_table result) when there is one (the old plan shipped
    2 x 64 floats PER PAIR -- ~800 MB at sf0.1 -- through two broadcast
    joins and the Arrow exchange).  Past the gate both sides equi-join
    the normed table and carry their vectors to the kernel; no broadcast
    hint there, since a frame that holds embeddings is exactly what the
    gate judged too big to ship."""
    if n * _EMB_DIM * 4 <= _EMB_BCAST_MAX_BYTES:
        scored = _np_pair_dot_bcast(pairs, _emb_matrix_bcast(emb, local),
                                    a_id=a, b_id=b)
    else:
        normed = _np_normed(emb).localCheckpoint(eager=True)
        ea = normed.select(F.col("vec_id").alias(a),
                           F.col("embedding").alias("a_emb"),
                           F.col("norm").alias("a_norm"))
        eb = normed.select(F.col("vec_id").alias(b),
                           F.col("embedding").alias("b_emb"),
                           F.col("norm").alias("b_norm"))
        scored = _np_pair_dot(pairs.join(ea, a).join(eb, b), "a_emb",
                              "b_emb", keep=[a, b, "a_norm", "b_norm"])
    raw = F.col("dot") / (F.col("a_norm") * F.col("b_norm"))
    if min_sim is None:
        return scored.select(a, b, F.round(raw, 6).alias("sim"))
    return (scored.select(a, b, raw.alias("raw"))
            .filter(F.col("raw") >= min_sim - 1e-6)
            .select(a, b, F.round(F.col("raw"), 6).alias("sim"))
            .filter(F.col("sim") >= min_sim))


def _top_k(scored, order):
    """The TOP_K first rows per q_id of a (q_id, vec_id, score) frame under
    `order`, ties to the smaller vec_id, numbered in rnk and sorted by
    (q_id, rnk)."""
    w = Window.partitionBy("q_id").orderBy(order, "vec_id")
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOP_K)
            .select(*scored.columns, "rnk")
            .orderBy("q_id", "rnk"))


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k similarity search -- the exact baseline for
    ANN.  Query vectors = embeddings with vec_id < N_QUERIES.

    The bounded query side rides the _np_cent_sims kernel's
    closure (queries play the centroid role) instead of a broadcast
    crossJoin with interpreted per-row folds; dot and norms keep the fold
    order (and dot/norm-product commutativity is exact in IEEE floats, so
    sim is bit-identical); 6dp rounding stays JVM-side."""
    emb = _t(spark, sf_dir, "embeddings")
    q_ids, q_mat = _emb_subset(emb, _local_emb_table(sf_dir),
                               lambda v: v < N_QUERIES)
    scored = (_np_cent_sims(emb, q_ids, q_mat)
              .filter(F.col("vec_id") != F.col("c_id"))
              .select(F.col("c_id").alias("q_id"), "vec_id",
                      F.round(F.col("raw"), 6).alias("sim")))
    return _top_k(scored, F.desc("sim"))


ORACLE_ANN = f"""
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb FROM embeddings
           WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.q_id, e.vec_id,
         ROUND(list_dot_product(q.q_emb, e.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.q_emb, q.q_emb)) *
                sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) AS sim
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id)
           AS rnk
  FROM scored
)
SELECT q_id, vec_id, sim, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {TOP_K} ORDER BY q_id, rnk
"""


def _md5_halves(col):
    """The first and second 32-bit halves of md5(col), as longs: unsigned
    values that fit BIGINT in both engines, so a DuckDB oracle replays
    every hash built from them bit for bit."""
    md5 = F.md5(col)
    return [F.conv(F.substring(md5, i, 8), 16, 10).cast("long")
            for i in (1, 9)]


def _minhash_sigs(docs):
    """MinHash signatures (doc_id, h0..h{n-1}), fully JVM-side: exploded
    shingles -> N_HASHES salted hashes per row -> map-side partial MIN
    (stays in whole-stage codegen end to end; HOF lambdas would not).

    The hashes derive from ONE md5 per shingle via Carter-Wegman-style
    linear mixes of its two 32-bit halves (a*k1 + b*k2 + h, all < 2^41 so
    no BIGINT overflow in either engine -- DuckDB errors on overflow where
    Spark wraps), so DuckDB replays the signatures bit-for-bit."""
    words = F.split(F.trim(F.col("text")), r"\s+")
    docs = docs.filter(F.size(words) >= 3)
    a, b = _md5_halves(F.col("tri"))
    tri = _ngrams(docs).select("doc_id", *[
        (a * F.lit(2 * h + 3) + b * F.lit(2 * h + 101)
         + F.lit(h)).alias(f"x{h}")
        for h in range(N_HASHES)])
    return tri.groupBy("doc_id").agg(
        *[F.min(f"x{h}").alias(f"h{h}") for h in range(N_HASHES)])


def _minhash_banded(sigs):
    """(doc_id, band, bucket) rows from a signature table -- one pass via
    posexplode of an array of (band, bucket) structs.  (A unionAll of
    per-band selects would re-execute the whole shingle+agg subplan once
    per band: Catalyst does not dedupe common subplans across union
    branches.)"""
    per_band = N_HASHES // N_BANDS
    band_structs = F.array(*[
        F.struct(F.lit(b).cast("int").alias("band"),
                 F.md5(F.concat_ws(",", *[
                     F.col(f"h{h}")
                     for h in range(b * per_band, (b + 1) * per_band)]))
                 .alias("bucket"))
        for b in range(N_BANDS)])
    return (sigs
            .select("doc_id", F.explode(band_structs).alias("bb"))
            .select("doc_id", F.col("bb.band").alias("band"),
                    F.col("bb.bucket").alias("bucket")))


def q_minhash_bands(spark, sf_dir):
    """MinHash+LSH candidate generation: shingle -> salted hash -> min per
    hash -> band signature -> groupBy band bucket.  Returns candidate pair
    counts per band bucket (see _minhash_sigs for the portable-hash
    machinery the DuckDB oracle replays)."""
    docs = _t(spark, sf_dir, "documents")
    allb = _minhash_banded(_minhash_sigs(docs))
    return (allb.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("min_doc"))
            .filter(F.col("n_docs") > 1)
            .orderBy("band", "bucket"))


# --- candidate pairs: blocking -> hot-bucket cap -> self-join (the SparkER
# blocking / block-purging split); the near-dup queries share these stages
# and keep their own rerank

def _cap_buckets(df, keys: list[str], order_col: str):
    """Hot-bucket guard (block purging): keep the first MAX_BUCKET rows
    (lowest order_col) of every `keys` bucket.  One degenerate bucket --
    thousands of byte-identical pages, zero vectors -- makes |bucket|^2
    pairs, the crossJoin again.  The window partitions on the key the
    later join shuffles on, so its exchange is reused, not added."""
    w = Window.partitionBy(*keys).orderBy(order_col)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= MAX_BUCKET).drop("_rn"))


def _candidate_pairs(blocks, id_col: str, keys: list[str]):
    """(a_id, b_id), a_id < b_id, once for every block two ids share: the
    capped block table is materialized once for its two self-join sides
    (Catalyst does not dedupe common subplans), then a bucket equi-join on
    `keys`.  A pair that shares k blocks comes out k times.  The caller
    de-duplicates AFTER its own threshold (the SparkER order: blocking,
    comparison, cleaning), so the de-duplicating shuffle sees only the
    survivors: at 1,000 vectors the RHP bands give ~265k join rows for
    ~1.5k near pairs."""
    blocks = _cap_buckets(blocks, keys, id_col) \
        .localCheckpoint(eager=True)
    a = blocks.select(F.col(id_col).alias("a_id"), *keys)
    b = blocks.select(F.col(id_col).alias("b_id"), *keys)
    return (a.join(b, keys)
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id"))


def _sig_side(sigs, id_name: str, prefix: str):
    """One side of a signature join: doc_id -> id_name, h{i} ->
    {prefix}{i} (the a/b columns _est_jaccard compares)."""
    return sigs.select(F.col("doc_id").alias(id_name), *[
        F.col(c).alias(prefix + c[1:]) for c in sigs.columns
        if c != "doc_id"])


def _est_jaccard():
    """Estimated Jaccard of a joined a/b signature row: the fraction of the
    N_HASHES minima that agree (the unbiased MinHash estimator), 4dp."""
    agree = None
    for h in range(N_HASHES):
        t = (F.col(f"a{h}") == F.col(f"b{h}")).cast("int")
        agree = t if agree is None else agree + t
    return F.round(agree / F.lit(float(N_HASHES)), 4)


def q_minhash_est_pairs(spark, sf_dir):
    """MinHash near-duplicate pairs with ESTIMATED Jaccard -- the second
    stage of the standard MinHash dedup pipeline: banding proposes
    candidates (any shared band bucket, sub-quadratic bucket equi-join),
    then est_jaccard = fraction of the N_HASHES signature minima that
    agree (the unbiased MinHash estimator) filters them WITHOUT touching
    document text -- at 100 TB the signatures (N_HASHES longs/doc) are
    ~1/1000th of the corpus, so the estimate join is cheap and the exact
    verification (q_jaccard_pairs) runs only on survivors if at all.
    Ids+signatures only through the shuffle; DuckDB replays everything.

    Hot-bucket guard (_cap_buckets): the first MAX_BUCKET members per
    (band, bucket), lowest doc_id first, are kept.  Pairs among dropped
    members survive via the doc's other N_BANDS-1 bands unless those are
    identical too -- i.e. only true mega-dup clusters are trimmed, and a
    dedup pass keeps one member anyway.  The cap (64x any sane expected
    occupancy) never fires at gate scale, so the DuckDB oracle needs no
    cap clause."""
    return _minhash_est_pairs(spark, sf_dir, EST_JACCARD_MIN) \
        .orderBy("a_id", "b_id")


def _minhash_est_pairs(spark, sf_dir, threshold: float):
    """The (a_id, b_id, est_jaccard) rows of q_minhash_est_pairs in no
    order: the query sorts them, connected_components needs no sort."""
    docs = _t(spark, sf_dir, "documents")
    # guide §2.4: sigs feeds three consumers (banding + both
    # estimator sides) and the bands two (both self-join sides); without
    # materialization every consumer re-runs the full shingle+minhash
    # scan (8 document scans).  Both frames are ids+hashes
    # only -- the incremental_dedup localCheckpoint precedent.
    sigs = _minhash_sigs(docs).localCheckpoint(eager=True)
    cand = _candidate_pairs(_minhash_banded(sigs), "doc_id",
                            ["band", "bucket"])
    return (cand.join(_sig_side(sigs, "a_id", "a"), "a_id")
            .join(_sig_side(sigs, "b_id", "b"), "b_id")
            .select("a_id", "b_id", _est_jaccard().alias("est_jaccard"))
            .filter(F.col("est_jaccard") >= threshold)
            .distinct())


def q_paragraph_dedup(spark, sf_dir, chunk_words: int = TOY_CHUNK_WORDS):
    """Sub-document exact dedup (C4-style): split each document into
    non-overlapping `chunk_words`-word chunks, hash, report chunks that
    appear in more than one document.  The per-doc transform/slice lambda
    runs once per DOCUMENT over its word array (not per word), so the
    interpreted-HOF cost is amortized; the explode and the aggregation
    stay in codegen with map-side partial agg."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    k = chunk_words
    n_chunks = F.floor(F.size(words) / k).cast("long")
    # guard the degenerate doc (< k words): Spark's sequence(1, 0) counts
    # DOWN to [1, 0] (DuckDB's range(1, 1) is empty), which silently
    # emitted partial chunks for short documents -- caught by the
    # chunk_words=50 oracle at sf0.001
    chunks = F.when(n_chunks >= 1, F.transform(
        F.sequence(F.lit(1), n_chunks),
        lambda i: F.concat_ws(
            " ", F.slice(words, (i - 1) * k + 1, k)))
    ).otherwise(F.array().cast("array<string>"))
    c = docs.select("doc_id", F.explode(chunks).alias("chunk"))
    return (c.groupBy(F.md5("chunk").alias("h"))
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_occurrences"),
                 F.min("doc_id").alias("first_doc"))
            .filter(F.col("n_docs") > 1)
            .orderBy("h"))


def _paragraph_dedup_oracle_sql(chunk_words: int) -> str:
    """DuckDB replay of q_paragraph_dedup at any chunk size.
    TOY_CHUNK_WORDS is the toy gate default; C4_CHUNK_WORDS is the
    realistic C4-style span length (a 50-word chunk shared across docs is
    near-certain duplication, not coincidence) -- both sizes run at the
    correctness gate."""
    k = chunk_words
    return f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS ws
  FROM documents
),
c AS (
  SELECT doc_id,
         UNNEST([array_to_string(ws[(i-1)*{k}+1 : i*{k}], ' ')
                 FOR i IN range(1, CAST(FLOOR(LEN(ws)/{k}) AS BIGINT) + 1)]) AS chunk
  FROM w
)
SELECT md5(chunk) AS h, COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occurrences, MIN(doc_id) AS first_doc
FROM c GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1 ORDER BY h
"""


ORACLE_PARAGRAPH_DEDUP = _paragraph_dedup_oracle_sql(TOY_CHUNK_WORDS)
ORACLE_PARAGRAPH_DEDUP_50 = _paragraph_dedup_oracle_sql(C4_CHUNK_WORDS)


def q_paragraph_dedup_clean(spark, sf_dir):
    """C4-style paragraph REMOVAL: the transform stage that follows
    q_paragraph_dedup's reporting -- re-emit every document with globally
    duplicated chunks removed, keeping exactly ONE occurrence corpus-wide
    (the lexicographically first (doc_id, position); C4 keeps one
    occurrence of every three-sentence span, Raffel et al. 2020 §2.2).

    Shape: ownership is decided on an ids+hash-only frame -- explode to
    (doc_id, pos, md5(chunk)), window-min over the 16-byte hash marks the owner, so the
    wide exchange carries hashes and ids, never chunk text.  The removal
    list per doc (positions to drop) is a tiny aggregate joined back to
    `documents` by doc_id, and clean_text is rebuilt JVM-side by slicing
    the word array at the kept positions -- the text payload crosses NO
    wide exchange at all (it moves once, on the docs side of the final
    doc_id equi-join, which AQE can broadcast when few docs have
    removals).  md5 collisions are the same accepted risk as
    q_paragraph_dedup's reporting."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    k = C4_CHUNK_WORDS
    n_chunks = F.floor(F.size(words) / k).cast("long")
    hashes = F.when(n_chunks >= 1, F.transform(
        F.sequence(F.lit(1), n_chunks),
        lambda i: F.md5(F.concat_ws(" ", F.slice(words, (i - 1) * k + 1, k))))
    ).otherwise(F.array().cast("array<string>"))
    hashed = docs.select("doc_id", F.posexplode(hashes).alias("pos", "h"))
    wh = Window.partitionBy("h")
    flags = (hashed
             .withColumn("f", F.min(F.struct("doc_id", "pos")).over(wh))
             .withColumn("keep", (F.col("doc_id") == F.col("f.doc_id"))
                         & (F.col("pos") == F.col("f.pos"))))
    removed = (flags.filter(~F.col("keep"))
               .groupBy("doc_id")
               .agg(F.collect_set("pos").alias("drop_pos"),
                    F.count(F.lit(1)).alias("n_removed")))
    drop_pos = F.coalesce("drop_pos", F.array().cast("array<int>"))
    kept = F.when(n_chunks >= 1, F.array_join(
        F.transform(
            F.filter(F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
                     lambda i: ~F.array_contains(drop_pos, i)),
            lambda i: F.concat_ws(" ", F.slice(words, i * k + 1, k))),
        " ")).otherwise(F.lit(""))
    tail = F.concat_ws(" ", F.slice(
        words, (n_chunks * k + 1).cast("int"),
        F.greatest(F.size(words) - (n_chunks * k).cast("int"), F.lit(0))))
    return (docs.join(removed, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_removed", F.lit(0)).cast("long")
                     .alias("n_removed"),
                    F.trim(F.concat_ws(" ", kept, tail)).alias("clean_text"))
            .orderBy("doc_id"))


# DuckDB replay of q_paragraph_dedup_clean: same chunking, same struct-min
# ownership, same rejoin
ORACLE_PARAGRAPH_CLEAN_50 = f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS ws
  FROM documents
),
c AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(ws[(i-1)*{C4_CHUNK_WORDS}+1 : i*{C4_CHUNK_WORDS}], ' ') AS chunk
  FROM w, UNNEST(range(1, CAST(FLOOR(LEN(ws)/{C4_CHUNK_WORDS}) AS BIGINT) + 1)) AS t(i)
),
marked AS (
  SELECT doc_id, pos, chunk,
         MIN(struct_pack(d := doc_id, p := pos))
           OVER (PARTITION BY chunk) AS f
  FROM c
),
perdoc AS (
  SELECT doc_id,
         SUM(CASE WHEN doc_id = f.d AND pos = f.p THEN 0 ELSE 1 END)
           AS n_removed,
         string_agg(CASE WHEN doc_id = f.d AND pos = f.p THEN chunk END,
                    ' ' ORDER BY pos) AS kept
  FROM marked GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(COALESCE(p.n_removed, 0) AS BIGINT) AS n_removed,
       TRIM(CONCAT_WS(' ', COALESCE(p.kept, ''),
            array_to_string(
              ws[CAST(FLOOR(LEN(ws)/{C4_CHUNK_WORDS}) AS BIGINT)*{C4_CHUNK_WORDS}+1 : LEN(ws)], ' ')))
         AS clean_text
FROM w LEFT JOIN perdoc p USING (doc_id)
ORDER BY w.doc_id
"""


def _remove_dot_segments(path):
    """RFC 3986 §5.2.4 remove_dot_segments over an absolute path column,
    urljoin-flavored: interior empty segments collapse ('a//b' -> 'a/b',
    matching urllib), '..' pops (clamped at root), and a path ending in
    '/', '/.' or '/..' keeps its directory trailing slash."""
    empty_arr = F.expr("cast(array() as array<string>)")
    folded = F.aggregate(
        F.split(path, "/"), empty_arr,
        lambda acc, x: (
            F.when((x == "") | (x == "."), acc)
             .when(x == "..",
                   F.when(F.size(acc) <= 1, empty_arr)
                    .otherwise(F.slice(acc, 1, F.size(acc) - 1)))
             .otherwise(F.concat(acc, F.array(x)))))
    joined = F.concat(F.lit("/"), F.array_join(folded, "/"))
    ends_dir = path.rlike(r"/(\.\.?)?$")
    return F.when(ends_dir & ~joined.endswith("/"),
                  F.concat(joined, F.lit("/"))).otherwise(joined)


def _resolve_one(b, href):
    """Resolve one href against an ABSOLUTE http(s) base `b` (RFC 3986
    §5.2, urljoin-matched; tests/test_resolve.py pins the matrix against
    urllib.parse.urljoin).  Fragments are stripped (a crawl frontier
    treats #frag as a self-link); non-http(s) schemes (mailto:,
    javascript:, data:, tel:, ...) resolve to NULL -- filter them out."""
    h = F.substring_index(href, "#", 1)
    scheme = F.regexp_extract(h, r"^([A-Za-z][A-Za-z0-9+.\-]*):", 1)
    b_scheme = F.regexp_extract(b, r"^(https?)://", 1)
    origin = F.regexp_extract(b, r"^(https?://[^/?#]+)", 1)
    b_path = F.regexp_extract(b, r"^https?://[^/?#]+([^?#]*)", 1)
    qpos = F.locate("?", h)
    h_query = F.when(qpos > 0, h.substr(qpos, F.length(h))) \
               .otherwise(F.lit(""))
    h_path = F.when(qpos > 0, h.substr(F.lit(1), (qpos - 1).cast("int"))) \
              .otherwise(h)
    b_dir = F.when(b_path.contains("/"),
                   F.regexp_replace(b_path, "[^/]*$", "")) \
             .otherwise(F.lit("/"))
    merged = F.when(h_path.startswith("/"), h_path) \
              .otherwise(F.concat(b_dir, h_path))
    null_s = F.lit(None).cast("string")
    return (
        F.when(h == "", b)  # empty / fragment-only reference -> the base
         .when(scheme != "",
               # has a scheme: http(s) passes through with the scheme
               # lowercased (urljoin does not re-normalize the rest of an
               # absolute reference); every other scheme resolves to null
               F.when(F.lower(scheme).isin("http", "https"),
                      F.concat(F.lower(scheme),
                               h.substr(F.length(scheme) + 1, F.length(h))))
                .otherwise(null_s))
         # base must itself be absolute http(s) for the relative forms
         .when(origin == "", null_s)
         .when(h.startswith("//"),  # protocol-relative: adopt base scheme
               F.concat(b_scheme, F.lit(":"), h))
         .when((h_path == "") & (qpos > 0),  # query-only: keep base path
               F.concat(origin, b_path, h_query))
         .otherwise(F.concat(origin, _remove_dot_segments(merged), h_query)))


def resolve_href(src, href, base=None):
    """RFC 3986 reference resolution as pure column expressions -- the
    batch counterpart of the crawl frontier's link resolution.  `base`
    (the document's <base href>, possibly itself relative) overrides
    `src` as the resolution base when present; a base that resolves to
    NULL (non-http scheme) falls back to src."""
    if base is not None:
        eff = F.coalesce(_resolve_one(src, F.coalesce(base, F.lit(""))), src)
        return _resolve_one(eff, href)
    return _resolve_one(src, href)


def _canonical_url(u):
    """URL canonicalization as a pure column expression: drop the fragment,
    lowercase the host and strip a leading www., drop utm_* query params,
    strip trailing path slashes."""
    u1 = F.split(u, "#").getItem(0)
    scheme = F.regexp_extract(u1, r"^(https?)://", 1)
    host = F.lower(F.regexp_extract(u1, r"^https?://([^/?]+)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    rest = F.regexp_replace(u1, r"^https?://[^/?]*", "")
    path = F.regexp_replace(F.split(rest, r"\?").getItem(0), "/+$", "")
    query = F.when(rest.contains("?"),
                   F.split(rest, r"\?").getItem(1)).otherwise(F.lit(""))
    params = F.filter(F.split(query, "&"),
                      lambda p: (~p.startswith("utm_")) & (p != ""))
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(F.size(params) > 0,
               F.concat(F.lit("?"), F.array_join(params, "&")))
         .otherwise(F.lit("")))


def q_url_canonical(spark, sf_dir):
    """URL canonicalization + dedup: every doc gets two messy variants
    (WWW./fragment/utm-params vs plain) that must collapse to ONE canonical
    url -- the crawl-frontier dedup primitive."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id").cast("string")
    h = (F.col("doc_id") % 50).cast("string")
    v1 = F.concat(F.lit("https://WWW.Host"), h, F.lit(".Example/Path/"), i,
                  F.lit("/?utm_source=feed&q="), i, F.lit("#frag"))
    v2 = F.concat(F.lit("https://www.host"), h, F.lit(".example/Path/"), i,
                  F.lit("?q="), i)
    urls = docs.select("doc_id", F.explode(F.array(v1, v2)).alias("url"))
    return (urls.select("doc_id", _canonical_url(F.col("url")).alias("curl"))
            .groupBy("curl")
            .agg(F.count(F.lit(1)).alias("n_variants"),
                 F.min("doc_id").alias("doc_id"))
            .orderBy("curl"))


ORACLE_URL_CANONICAL = """
WITH u AS (
  SELECT doc_id,
         UNNEST(['https://WWW.Host' || (doc_id % 50) || '.Example/Path/'
                   || doc_id || '/?utm_source=feed&q=' || doc_id || '#frag',
                 'https://www.host' || (doc_id % 50) || '.example/Path/'
                   || doc_id || '?q=' || doc_id]) AS url
  FROM documents
),
c AS (
  SELECT doc_id,
    regexp_extract(u1, '^(https?)://', 1) || '://' ||
    regexp_replace(lower(regexp_extract(u1, '^https?://([^/?]+)', 1)),
                   '^www\\.', '') ||
    regexp_replace(string_split(regexp_replace(u1, '^https?://[^/?]*', ''),
                                '?')[1], '/+$', '') ||
    CASE WHEN LEN(params) > 0
         THEN '?' || array_to_string(params, '&') ELSE '' END AS curl
  FROM (
    SELECT doc_id, u1,
           list_filter(string_split(CASE WHEN contains(u1, '?')
                                         THEN string_split(u1, '?')[2]
                                         ELSE '' END, '&'),
                       p -> NOT starts_with(p, 'utm_') AND p <> '') AS params
    FROM (SELECT doc_id, string_split(url, '#')[1] AS u1 FROM u)
  )
)
SELECT curl, COUNT(*) AS n_variants, MIN(doc_id) AS doc_id
FROM c GROUP BY curl ORDER BY curl
"""


def q_resolve_href(spark, sf_dir):
    """RFC 3986 link resolution as a batch gate query: every doc gets a
    deep-path source URL, a 12-pattern href cycle (relative, ./ ../,
    rooted, protocol-relative, absolute, mailto/javascript -> NULL,
    query-only, empty, mid-path ../, over-clamped ../../..), and every
    third doc a <base href> override -- resolve_href's column
    expression replayed against a closed-form oracle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id").cast("string")
    h = (F.col("doc_id") % 50).cast("string")
    src = F.concat(F.lit("https://host"), h, F.lit(".example/a/b/page"),
                   i, F.lit(".html"))
    base = F.when(F.col("doc_id") % 3 == 0,
                  F.lit("https://cdn.example/assets/")) \
            .otherwise(F.lit(None).cast("string"))
    pat = F.col("doc_id") % 12
    href = (F.when(pat == 0, F.lit("x.html"))
             .when(pat == 1, F.lit("../up.html"))
             .when(pat == 2, F.lit("./here.html"))
             .when(pat == 3, F.lit("/rooted.html"))
             .when(pat == 4, F.lit("//mirror.example/m"))
             .when(pat == 5, F.lit("http://abs.example/z"))
             .when(pat == 6, F.lit("mailto:user@example.com"))
             .when(pat == 7, F.lit("javascript:void(0)"))
             .when(pat == 8, F.lit("?q=1"))
             .when(pat == 9, F.lit(""))
             .when(pat == 10, F.lit("x/y/../z.html?k=2"))
             .otherwise(F.lit("../../../../clamp.html")))
    return (docs.select(
        "doc_id", href.alias("href"),
        resolve_href(src, href, base=base).alias("resolved"))
        .orderBy("doc_id"))


ORACLE_RESOLVE_HREF = """
WITH s AS (
  SELECT doc_id,
         'https://host' || (doc_id % 50) || '.example' AS orig,
         doc_id % 12 AS p,
         doc_id % 3 = 0 AS has_base
  FROM documents
)
SELECT doc_id,
  CASE p WHEN 0 THEN 'x.html' WHEN 1 THEN '../up.html'
         WHEN 2 THEN './here.html' WHEN 3 THEN '/rooted.html'
         WHEN 4 THEN '//mirror.example/m' WHEN 5 THEN 'http://abs.example/z'
         WHEN 6 THEN 'mailto:user@example.com'
         WHEN 7 THEN 'javascript:void(0)' WHEN 8 THEN '?q=1'
         WHEN 9 THEN '' WHEN 10 THEN 'x/y/../z.html?k=2'
         ELSE '../../../../clamp.html' END AS href,
  CASE WHEN has_base THEN
    CASE p WHEN 0 THEN 'https://cdn.example/assets/x.html'
           WHEN 1 THEN 'https://cdn.example/up.html'
           WHEN 2 THEN 'https://cdn.example/assets/here.html'
           WHEN 3 THEN 'https://cdn.example/rooted.html'
           WHEN 4 THEN 'https://mirror.example/m'
           WHEN 5 THEN 'http://abs.example/z'
           WHEN 8 THEN 'https://cdn.example/assets/?q=1'
           WHEN 9 THEN 'https://cdn.example/assets/'
           WHEN 10 THEN 'https://cdn.example/assets/x/z.html?k=2'
           WHEN 11 THEN 'https://cdn.example/clamp.html'
           ELSE NULL END
  ELSE
    CASE p WHEN 0 THEN orig || '/a/b/x.html'
           WHEN 1 THEN orig || '/a/up.html'
           WHEN 2 THEN orig || '/a/b/here.html'
           WHEN 3 THEN orig || '/rooted.html'
           WHEN 4 THEN 'https://mirror.example/m'
           WHEN 5 THEN 'http://abs.example/z'
           WHEN 8 THEN orig || '/a/b/page' || doc_id || '.html?q=1'
           WHEN 9 THEN orig || '/a/b/page' || doc_id || '.html'
           WHEN 10 THEN orig || '/a/b/x/z.html?k=2'
           WHEN 11 THEN orig || '/clamp.html'
           ELSE NULL END
  END AS resolved
FROM s ORDER BY doc_id
"""


# PII patterns (training-data scrubbing): email, NANP-style phone, IPv4.
# Shared constants so the Spark expressions and the DuckDB oracle use the
# IDENTICAL regex text (both engines are re2/ICU-compatible for these).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\(?\d{3}\)?[ -]\d{3}[ -]\d{4}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def robots_rules(robots_df):
    """Parse robots.txt files (one row per host: host, robots) into
    (host, is_allow, prefix) rules for the '*' user-agent, entirely with
    column expressions: lines explode with positions, consecutive
    User-agent lines form a GROUP (RFC 9309 §2.2.1 -- rules belong to
    every agent named in their group, which is why a per-line
    last-agent shortcut mis-attributes), and Allow/Disallow rows keep
    only groups naming '*'."""
    lines = robots_df.select(
        "host", F.posexplode(F.split("robots", "\n")).alias("pos", "line"))
    kind = F.lower(F.trim(F.regexp_extract("line", r"^\s*([A-Za-z-]+)\s*:", 1)))
    value = F.trim(F.regexp_extract("line", r":\s*([^#]*)", 1))
    # blank/comment lines and non-group directives (Sitemap: ...) are
    # TRANSPARENT for group detection (RFC 9309 §2.2.1 permits them between
    # the user-agent lines of one group): drop them BEFORE the lag window,
    # so a UA line starts a new group only when the previous RETAINED line
    # was a rule (or start of file).  Crawl-delay IS retained as a
    # rule-type group member -- a UA line after it starts a NEW group
    # (pinned by test_robots.test_rules_and_directives_group_identically).
    parsed = lines.select("host", "pos", kind.alias("kind"),
                          value.alias("value")) \
        .filter(F.col("kind").isin(
            "user-agent", "allow", "disallow", "crawl-delay"))
    wseq = Window.partitionBy("host").orderBy("pos")
    is_ua = (F.col("kind") == "user-agent").cast("int")
    new_grp = ((is_ua == 1) &
               (F.coalesce(F.lag(is_ua).over(wseq), F.lit(0)) == 0))
    grouped = parsed.withColumn(
        "grp", F.sum(new_grp.cast("int")).over(
            wseq.rowsBetween(Window.unboundedPreceding, 0)))
    wgrp = Window.partitionBy("host", "grp")
    agents = F.collect_set(
        F.when(F.col("kind") == "user-agent",
               F.lower(F.col("value")))).over(wgrp)
    return (grouped
            .withColumn("agents", agents)
            .filter(F.col("kind").isin("allow", "disallow")
                    & (F.col("value") != "")
                    & F.array_contains(F.col("agents"), "*"))
            .select("host", (F.col("kind") == "allow").alias("is_allow"),
                    F.col("value").alias("prefix")))


def robots_allowed(urls_df, rules_df):
    """Longest-match robots verdict per url (RFC 9309 §2.4.2: the most
    specific -- longest -- matching rule wins; Allow wins a length tie).
    The rules collapse to ONE array row per host on the (tiny, static)
    robots side, broadcast into the frontier, and the verdict is a
    per-row array HOF -- no aggregation over the url side at all, so the
    same operator drops into Structured Streaming without requiring
    stateful-aggregation semantics."""
    per_host = rules_df.groupBy("host").agg(
        F.collect_list(F.struct("prefix", "is_allow")).alias("rules"))
    joined = urls_df.join(F.broadcast(per_host), "host", "left")
    matched = F.filter(
        F.col("rules"), lambda r: F.col("path").startswith(r["prefix"]))
    best = F.array_max(F.transform(
        matched, lambda r: F.struct(
            F.length(r["prefix"]).alias("l"),
            r["is_allow"].cast("int").alias("a"))))
    return (joined
            .withColumn("allowed",
                        F.col("rules").isNull() | best.isNull()
                        | (best["a"] == 1))
            .drop("rules"))


def q_robots_filter(spark, sf_dir):
    """The crawl-politeness leg: deterministic per-host robots.txt files
    (an evilbot group with Disallow: / -- the canary that blocks
    EVERYTHING if group attribution leaks -- plus a '*' group with
    Disallow: /p1, Allow: /p12, and Disallow: /p3 on even hosts) filter
    the frontier urls.  Oracle replays the closed form."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    h = F.col("doc_id") % 50
    host = F.concat(F.lit("host"), h.cast("string"), F.lit(".example"))
    path = F.concat(F.lit("/p"), F.col("doc_id").cast("string"))
    urls = docs.select("doc_id", host.alias("host"), path.alias("path"))
    hosts = spark.range(50).select(
        F.concat(F.lit("host"), F.col("id").cast("string"),
                 F.lit(".example")).alias("host"),
        F.concat(
            F.lit("User-agent: evilbot\nDisallow: /\n\n"
                  "User-agent: *\nDisallow: /p1\nAllow: /p12\n"),
            F.when(F.col("id") % 2 == 0, F.lit("Disallow: /p3\n"))
             .otherwise(F.lit(""))).alias("robots"))
    verdicts = robots_allowed(urls, robots_rules(hosts))
    return (verdicts.select(
        "doc_id",
        F.concat(F.lit("https://"), F.col("host"), F.col("path"))
         .alias("url"),
        "allowed").orderBy("doc_id"))


ORACLE_ROBOTS_FILTER = """
WITH u AS (
  SELECT doc_id, CAST(doc_id AS VARCHAR) AS s, doc_id % 50 AS h
  FROM documents
)
SELECT doc_id,
       'https://host' || h || '.example/p' || doc_id AS url,
       NOT ( (starts_with(s, '1') AND NOT starts_with(s, '12'))
             OR (h % 2 = 0 AND starts_with(s, '3')) ) AS allowed
FROM u ORDER BY doc_id
"""


def q_tfidf_topk(spark, sf_dir):
    """Per-document top-TFIDF_K keywords by TF-IDF -- the IR primitive behind
    keyword extraction and sparse retrieval.  Shape: one explode to
    (doc, term) with map-side-combined counts, document frequencies as a
    second partial agg over distinct (doc, term) -- Σdf rows, never the
    corpus -- then idf = ln(N/df) joined back and a per-doc top-k window.
    N from the documents parquet footer (no count job).  Deterministic
    tie-break (score desc, term asc) keeps the oracle exact; scores
    rounded to 6 for cross-engine float compare."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = _parquet_n_rows(sf_dir, "documents")
    if n_docs is None:
        n_docs = docs.count()  # non-local input: explicit, not hidden
    words = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")) \
        .filter(F.col("term") != "")
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (tf.join(df_, "term")
              .select("doc_id", "term",
                      F.round(F.col("tf") * F.log(F.lit(float(n_docs)) /
                                                  F.col("df")), 6)
                      .alias("score")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TFIDF_K)
            .select("doc_id", "term", "score", "rnk")
            .orderBy("doc_id", "rnk"))


ORACLE_TFIDF = f"""
WITH w AS (
  SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(text), '\\s+')) AS term
  FROM documents WHERE LENGTH(TRIM(text)) > 0
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w
       WHERE term <> '' GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS c FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * ln((SELECT c FROM n) * 1.0 / df.df), 6) AS score
  FROM tf JOIN df USING (term)
),
ranked AS (
  SELECT doc_id, term, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, term) AS INT) AS rnk
  FROM scored
)
SELECT doc_id, term, score, rnk FROM ranked WHERE rnk <= {TFIDF_K}
ORDER BY doc_id, rnk
"""


def pagerank(edges, n_nodes: int):
    """PageRank over an (src, dst) edge DataFrame of n_nodes distinct
    nodes -- the web-graph rank that feeds crawl prioritization and
    quality weighting.  Simplified
    (dangling mass leaks, like the original formulation) so a SQL oracle
    can replay it exactly.  Iterative ids+rank joins with localCheckpoint
    per round (the distributed-loop pattern _star_components also uses):
    per iteration one edges⋈ranks join keyed on src and one partial-agg
    groupBy on dst -- ranks are (id, double) rows, never wider."""
    nodes = edges.select(F.col("src").alias("id")) \
        .union(edges.select(F.col("dst").alias("id"))).distinct()
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = nodes.select("id", F.lit(1.0 / n_nodes).alias("rank"))
    damping = PAGERANK_DAMPING
    for _ in range(PAGERANK_ITERS):
        contribs = (edges.join(ranks, edges["src"] == ranks["id"])
                    .join(outdeg, "src")
                    .select(F.col("dst").alias("id"),
                            (F.col("rank") / F.col("deg")).alias("c")))
        sums = contribs.groupBy("id").agg(F.sum("c").alias("s"))
        ranks = (nodes.join(sums, "id", "left")
                 .select("id",
                         (F.lit((1.0 - damping) / n_nodes) +
                          F.lit(damping) * F.coalesce("s", F.lit(0.0)))
                         .alias("rank"))
                 .localCheckpoint())
    return ranks


def q_host_pagerank(spark, sf_dir):
    """Gate query: a deterministic 50-host link graph (ring edge, doubling
    edge, and periodic links into host 0 -- a hub) ranked with 5 PageRank
    iterations.  The oracle unrolls the same 5 iterations as stacked
    CTE layers (aggregates are illegal in a recursive CTE term, so the
    fixed-depth unroll IS the faithful replay)."""
    docs = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 50).alias("h")).distinct()
    ring = docs.select(F.col("h").alias("src"),
                       ((F.col("h") + 1) % 50).alias("dst"))
    dbl = docs.select(F.col("h").alias("src"),
                      ((F.col("h") * 2 + 1) % 50).alias("dst"))
    hub = docs.filter(F.col("h") % 7 == 3) \
        .select(F.col("h").alias("src"), F.lit(0).alias("dst"))
    edges = ring.union(dbl).union(hub).distinct()
    ranks = pagerank(edges, n_nodes=50)
    return (ranks.select("id", F.round("rank", 6).alias("rank"))
            .orderBy("id"))


def _pagerank_oracle_sql() -> str:
    layers = ["pr0 AS (SELECT h AS id, 1.0/50 AS rank FROM hosts)"]
    for k in range(1, PAGERANK_ITERS + 1):
        layers.append(f"""pr{k} AS (
  SELECT h.h AS id,
         {1 - PAGERANK_DAMPING:g}/50 + {PAGERANK_DAMPING} * COALESCE((
           SELECT SUM(p.rank / o.deg)
           FROM edges e JOIN pr{k-1} p ON p.id = e.src
           JOIN outdeg o ON o.src = e.src
           WHERE e.dst = h.h), 0.0) AS rank
  FROM hosts h)""")
    body = ",\n".join(layers)
    return f"""
WITH hosts AS (SELECT DISTINCT doc_id % 50 AS h FROM documents),
edges AS (
  SELECT h AS src, (h + 1) % 50 AS dst FROM hosts
  UNION SELECT h, (h * 2 + 1) % 50 FROM hosts
  UNION SELECT h, 0 FROM hosts WHERE h % 7 = 3
),
outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
{body}
SELECT id, ROUND(rank, 6) AS rank FROM pr{PAGERANK_ITERS} ORDER BY id
"""


ORACLE_HOST_PAGERANK = _pagerank_oracle_sql()


def q_unicode_nfc(spark, sf_dir):
    """Unicode NFC normalization -- the canonicalization step that makes
    hash-based dedup sound (a decomposed 'é' and a precomposed 'é'
    are the same text but different bytes, so they'd never collide in
    md5/MinHash).  Spark has no normalize builtin, so this is a small
    Arrow-batched stage (unicodedata.normalize over each batch);
    DuckDB's nfc_normalize replays it.  Each doc gets a deterministic
    decomposed prefix so the transform provably fires."""
    docs = _t(spark, sf_dir, "documents")
    # 'cafe' + combining acute + space: decomposed on purpose
    dirty = F.concat(F.lit("café naïve "), F.col("text"))
    src = docs.select("doc_id", dirty.alias("dirty"))

    def columns_of(batch):
        import unicodedata
        return None, [[unicodedata.normalize("NFC", v) if v is not None
                       else None
                       for v in batch.column("dirty").to_pylist()]]

    out = doc_stage(src, ("doc_id",), ["dirty"], "nfc_text string",
                    columns_of)
    return (out.select("doc_id", "nfc_text",
                       F.length("nfc_text").alias("nfc_len"))
            .orderBy("doc_id"))


ORACLE_UNICODE_NFC = """
SELECT doc_id,
       nfc_normalize('cafe' || chr(769) || ' nai' || chr(776) || 've '
                     || text) AS nfc_text,
       CAST(LENGTH(nfc_normalize('cafe' || chr(769) || ' nai' || chr(776)
                                 || 've ' || text)) AS INT) AS nfc_len
FROM documents ORDER BY doc_id
"""


def q_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document -- the cheap
    perplexity proxy data pipelines use to drop binary junk / repetitive
    spam (low entropy) and encrypted noise (suspiciously high).
    Pure relational: explode characters, count, entropy = -sum(p ln p)
    with map-side partial aggregation; no Python, no UDF."""
    docs = _t(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id", F.length("text").alias("n"),
        F.explode(F.split("text", "")).alias("ch")) \
        .filter(F.col("ch") != "")
    per_char = (chars.groupBy("doc_id", "n", "ch")
                .agg(F.count(F.lit(1)).alias("c")))
    p = F.col("c") / F.col("n")
    return (per_char.groupBy("doc_id")
            .agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
                 F.countDistinct("ch").alias("n_distinct_chars"))
            .orderBy("doc_id"))


ORACLE_CHAR_ENTROPY = """
WITH c AS (
  SELECT doc_id, LENGTH(text) AS n, UNNEST(string_split(text, '')) AS ch
  FROM documents WHERE LENGTH(text) > 0
),
pc AS (
  SELECT doc_id, n, ch, COUNT(*) AS cnt FROM c GROUP BY doc_id, n, ch
)
SELECT doc_id,
       ROUND(-SUM((cnt * 1.0 / n) * ln(cnt * 1.0 / n)), 6) AS entropy,
       COUNT(DISTINCT ch) AS n_distinct_chars
FROM pc GROUP BY doc_id ORDER BY doc_id
"""


def q_pii_redact(spark, sf_dir):
    """PII scrubbing -- the compliance transform every shipped training
    corpus runs: replace emails / phone numbers / IPv4 addresses with
    typed placeholders and count the hits per doc.  Pure regexp_replace
    column expressions (codegen, no shuffle except the output sort);
    each doc gets deterministic synthetic PII appended so the oracle is
    closed-form (the corpus text itself carries no digits/@)."""
    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    # NANP-shaped 3-3-4 phone (a 3-4-4 form such as 555-01XX-1234 never
    # matches PII_PHONE_RE, leaving the [PHONE] path vacuously green);
    # tests/test_relational_edges.py asserts n_phones >= 1
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"), i, F.lit("@mail.example or call 555-"),
        F.format_string("%03d", F.col("doc_id") % 1000),
        F.lit("-1234 from 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(dirty, PII_EMAIL_RE, "[EMAIL]"),
            PII_IPV4_RE, "[IP]"),
        PII_PHONE_RE, "[PHONE]")
    # counts run against the ORIGINAL dirty text, before placeholders
    return (docs.select(
        "doc_id",
        redacted.alias("clean_text"),
        F.size(F.regexp_extract_all(dirty, F.lit(PII_EMAIL_RE), 0))
         .alias("n_emails"),
        F.size(F.regexp_extract_all(dirty, F.lit(PII_PHONE_RE), 0))
         .alias("n_phones"),
        F.size(F.regexp_extract_all(dirty, F.lit(PII_IPV4_RE), 0))
         .alias("n_ips"))
        .orderBy("doc_id"))


ORACLE_PII_REDACT = f"""
WITH d AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@mail.example or call '
              || '555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || '-1234 from 10.0.' || (doc_id % 256) || '.7' AS dirty
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(dirty, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
           '{PII_IPV4_RE}', '[IP]', 'g'),
         '{PII_PHONE_RE}', '[PHONE]', 'g') AS clean_text,
       LEN(regexp_extract_all(dirty, '{PII_EMAIL_RE}')) AS n_emails,
       LEN(regexp_extract_all(dirty, '{PII_PHONE_RE}')) AS n_phones,
       LEN(regexp_extract_all(dirty, '{PII_IPV4_RE}')) AS n_ips
FROM d ORDER BY doc_id
"""


def q_sentence_chunks(spark, sf_dir):
    """Sentence segmentation -- the unit C4's three-sentence spans and
    most span-level dedup operate on: split on terminal punctuation runs,
    emit per-doc sentence count and the segmented array.  The corpus text
    carries no punctuation, so each doc is prefixed with three
    deterministic sentences and the closed form is exact."""
    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    prose = F.concat(
        F.lit("First sentence of doc "), i,
        F.lit(". Second one! Is this the third? "), F.col("text"))
    sents = F.filter(F.split(F.trim(prose), r"[.!?]+\s*"),
                     lambda s: s != "")
    return (docs.select(
        "doc_id",
        F.size(sents).alias("n_sentences"),
        F.array_join(sents, "|").alias("sentences"))
        .orderBy("doc_id"))


ORACLE_SENTENCE_CHUNKS = r"""
WITH p AS (
  SELECT doc_id,
         list_filter(
           regexp_split_to_array(
             TRIM('First sentence of doc ' || doc_id
                  || '. Second one! Is this the third? ' || text),
             '[.!?]+\s*'),
           s -> s <> '') AS sents
  FROM documents
)
SELECT doc_id,
       LEN(sents) AS n_sentences,
       array_to_string(sents, '|') AS sentences
FROM p ORDER BY doc_id
"""


def q_mojibake_fix(spark, sf_dir):
    """Mojibake repair (ftfy's core case): text that was UTF-8 but got
    decoded as latin-1 ("café" -> "cafÃ©") is re-encoded as latin-1 and
    re-decoded as UTF-8 -- entirely JVM-side (encode/decode exprs), gated
    on the Ã/Â marker bytes so clean text passes through untouched.  Each
    doc is prefixed with a deterministically mojibake'd constant; the
    oracle replays the closed form."""
    docs = _t(spark, sf_dir, "documents")
    # 'café °' seen through the utf8-bytes-as-latin1 accident
    broken = "cafÃ© Â°"
    dirty = F.concat(F.lit(broken + " "), F.col("text"))
    repaired = F.decode(F.encode(dirty, "ISO-8859-1"), "UTF-8")
    fixed = F.when(dirty.rlike("[ÃÂ]"), repaired) \
             .otherwise(dirty)
    return (docs.select("doc_id", fixed.alias("fixed_text"))
            .orderBy("doc_id"))


ORACLE_MOJIBAKE = """
SELECT doc_id, 'café °' || ' ' || text AS fixed_text
FROM documents ORDER BY doc_id
"""


def _minhash_ctes() -> str:
    """Shared CTE text (w/tri/ab/hx/bands) replaying _minhash_sigs +
    _minhash_banded in DuckDB, used by every minhash oracle."""
    per_band = N_HASHES // N_BANDS
    mins = ",\n   ".join(
        f"MIN(a * {2 * h + 3} + b * {2 * h + 101} + {h}) AS h{h}"
        for h in range(N_HASHES))
    bands = "\n  UNION ALL ".join(
        "SELECT doc_id, CAST({b} AS INT) AS band, md5({cat}) AS bucket "
        "FROM hx".format(
            b=b,
            cat=" || ',' || ".join(
                f"h{h}::VARCHAR"
                for h in range(b * per_band, (b + 1) * per_band)))
        for b in range(N_BANDS))
    return f"""w AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS ws
  FROM documents
),
tri AS (
  SELECT doc_id,
         UNNEST([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                 FOR i IN range(1, LEN(ws) - 1)]) AS tri
  FROM w WHERE LEN(ws) >= 3
),
ab AS (
  SELECT doc_id,
         CAST(from_hex(substring(md5(tri), 1, 8))::BIT AS BIGINT) AS a,
         CAST(from_hex(substring(md5(tri), 9, 8))::BIT AS BIGINT) AS b
  FROM tri
),
hx AS (
  SELECT doc_id, {mins}
  FROM ab GROUP BY doc_id
),
bands AS (
  {bands}
)"""


# _est_jaccard in DuckDB, over a candidate row joined to the signatures of
# both sides as hx x and hx y
_EST_JACCARD_SQL = "ROUND(({}) / {}.0, 4)".format(
    " + ".join(f"(x.h{h} = y.h{h})::INT" for h in range(N_HASHES)), N_HASHES)

# transitive closure over the symmetrized near(a_id, b_id) pair graph: the
# DuckDB side of connected_components; a node's component label (the min
# reachable id) is _MIN_REACH
_MIN_REACH = "LEAST(src, MIN(dst))"
_REACH_CTES = """edges AS (
  SELECT a_id AS src, b_id AS dst FROM near
  UNION SELECT b_id, a_id FROM near
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)"""


def _reach_clusters_sql(id_col: str) -> str:
    """(id_col, cluster, is_survivor) rows of the _REACH_CTES closure."""
    return f"""SELECT src AS {id_col},
       {_MIN_REACH} AS cluster,
       src = {_MIN_REACH} AS is_survivor
FROM reach GROUP BY src ORDER BY {id_col}"""


# DuckDB replay of q_minhash_bands
ORACLE_MINHASH = f"""
WITH {_minhash_ctes()}
SELECT band, bucket, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
FROM bands GROUP BY band, bucket HAVING COUNT(*) > 1
ORDER BY band, bucket
"""

# the MinHash signature CTEs plus cand(a_id, b_id), the pairs that share a
# band bucket
_MINHASH_CAND_CTES = f"""{_minhash_ctes()},
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)"""

# DuckDB replay of q_minhash_est_pairs (same signature constants)
ORACLE_MINHASH_EST = f"""
WITH {_MINHASH_CAND_CTES},
est AS (
  SELECT c.a_id, c.b_id,
         {_EST_JACCARD_SQL} AS est_jaccard
  FROM cand c
  JOIN hx x ON x.doc_id = c.a_id
  JOIN hx y ON y.doc_id = c.b_id
)
SELECT a_id, b_id, est_jaccard FROM est
WHERE est_jaccard >= {EST_JACCARD_MIN} ORDER BY a_id, b_id
"""


def _text_dedup_labels(spark, sf_dir):
    """(id, label) connected components of the q_minhash_est_pairs graph
    at TEXT_DEDUP_MIN: the shared prefix of both text_dedup queries."""
    return connected_components(_minhash_est_pairs(
        spark, sf_dir, TEXT_DEDUP_MIN).select("a_id", "b_id"))


def q_text_dedup_clusters(spark, sf_dir):
    """The complete TEXT near-dup pipeline end: MinHash banding proposes
    candidates, the signature estimator scores them (q_minhash_est_pairs),
    and connected components assign every involved document to a cluster
    with one survivor -- the doc_id-level counterpart of
    q_neardup_clusters (which runs on embeddings).  Everything before the
    clustering is signatures and ids only; connected_components collects
    the unordered pair graph once and labels it on the driver (or in
    Spark, above CC_DRIVER_MAX_PAIRS pairs)."""
    return (_text_dedup_labels(spark, sf_dir).select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster"),
        (F.col("id") == F.col("label")).alias("is_survivor"))
        .orderBy("doc_id"))


# the text_dedup pairs of ORACLE_MINHASH_EST's graph at TEXT_DEDUP_MIN, as
# near(a_id, b_id)
_TEXT_NEAR_CTES = f"""{_MINHASH_CAND_CTES},
near AS (
  SELECT c.a_id, c.b_id
  FROM cand c
  JOIN hx x ON x.doc_id = c.a_id
  JOIN hx y ON y.doc_id = c.b_id
  WHERE {_EST_JACCARD_SQL} >= {TEXT_DEDUP_MIN}
)"""

# recursive closure over the MinHash-estimated pair graph
ORACLE_TEXT_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_TEXT_NEAR_CTES},
{_REACH_CTES}
{_reach_clusters_sql("doc_id")}
"""


def q_text_dedup_clean(spark, sf_dir):
    """The doc-level CLEAN OUTPUT of the text near-dup pipeline -- the
    transform a training-data pipeline actually ships (mirroring
    q_paragraph_dedup_clean at document granularity): every document that
    is either untouched by the pair graph or its cluster's survivor, with
    its text.  Non-survivors are a tiny ids-only frame (one row per
    dropped doc), so the anti-join broadcasts and the text payload never
    enters a shuffle."""
    losers = _text_dedup_labels(spark, sf_dir) \
                   .filter(F.col("id") != F.col("label")) \
                   .select(F.col("id").alias("doc_id"))
    docs = _t(spark, sf_dir, "documents")
    return (docs.join(F.broadcast(losers), "doc_id", "left_anti")
            .select("doc_id", "text").orderBy("doc_id"))


# survivor anti-join over the same recursive pair-graph closure as
# ORACLE_TEXT_DEDUP_CLUSTERS
ORACLE_TEXT_DEDUP_CLEAN = f"""
WITH RECURSIVE {_TEXT_NEAR_CTES},
{_REACH_CTES},
losers AS (
  SELECT src AS doc_id FROM reach GROUP BY src
  HAVING src <> {_MIN_REACH}
)
SELECT d.doc_id, d.text FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
ORDER BY d.doc_id
"""


_LANG_STOPS = {
    "en": r"\b(the|and|of|is|to)\b",
    "de": r"\b(der|die|das|und|ist)\b",
    "fr": r"\b(le|la|les|et|est)\b",
    "es": r"\b(el|los|las|que|es)\b",
}


# Gopher-rule stopword probe set (Rae et al. 2021 §A1.1-style "contains
# at least 2 common English words" check), chosen to intersect the
# synthetic corpus vocabulary
_GOPHER_STOPS = ("the", "a", "and", "of", "to", "in", "is", "that")


def q_gopher_quality(spark, sf_dir):
    """Gopher-style document quality rules (the canonical pretraining
    filter set, Rae et al. 2021): word count bounds, mean word length
    bounds, symbol-word ratio, alphabetic-word fraction, stopword
    presence -- each as a signal column plus the combined keep flag.
    Pure column expressions / SQL-replayable higher-order functions; no
    shuffle beyond the final sort."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_words = F.size(words)
    mean_wl = F.round(F.length(F.array_join(words, "")) / n_words, 4)
    alpha_frac = F.round(
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / n_words, 4)
    sym_frac = F.round(
        F.size(F.filter(words,
                        lambda w: w.isin("#", "...") | w.rlike("^#+$")))
        / n_words, 4)
    stop_hits = F.size(F.array_intersect(
        words, F.array(*[F.lit(s) for s in _GOPHER_STOPS])))
    d = docs.select(
        "doc_id", n_words.alias("n_words"), mean_wl.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"), sym_frac.alias("sym_frac"),
        stop_hits.alias("stop_hits"))
    keep = ((F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
            & (F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10)
            & (F.col("sym_frac") < 0.1) & (F.col("alpha_frac") > 0.8)
            & (F.col("stop_hits") >= 2))
    return d.withColumn("keep", keep).orderBy("doc_id")


ORACLE_GOPHER = f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS ws
  FROM documents
),
d AS (
  SELECT doc_id,
         LEN(ws) AS n_words,
         ROUND(LENGTH(array_to_string(ws, '')) / LEN(ws), 4)
           AS mean_word_len,
         ROUND(LEN(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
               / LEN(ws), 4) AS alpha_frac,
         ROUND(LEN(list_filter(ws, x -> x = '#' OR x = '...'
                                        OR regexp_matches(x, '^#+$')))
               / LEN(ws), 4) AS sym_frac,
         LEN(list_intersect(ws,
             [{', '.join(repr(s) for s in _GOPHER_STOPS)}])) AS stop_hits
  FROM w
)
SELECT doc_id, CAST(n_words AS INT) AS n_words, mean_word_len, alpha_frac,
       sym_frac, CAST(stop_hits AS INT) AS stop_hits,
       (n_words BETWEEN 50 AND 100000
        AND mean_word_len BETWEEN 3 AND 10
        AND sym_frac < 0.1 AND alpha_frac > 0.8
        AND stop_hits >= 2) AS keep
FROM d ORDER BY doc_id
"""


def q_repetition_stats(spark, sf_dir):
    """Repetition metrics (the Gopher/C4 repetition-removal signals):
    top-word fraction, duplicate-bigram fraction and top-bigram fraction
    per document -- explode + partial-agg, all in codegen.  Docs with
    fewer than two words carry no bigram and are excluded (both
    engines)."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    w = Window.partitionBy("doc_id").orderBy("pos")
    ex = (docs.filter(F.size(words) >= 2)
          .select("doc_id", F.posexplode(words).alias("pos", "w")))
    wc = (ex.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
          .groupBy("doc_id")
          .agg(F.round(F.max("c") / F.sum("c"), 4).alias("top_word_frac")))
    bi = (ex.select("doc_id", "pos", "w",
                    F.lead("w", 1).over(w).alias("w2"))
          .filter(F.col("w2").isNotNull())
          .select("doc_id",
                  F.concat_ws(" ", "w", "w2").alias("bg")))
    bc = (bi.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
          .groupBy("doc_id")
          .agg(F.round((F.sum("c") - F.count(F.lit(1))) / F.sum("c"), 4)
               .alias("dup_bigram_frac"),
               F.round(F.max("c") / F.sum("c"), 4).alias("top_bigram_frac")))
    return wc.join(bc, "doc_id").orderBy("doc_id")


ORACLE_REPETITION = """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS ws
  FROM documents
),
ex AS (
  SELECT doc_id, i AS pos, ws[i] AS word, ws AS ws
  FROM w, UNNEST(range(1, LEN(ws) + 1)) AS t(i)
  WHERE LEN(ws) >= 2
),
wc AS (
  SELECT doc_id, ROUND(MAX(c) / SUM(c), 4) AS top_word_frac
  FROM (SELECT doc_id, word, COUNT(*) AS c FROM ex GROUP BY 1, 2)
  GROUP BY doc_id
),
bi AS (
  SELECT doc_id, word || ' ' || ws[pos + 1] AS bg
  FROM ex WHERE pos < LEN(ws)
),
bc AS (
  SELECT doc_id,
         ROUND((SUM(c) - COUNT(*)) / SUM(c), 4) AS dup_bigram_frac,
         ROUND(MAX(c) / SUM(c), 4) AS top_bigram_frac
  FROM (SELECT doc_id, bg, COUNT(*) AS c FROM bi GROUP BY 1, 2)
  GROUP BY doc_id
)
SELECT wc.doc_id AS doc_id, top_word_frac, dup_bigram_frac, top_bigram_frac
FROM wc JOIN bc ON wc.doc_id = bc.doc_id
ORDER BY wc.doc_id
"""


# deterministic per-doc filename extension for the mime classification
# query: exercises exact lookup (html/jpg/xml/png/gif/css/txt/tif/jpe),
# the reference's 3-char legacy fallback (htm -> html), and unknowns
_MIME_EXT_CYCLE = ["html", "htm", "jpg", "xml", "png", "gif",
                   "css", "txt", "tif", "jpe", "bin", "dat"]


def q_mime_class(spark, sf_dir):
    """Content-Type classification via the mime registry (mime.lisp:31-101
    port, closure_html_spark/mime.py): per-document extension -> broadcast
    join against the exact-extension table, then the reference's
    3-character legacy-filesystem fallback, 'unknown' otherwise -- the
    filter a crawl pipeline runs to keep text/html payloads.  Both lookup
    tables are tiny broadcasts; no Python in the per-row path."""
    from ..mime import mime_extension_tables
    docs = _t(spark, sf_dir, "documents")
    exact, legacy = mime_extension_tables(spark)
    n = len(_MIME_EXT_CYCLE)
    ext = F.element_at(F.lit(_MIME_EXT_CYCLE),
                       (F.col("doc_id") % n).cast("int") + 1)
    d = docs.select("doc_id", ext.alias("ext"))
    joined = (d.join(F.broadcast(exact), "ext", "left")
              .join(F.broadcast(legacy),
                    (F.length("ext") == 3) & (F.col("ext") == F.col("pre")),
                    "left"))
    mime = F.coalesce("mime", "mime_l", F.lit("unknown"))
    return (joined.groupBy(mime.alias("mime"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("mime"))


def _mime_oracle_sql() -> str:
    """DuckDB replay: the same registry maps embedded as VALUES lists."""
    from ..mime import exact_extension_map, legacy_prefix_map
    ex_vals = ", ".join(f"('{e}', '{m}')"
                        for e, m in sorted(exact_extension_map().items()))
    lg_vals = ", ".join(f"('{p}', '{m}')"
                        for p, m in sorted(legacy_prefix_map().items()))
    exts = ", ".join(f"'{e}'" for e in _MIME_EXT_CYCLE)
    return f"""
WITH m(ext, mime) AS (VALUES {ex_vals}),
l(pre, mime_l) AS (VALUES {lg_vals}),
d AS (SELECT doc_id,
             ([{exts}])[CAST(doc_id % {len(_MIME_EXT_CYCLE)} AS INT) + 1]
               AS ext
      FROM documents)
SELECT COALESCE(m.mime, l.mime_l, 'unknown') AS mime, COUNT(*) AS n_docs
FROM d LEFT JOIN m ON d.ext = m.ext
       LEFT JOIN l ON LENGTH(d.ext) = 3 AND d.ext = l.pre
GROUP BY 1 ORDER BY 1
"""


ORACLE_MIME_CLASS = _mime_oracle_sql()


def q_lang_id(spark, sf_dir):
    """n-gram/stopword language-ID heuristic, fully JVM-side; the guess
    formula is ANSI-SQL so the oracle replays it exactly."""
    docs = _t(spark, sf_dir, "documents")
    counts = {
        lang: F.size(F.regexp_extract_all(F.lower(F.col("text")),
                                          F.lit(pat), F.lit(0)))
        for lang, pat in _LANG_STOPS.items()
    }
    cjk = F.size(F.regexp_extract_all(F.col("text"),
                                      F.lit(r"[一-鿿]"), F.lit(0)))
    best = (F.when(cjk > 0, F.lit("zh"))
            .when((counts["de"] > counts["en"]) &
                  (counts["de"] >= counts["fr"]) &
                  (counts["de"] >= counts["es"]), F.lit("de"))
            .when((counts["fr"] > counts["en"]) &
                  (counts["fr"] >= counts["es"]), F.lit("fr"))
            .when(counts["es"] > counts["en"], F.lit("es"))
            .otherwise(F.lit("en")))
    return (docs.select("doc_id",
                        counts["en"].alias("n_en"),
                        counts["de"].alias("n_de"),
                        best.alias("lang_guess"))
            .orderBy("doc_id"))


ORACLE_LANG_ID = """
WITH c AS (
  SELECT doc_id,
    CAST(LEN(regexp_extract_all(LOWER(text), '\\b(the|and|of|is|to)\\b')) AS INT) AS n_en,
    CAST(LEN(regexp_extract_all(LOWER(text), '\\b(der|die|das|und|ist)\\b')) AS INT) AS n_de,
    LEN(regexp_extract_all(LOWER(text), '\\b(le|la|les|et|est)\\b')) AS n_fr,
    LEN(regexp_extract_all(LOWER(text), '\\b(el|los|las|que|es)\\b')) AS n_es,
    LEN(regexp_extract_all(text, '[一-鿿]')) AS n_cjk
  FROM documents
)
SELECT doc_id, n_en, n_de,
       CASE WHEN n_cjk > 0 THEN 'zh'
            WHEN n_de > n_en AND n_de >= n_fr AND n_de >= n_es THEN 'de'
            WHEN n_fr > n_en AND n_fr >= n_es THEN 'fr'
            WHEN n_es > n_en THEN 'es'
            ELSE 'en' END AS lang_guess
FROM c ORDER BY doc_id
"""


def q_simhash(spark, sf_dir):
    """64-bit SimHash per document, fully JVM-side: per-word hash, explode,
    per-bit majority vote, reassemble.  Near-dup docs differ in few bits.

    The 64 hash bits come from the first 16 hex digits of md5(word) (two
    32-bit halves, so the unsigned values fit BIGINT in both engines) --
    portable, so the DuckDB oracle replays the whole operator bit for bit.
    xxhash64 would be ~2x cheaper per word at scale but is engine-specific;
    for SimHash the hash cost is dwarfed by the explode + 64 aggregates."""
    docs = _t(spark, sf_dir, "documents")
    words = F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    h_hi, h_lo = _md5_halves(F.col("w"))
    exploded = docs.select("doc_id", words).select(
        "doc_id", h_hi.alias("h_hi"), h_lo.alias("h_lo"))
    votes = []
    for b in range(64):
        src = F.col("h_lo") if b < 32 else F.col("h_hi")
        bit = F.shiftright(src, b % 32).bitwiseAND(F.lit(1))
        votes.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"b{b}"))
    agg = exploded.groupBy("doc_id").agg(*votes)
    sim = F.lit(0).cast("long")
    for b in range(64):
        sim = sim + F.when(F.col(f"b{b}") > 0,
                           F.lit(1).cast("long") * (2 ** b if b < 63
                                                    else -(2 ** 63))
                           ).otherwise(F.lit(0))
    return agg.select("doc_id", sim.alias("simhash")).orderBy("doc_id")


def _simhash_oracle_sql() -> str:
    """DuckDB replay of q_simhash, generated from the same bit layout."""
    terms = []
    for b in range(64):
        src = "h_lo" if b < 32 else "h_hi"
        terms.append(
            f"SUM(CASE WHEN ({src} >> {b % 32}) & 1 = 1 THEN 1 ELSE -1 END)"
            f" AS b{b}")
    assemble = " + ".join(
        (f"CASE WHEN b{b} > 0 THEN CAST({2 ** b if b < 63 else -(2 ** 63)}"
         f" AS BIGINT) ELSE 0 END")
        for b in range(64))
    return f"""
WITH w AS (
  SELECT doc_id,
         CAST(from_hex(substring(md5(w), 1, 8))::BIT AS BIGINT) AS h_hi,
         CAST(from_hex(substring(md5(w), 9, 8))::BIT AS BIGINT) AS h_lo
  FROM (SELECT doc_id,
               UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents)
),
v AS (SELECT doc_id, {', '.join(terms)} FROM w GROUP BY doc_id)
SELECT doc_id, {assemble} AS simhash FROM v ORDER BY doc_id
"""


ORACLE_SIMHASH = _simhash_oracle_sql()


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (i<j, cosine >= COSINE_MIN):
    the exact-similarity complement to MinHash for semantic dedup."""
    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("a_id"),
                   F.col("embedding").alias("a_emb"),
                   _norm_expr(F.col("embedding")).alias("a_norm"))
    b = emb.select(F.col("vec_id").alias("b_id"),
                   F.col("embedding").alias("b_emb"),
                   _norm_expr(F.col("embedding")).alias("b_norm"))
    dot = _dot_expr(F.col("a_emb"), F.col("b_emb"))
    sim = F.round(dot / (F.col("a_norm") * F.col("b_norm")), 6)
    return (a.crossJoin(b)
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id", sim.alias("sim"))
            .filter(F.col("sim") >= COSINE_MIN)
            .orderBy("a_id", "b_id"))


# the embedding oracles' cosine of the rows aliased {a} and {b}: the dot
# over the product of norms, rounded to 6 places like the Spark side
_COS_SQL = ("ROUND(list_dot_product({a}.embedding::DOUBLE[], "
            "{b}.embedding::DOUBLE[]) / "
            "(sqrt(list_dot_product({a}.embedding::DOUBLE[], "
            "{a}.embedding::DOUBLE[])) * "
            "sqrt(list_dot_product({b}.embedding::DOUBLE[], "
            "{b}.embedding::DOUBLE[]))), 6)")

ORACLE_EMBEDDING_NEARDUP = f"""
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       {_COS_SQL.format(a="a", b="b")} AS sim
FROM embeddings a CROSS JOIN embeddings b
WHERE a.vec_id < b.vec_id
  AND {_COS_SQL.format(a="a", b="b")} >= {COSINE_MIN}
ORDER BY a_id, b_id
"""


def _embeddings_n_rows(emb: DataFrame, sf_dir: str) -> int:
    """N for index sizing: parquet footer stats, else (the documented last
    resort) a count() scan job."""
    n = _parquet_n_rows(sf_dir, "embeddings")
    return n if n is not None else emb.count()


def lsh_band_bits(n_rows: int) -> int:
    """Corpus-sized bucket width for the banded-LSH scale paths.

    band_bits = clamp(ceil(log2 N) - 10, BAND_BITS, 20): 2^band_bits
    buckets per band puts the EXPECTED bucket occupancy at
    N / 2^(log2 N - 10) = 2^10 = ~1024 rows, so the bucket self-join
    generates about n_bands * N * 1024 / 2 candidate pairs -- LINEAR in
    N -- instead of the ~n_bands * 2^band_bits * (N/2^band_bits)^2 / 2 =
    N^2-ish blowup a fixed small band_bits gives (a fixed 4 bits
    degenerates to ~N^2/32 pairs at 10^9 vectors).  Examples: N=500
    -> 4 (floor), N=10^6 -> 10, N=10^9 -> 20.  The cap of 20 bounds
    plan-compile cost (each bit is one zip_with dot product; 8 bands x 20
    bits = 160 expressions) -- beyond ~10^9 rows per partition-group,
    pre-compute signatures with a numpy projection in mapInArrow instead
    of column expressions.
    Occupancy is asserted by tests/test_lsh_scale.py; the full sizing
    derivation lives in SCALE.md."""
    import math
    if n_rows <= 1:
        return BAND_BITS
    return max(BAND_BITS, min(20, math.ceil(math.log2(n_rows)) - 10))


def _rhp_sign_matrix(n_bits: int) -> list[list[float]]:
    """Deterministic +-1 hyperplane matrix derived from md5 ("rhp:bit:dim"),
    computed ONCE at plan-build time and baked into the plan as array
    literals -- portable across engines by construction: the DuckDB oracles
    embed the SAME constants, so both engines replay identical signatures
    (the minhash/simhash portable-hash pattern, taken one step
    further: no per-row hashing exists at all here)."""
    import hashlib
    return [[1.0 if hashlib.md5(f"rhp:{b}:{d}".encode()).digest()[0] % 2 == 0
             else -1.0 for d in range(_EMB_DIM)]
            for b in range(n_bits)]


def _rhp_bands_np(emb, band_bits: int):
    """(vec_id, bk struct<band:int,val:bigint>) rows: RHP_BANDS bands per
    vector, each band's val the band_bits hyperplane sign bits packed
    little-endian (bit i = sign(dot(embedding, _rhp_sign_matrix row))).
    Each dot is the SAME left-associated float64 fold as _dot_expr (see
    the kernel note above), so bucket membership is what a JVM-side
    zip_with/aggregate band column would give; one numpy pass replaces
    band_bits*RHP_BANDS interpreted 64-element folds per row (the largest
    single cost in the relational pack's profile)."""
    import numpy as np
    n_bands = RHP_BANDS
    n_bits = band_bits * n_bands
    S = np.asarray(_rhp_sign_matrix(n_bits), dtype=np.float64)

    def columns_of(b):
        e = _np_embs(b.column("embedding"))
        n = e.shape[0]
        vals = np.zeros((n, n_bands), dtype=np.int64)
        for i in range(n_bits):
            bit = (_np_seq_dot(e, np.broadcast_to(S[i], e.shape))
                   >= 0.0).astype(np.int64)
            vals[:, i // band_bits] += bit << (i % band_bits)
        return np.repeat(np.arange(n), n_bands), [
            np.tile(np.arange(n_bands, dtype=np.int32), n), vals.reshape(-1)]

    flat = doc_stage(emb, ("vec_id",), ["embedding"], "band int, val bigint",
                     columns_of)
    return flat.select("vec_id",
                       F.struct("band", "val").alias("bk"))


def q_embedding_neardup_lsh(spark, sf_dir):
    """Scale path for embedding near-dup: random-hyperplane LSH bucket
    self-join + exact cosine rerank, instead of the O(N^2) crossJoin.

    A pair is a candidate iff ANY of the RHP_BANDS band values matches -- a
    bucket equi-join whose size is sum over buckets of |bucket|^2, not N^2.
    band_bits is lsh_band_bits(N) (~1024 expected rows/bucket =>
    candidates linear in N); only (vec_id, band, val) flows through the
    banding shuffle -- vectors meet the candidate pairs only in
    _cosine_rerank, so the 64-float vector is never amplified x
    RHP_BANDS through the banding exchange; a pair found in several bands
    is de-duplicated after the cosine cut.
    q_embedding_neardup (the crossJoin) stays as the exact baseline;
    test_embedding_neardup_lsh_recall pins recall against it, and the
    DuckDB oracle replays the signature bit-for-bit (md5 sign matrix).

    Hot-bucket guard (_cap_buckets): the sizing rule targets ~2^10
    EXPECTED rows per bucket, but on real embeddings one degenerate
    signature (zero vectors, a boilerplate-dominated cluster) can swallow
    a large fraction of the corpus.  MAX_BUCKET (64x the expected
    occupancy -- fires only on pathological skew, never at gate scale, so
    the DuckDB oracle needs no cap clause) keeps the first MAX_BUCKET
    members per (band, val) bucket (deterministic: lowest vec_id first,
    ties impossible), bounding candidates at RHP_BANDS * n_buckets *
    MAX_BUCKET^2 / 2.  Pairs among dropped members of a hot bucket are
    lost to THIS band only -- they remain candidates through their other
    RHP_BANDS-1 signatures, and a genuinely near-dup mega-cluster keeps its
    kept-member core (the survivors a dedup pass retains anyway).

    Self-sizing reads N from parquet footer statistics (no scan job);
    for an input that is not a local parquet table it counts the rows
    (one scan job)."""
    return _embedding_near_pairs(spark, sf_dir).orderBy("a_id", "b_id")


def _embedding_near_pairs(spark, sf_dir):
    """The (a_id, b_id, sim) rows of q_embedding_neardup_lsh in no
    order: the query sorts them, connected_components needs no sort."""
    emb = _t(spark, sf_dir, "embeddings")
    n = _embeddings_n_rows(emb, sf_dir)
    # guide §4.2 + §2.4: signatures come from ONE numpy pass
    # (bit-identical fold, see _rhp_bands_np), and _candidate_pairs
    # materializes the tiny (vec_id, bk) frame once -- unmaterialized,
    # the banding subtree runs TWICE (both sides of the self-join), at
    # scan parallelism 1.  The distinct after the cosine cut gives
    # ANY-band semantics.
    pairs = _candidate_pairs(_rhp_bands_np(emb, lsh_band_bits(n)), "vec_id",
                             ["bk"])
    return _cosine_rerank(pairs, emb, _local_emb_table(sf_dir), n,
                          min_sim=COSINE_MIN).distinct()


def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate top-k: the scale path for similarity search.

    Banded OR-construction over random-hyperplane bits (RHP_BANDS tables of
    band_bits each, band_bits sized by lsh_band_bits(N)): a pair is a
    candidate if ANY band matches; exact cosine rerank inside candidates.
    At 10^9 vectors this replaces the per-query O(N) scan with RHP_BANDS
    bucket joins over ~2^10-row buckets.  Only ids flow through the band
    join; vectors meet the deduped candidate set in _cosine_rerank.
    Recall vs the brute-force reference (q_ann_cosine_topk) depends on
    the data's neighbor structure: ~1.0 for true near-duplicates; lower
    for uniformly random vectors whose "nearest" neighbors are far
    (tested in test_ann_lsh_recall).
    Self-sizing reads N from parquet footer stats (no scan job); a
    non-local-parquet input costs one count() job."""
    emb = _t(spark, sf_dir, "embeddings")
    n = _embeddings_n_rows(emb, sf_dir)
    # same kernel + materialize-once treatment as
    # q_embedding_neardup_lsh (unmaterialized, the banding runs twice --
    # query side and corpus side)
    banded = _rhp_bands_np(emb, lsh_band_bits(n)).localCheckpoint(eager=True)
    qs = (banded.filter(F.col("vec_id") < N_QUERIES)
          .select(F.col("vec_id").alias("q_id"), F.col("bk").alias("q_bk")))
    cands = (F.broadcast(qs).join(banded, qs.q_bk == banded.bk)
             .filter(F.col("vec_id") != F.col("q_id"))
             .select("q_id", "vec_id")
             .dropDuplicates(["q_id", "vec_id"]))
    scored = _cosine_rerank(cands, emb, _local_emb_table(sf_dir), n,
                            "q_id", "vec_id")
    return _top_k(scored, F.desc("sim"))


def _rhp_oracle_ctes() -> str:
    """Shared sig/banded CTE text for the LSH oracles at the gate's
    BAND_BITS x RHP_BANDS: the SAME md5 sign constants as _rhp_bands_np,
    embedded as DuckDB array literals."""
    band_bits = BAND_BITS
    signs = _rhp_sign_matrix(band_bits * RHP_BANDS)
    bit_cols = ",\n         ".join(
        f"CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(str(v) for v in row)}]::DOUBLE[]) >= 0 "
        f"THEN 1 ELSE 0 END AS bit{i}"
        for i, row in enumerate(signs))
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT vec_id, CAST({b} AS BIGINT) AS band, CAST({expr} AS BIGINT)"
        " AS val FROM sig".format(
            b=b, expr=" + ".join(f"{1 << i} * bit{b * band_bits + i}"
                                 for i in range(band_bits)))
        for b in range(RHP_BANDS))
    return f"""sig AS (
  SELECT vec_id, embedding,
         {bit_cols}
  FROM embeddings
),
banded AS (
{band_selects}
)"""


# the LSH candidate pairs of the banded sign bits and their cosines, as
# sims(a_id, b_id, sim)
_LSH_SIMS_CTES = f"""pairs AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.val = b.val AND a.vec_id < b.vec_id
),
sims AS (
  SELECT p.a_id, p.b_id, {_COS_SQL.format(a="ea", b="eb")} AS sim
  FROM pairs p
  JOIN embeddings ea ON ea.vec_id = p.a_id
  JOIN embeddings eb ON eb.vec_id = p.b_id
)"""

# DuckDB replay of q_embedding_neardup_lsh at band_bits=BAND_BITS
ORACLE_EMBEDDING_NEARDUP_LSH = f"""
WITH {_rhp_oracle_ctes()},
{_LSH_SIMS_CTES}
SELECT a_id, b_id, sim FROM sims WHERE sim >= {COSINE_MIN}
ORDER BY a_id, b_id
"""

# DuckDB replay of q_ann_lsh_topk at band_bits=BAND_BITS
ORACLE_ANN_LSH = f"""
WITH {_rhp_oracle_ctes()},
qs AS (SELECT vec_id AS q_id, band, val FROM banded WHERE vec_id < {N_QUERIES}),
cand AS (
  SELECT DISTINCT q.q_id, b.vec_id
  FROM qs q JOIN banded b
    ON q.band = b.band AND q.val = b.val AND b.vec_id <> q.q_id
),
sims AS (
  SELECT c.q_id, c.vec_id, {_COS_SQL.format(a="eq", b="ev")} AS sim
  FROM cand c
  JOIN embeddings eq ON eq.vec_id = c.q_id
  JOIN embeddings ev ON ev.vec_id = c.vec_id
),
ranked AS (
  SELECT q_id, vec_id, sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id)
              AS INT) AS rnk
  FROM sims
)
SELECT q_id, vec_id, sim, rnk FROM ranked WHERE rnk <= {TOP_K}
ORDER BY q_id, rnk
"""


def _ivf_candidates(pairs, cells):
    """(q_id, vec_id) candidates: every vector of each query's N_PROBE
    nearest cells (by pairs' sim_c, ties to the smaller c_id), minus the
    query itself.  Cells are disjoint, so no pair repeats."""
    wq = Window.partitionBy("q_id").orderBy(F.desc("sim_c"), "c_id")
    probes = (pairs.filter(F.col("vec_id") < N_QUERIES)
              .select(F.col("vec_id").alias("q_id"), "c_id", "sim_c")
              .withColumn("rn", F.row_number().over(wq))
              .filter(F.col("rn") <= N_PROBE)
              .select("q_id", F.col("c_id").alias("cell")))
    return (F.broadcast(probes).join(cells, "cell")
            .filter(F.col("vec_id") != F.col("q_id"))
            .select("q_id", "vec_id"))


def _ivf_cells(emb, local, n):
    """The IVF coarse quantizer (the blocking stage in SparkER's sense):
    (vec_id, c_id, sim_c) sims of every vector to the N_CELLS centroids,
    the DETERMINISTIC every ceil(N/N_CELLS)-th vec_id (no RNG, so the
    DuckDB oracles replay the index bit-for-bit), materialized once for
    its two consumers; and each vector's (vec_id, cell), the nearest
    centroid.  Sims come from the _np_cent_sims kernel (raw division in
    the kernel, 6dp round here).  The argmax is a max(struct(sim,
    -c_id)) partial aggregate (map-side combined, no window over the
    N x N_CELLS pair rows), ties to the smallest centroid id."""
    import math
    step = max(1, math.ceil(n / N_CELLS))
    c_ids, c_mat = _emb_subset(emb, local, lambda v: v % step == 0)
    pairs = (_np_cent_sims(emb, c_ids, c_mat)
             .select("vec_id", "c_id",
                     F.round(F.col("raw"), 6).alias("sim_c"))
             .localCheckpoint(eager=True))
    cells = (pairs.groupBy("vec_id")
             .agg(F.max(F.struct(F.col("sim_c").alias("s"),
                                 (-F.col("c_id")).alias("nc"))).alias("m"))
             .select("vec_id", (-F.col("m.nc")).alias("cell")))
    return pairs, cells


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-Flat approximate top-k: the coarse-quantizer counterpart to the
    RHP-LSH path.  Vectors partition into N_CELLS Voronoi cells around
    sampled centroids (_ivf_cells); a query scans only its N_PROBE
    nearest cells, i.e. ~N_PROBE/N_CELLS of the corpus instead of an
    O(N) scan.

    Scale shape: the build-side assignment is one broadcast of N_CELLS
    centroids x a map-side combined argmax; probes and rerank touch only
    candidate cells.  N comes from parquet footer stats, no scan job (a
    non-local-parquet input costs one count() job).  The cell count is
    fixed, so a probe scans ~N_PROBE*N/N_CELLS rows: linear in N, a
    quarter of the corpus (SCALE.md §ANN)."""
    emb = _t(spark, sf_dir, "embeddings")
    n = _embeddings_n_rows(emb, sf_dir)
    local = _local_emb_table(sf_dir)
    pairs, cells = _ivf_cells(emb, local, n)
    scored = _cosine_rerank(_ivf_candidates(pairs, cells), emb, local, n,
                            "q_id", "vec_id")
    return _top_k(scored, F.desc("sim"))


# the IVF centroids as cents(c_id, embedding): every step-th vector, the
# step arithmetic run in SQL
_IVF_CENT_CTES = f"""stepv AS (
  SELECT CAST(CEIL(COUNT(*) / {N_CELLS}.0) AS BIGINT) AS step
  FROM embeddings
),
cents AS (
  SELECT vec_id AS c_id, embedding
  FROM embeddings WHERE vec_id % (SELECT GREATEST(step, 1) FROM stepv) = 0
)"""
# each vector's nearest cell, and the N_PROBE cells of each query, from the
# sims(vec_id, c_id, sim_c) table
_IVF_PROBE_CTES = f"""cells AS (
  SELECT vec_id, c_id AS cell FROM (
    SELECT vec_id, c_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY sim_c DESC, c_id) AS rn
    FROM sims) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS q_id, c_id AS cell FROM (
    SELECT vec_id, c_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY sim_c DESC, c_id) AS rn
    FROM sims WHERE vec_id < {N_QUERIES}) WHERE rn <= {N_PROBE}
)"""

# DuckDB replay of q_ann_ivf_topk: same sampled centroids, same cosine
# rounding, same tie-breaks
ORACLE_ANN_IVF = f"""
WITH {_IVF_CENT_CTES},
sims AS (
  SELECT e.vec_id, c.c_id, {_COS_SQL.format(a="e", b="c")} AS sim_c
  FROM embeddings e CROSS JOIN cents c
),
{_IVF_PROBE_CTES},
cand AS (
  SELECT p.q_id, a.vec_id
  FROM probes p JOIN cells a USING (cell)
  WHERE a.vec_id <> p.q_id
),
scored AS (
  SELECT cd.q_id, cd.vec_id, {_COS_SQL.format(a="eq", b="ev")} AS sim
  FROM cand cd
  JOIN embeddings eq ON eq.vec_id = cd.q_id
  JOIN embeddings ev ON ev.vec_id = cd.vec_id
),
ranked AS (
  SELECT q_id, vec_id, sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY sim DESC, vec_id) AS INT) AS rnk
  FROM scored
)
SELECT q_id, vec_id, sim, rnk FROM ranked WHERE rnk <= {TOP_K}
ORDER BY q_id, rnk
"""


def q_winnow_fingerprint(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    rolling WINNOW_K-gram hashes, keep the minimum of every WINNOW_W-window,
    distinct.  Guarantees any shared substring of length >= w+k-1 yields a
    shared
    fingerprint -- the plagiarism/near-dup detection primitive.

    Computed in ONE shuffle-free Arrow stage (spark/winnow.py: numpy
    rolling polynomial hash + sliding-window min per document) -- the
    relational form explodes a row per character position and
    shuffled them through Window.partitionBy(doc_id), ~10^14 rows of
    shuffle at 100 TB of text.  That relational formulation survives as
    the definition: q_winnow_fingerprint_expr (the in-Spark SQL twin in
    tests/references.py, diffed in tests/test_plans.py) and ORACLE_WINNOW
    (DuckDB) replay the identical portable hash.  The trailing orderBy exists for the deterministic oracle
    compare; the fingerprint computation itself has no exchange."""
    from .winnow import winnow_fingerprints
    docs = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(docs).orderBy("doc_id")


def _winnow_hash_expr(pos: str) -> str:
    """The portable rolling hash h = fold (h*257 + codepoint) mod 1e9+7
    over the WINNOW_K chars from `pos`, as nested SQL -- identical text
    works in Spark SQL and DuckDB."""
    expr = f"CAST(ascii(substring(text, {pos}, 1)) AS BIGINT)"
    for j in range(1, WINNOW_K):
        expr = (f"(({expr}) * 257 + "
                f"ascii(substring(text, {pos} + {j}, 1))) % 1000000007")
    return expr


def q_neardup_clusters(spark, sf_dir):
    """Near-duplicate CLUSTER assignment: connected components over the
    LSH near-dup pair graph -- the step a real dedup pipeline runs after
    pair generation (keep ONE survivor per cluster, not one per pair;
    pairwise dedup alone double-drops transitive chains A~B~C).
    Clustering is its own stage after matching (the SparkER staging):
    connected_components takes the unordered pair frame and labels it
    on the driver below CC_DRIVER_MAX_PAIRS pairs, with
    large-star/small-star rounds in Spark above it; neither path bounds
    the component diameter.

    Returns (vec_id, cluster, is_survivor): cluster = min vec_id of the
    component, survivor = the cluster representative.  The DuckDB oracle
    replays it with a recursive transitive-closure CTE over the same
    md5-sign-matrix LSH pairs."""
    pairs = _embedding_near_pairs(spark, sf_dir).select("a_id", "b_id")
    return (connected_components(pairs).select(
        F.col("id").alias("vec_id"), F.col("label").alias("cluster"),
        (F.col("id") == F.col("label")).alias("is_survivor"))
        .orderBy("vec_id"))


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components of the undirected graph whose edges are the
    rows of `pairs`' first two (bigint) columns: one (id, label) row per
    id, label = the min id of its component.

    One job collects at most CC_DRIVER_MAX_PAIRS + 1 pairs.  A graph
    within the gate is labelled on the driver (_np_min_labels) and comes
    back as a local frame; a larger one is labelled by
    _star_components, which runs the pair plan again."""
    import pyarrow as pa
    a, b = pairs.columns[:2]
    edges = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    tbl = edges.limit(CC_DRIVER_MAX_PAIRS + 1).toArrow()
    if tbl.num_rows > CC_DRIVER_MAX_PAIRS:
        return _star_components(edges)
    ids, labels = _np_min_labels(
        tbl.column("src").to_numpy(), tbl.column("dst").to_numpy())
    return pairs.sparkSession.createDataFrame(
        pa.table({"id": ids, "label": labels}), "id bigint, label bigint")


def _np_min_labels(a, b):
    """(ids ascending, labels) of the graph with edges (a[i], b[i]):
    label = the min id of the id's component.  Union-find over the
    indexes of the sorted ids: each round hooks the root of every edge's
    larger-root end to the smaller root (np.minimum.at), then pointer
    jumping flattens every tree onto its root.  A parent index is never
    above its child, so each root is its tree's min index, i.e. its
    component's min id; rounds end when both ends of every edge share a
    root."""
    import numpy as np
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = inv[:len(a)], inv[len(a):]
    parent = np.arange(len(ids))
    while True:
        pu, pv = parent[u], parent[v]
        cross = pu != pv
        if not cross.any():
            return ids, ids[parent]
        u, v, pu, pv = u[cross], v[cross], pu[cross], pv[cross]
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        jumped = parent[parent]
        while not np.array_equal(jumped, parent):
            parent, jumped = jumped, jumped[jumped]


def _star_components(edges: DataFrame) -> DataFrame:
    """connected_components in Spark: large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) over (src, dst) edges stored larger id first.  Each round
    is one large-star and one small-star step, and its edges are
    materialized once (localCheckpoint) for the next round and for the
    convergence count.  The rounds stop when a round leaves the edge set
    unchanged: then every component is a star around its min id.  The
    paper bounds the rounds by O(log^2 n) whatever the component
    diameter (a shuffled 1,000-id path takes about 10).  An id
    that is no star's leaf (a centre, or an id with only self-pairs) is
    its own label."""
    cur = (edges.select(F.greatest("src", "dst").alias("src"),
                        F.least("src", "dst").alias("dst"))
           .distinct().localCheckpoint())
    nodes = cur.select(F.col("src").alias("id")) \
        .union(cur.select("dst")).distinct()
    while True:
        new = _small_star(_large_star(cur)).localCheckpoint()
        changed = (new.withColumn("_n", F.lit(1))
                   .join(cur.withColumn("_c", F.lit(1)), ["src", "dst"],
                         "full_outer")
                   .filter(F.col("_n").isNull() | F.col("_c").isNull())
                   .count())
        cur = new
        if changed == 0:
            break
    star = cur.select(F.col("src").alias("id"), F.col("dst").alias("label"))
    return nodes.join(star, "id", "left").select(
        "id", F.coalesce("label", "id").alias("label"))


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: every id u links each neighbour above it to m(u), the
    min of u and its neighbours.  Returns (src, dst), src > dst."""
    both = edges.union(edges.select("dst", "src"))
    m = F.least("src", F.min("dst").over(Window.partitionBy("src")))
    return (both.select("src", "dst", m.alias("m"))
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst")))


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star over (src, dst), src > dst: every id v links itself and
    each neighbour below it to m(v), the min of those neighbours.
    Returns the distinct (src, dst), src > dst."""
    m = F.min("dst").over(Window.partitionBy("src"))
    s = edges.select("src", "dst", m.alias("m"))
    return (s.select("src", "m")
            .union(s.filter(F.col("dst") != F.col("m")).select("dst", "m"))
            .toDF("src", "dst").distinct())


# recursive transitive closure over the same LSH pair graph (identical
# sign-matrix constants); cluster = min reachable id
ORACLE_NEARDUP_CLUSTERS = f"""
WITH RECURSIVE {_rhp_oracle_ctes()},
{_LSH_SIMS_CTES},
near AS (SELECT a_id, b_id FROM sims WHERE sim >= {COSINE_MIN}),
{_REACH_CTES}
{_reach_clusters_sql("vec_id")}
"""


ORACLE_WINNOW = f"""
WITH grams AS (
  SELECT doc_id, i AS pos,
         {_winnow_hash_expr("i")} AS h
  FROM documents, UNNEST(range(1, LENGTH(text) - {WINNOW_K - 2})) AS t(i)
),
wins AS (
  SELECT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp
  FROM grams
)
SELECT doc_id, COUNT(DISTINCT fp) AS n_fps, MIN(fp) AS min_fp
FROM (SELECT DISTINCT doc_id, fp FROM wins)
GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Corpus assembly: deterministic sampling + sequence packing (the two steps
# between "cleaned corpus" and "tokenizer-ready shards" in an LLM data
# pipeline; neither exists in the reference -- pure training-data shell)

def md5_shard(col, n):
    """First 8 hex digits of md5(col) as a long, mod n -- THE
    shard/sampling bucket hash.  q_corpus_sample, q_pack_sequences,
    q_corpus_shuffle, and sinks.write_jsonl_sharded all route through
    this single definition: the cross-operator layout guarantee (a
    row's shard never changes between the sampler, the packer, the
    shuffler, and the export files) is exactly the guarantee that
    every caller shares one hash."""
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
            .cast("long") % n)


def q_corpus_sample(spark, sf_dir):
    """Deterministic stratified corpus sampling: keep a doc iff
    md5(doc_id) mod SAMPLE_DENOM < SAMPLE_RATES[lang] -- the hash-threshold
    sampler
    every corpus mix uses to hit per-language token budgets.

    Scale shape: a MAP-ONLY filter -- no shuffle, no count jobs, no
    window.  Sampling by content-stable hash (not rand()) makes the
    sample reproducible across runs/retries/cluster sizes and
    automatically consistent between incremental loads (a doc's keep
    decision never changes).  SAMPLE_RATES is a plain dict compiled
    into a CASE expression (a handful of languages -- no join
    needed; a 10^4-stratum map would broadcast-join instead).  The
    DuckDB oracle replays the md5 threshold bit-for-bit (the minhash
    portable-hash pattern)."""
    docs = _t(spark, sf_dir, "documents")
    h = md5_shard(F.col("doc_id"), SAMPLE_DENOM)
    rate = F.lit(0)
    for lang, r in sorted(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return (docs.withColumn("bucket", h)
            .filter(F.col("bucket") < rate)
            .select("doc_id", "lang", "bucket")
            .orderBy("doc_id"))


ORACLE_CORPUS_SAMPLE = f"""
SELECT doc_id, lang,
       CAST(from_hex(substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIT
            AS BIGINT) % {SAMPLE_DENOM} AS bucket
FROM documents
WHERE CAST(from_hex(substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIT
           AS BIGINT) % {SAMPLE_DENOM} < (CASE {" ".join(
               f"WHEN lang = '{lang}' THEN {r}"
               for lang, r in sorted(SAMPLE_RATES.items()))} ELSE 0 END)
ORDER BY doc_id
"""


def q_pack_sequences(spark, sf_dir):
    """Sequence packing: assign every doc a (shard, seq_id, tok_offset) under
    GPT-style concatenate-then-split semantics -- docs are concatenated
    in doc_id order and split into PACK_BUDGET-token context windows; seq_id
    is the window a doc's FIRST token lands in, tok_offset its position
    inside the concatenation.  The step that turns a cleaned corpus into
    fixed-length pretraining rows.

    Scale shape: packing is per-SHARD (shard = md5(doc_id) mod
    PACK_SHARDS, the url-bucket idiom), so the running sum is a window over
    each shard's partition -- PACK_SHARDS independent sorted cumsums, NO
    global
    ordering (a single global sort of 10^12 docs is the anti-pattern;
    real pipelines pack per output shard exactly like this).  Token
    counts are whitespace words (q_token_stats' n_tokens), computed
    map-side; only (doc_id, shard, n_tokens) enters the window exchange
    -- text never shuffles."""
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim("text"), r"\s+"))).cast("long")
    slim = docs.select(
        "doc_id",
        md5_shard(F.col("doc_id"), PACK_SHARDS).alias("shard"),
        n_tok.alias("n_tokens"))
    w = Window.partitionBy("shard").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)
    return (slim.select(
        "doc_id", "shard", "n_tokens",
        (cum - F.col("n_tokens")).alias("tok_offset"),
        F.floor((cum - F.col("n_tokens")) / PACK_BUDGET).alias("seq_id"))
        .orderBy("doc_id"))


ORACLE_PACK_SEQUENCES = f"""
WITH slim AS (
  SELECT doc_id,
         CAST(from_hex(substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIT
              AS BIGINT) % {PACK_SHARDS} AS shard,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(regexp_split_to_array(TRIM(text), '\\s+')) END
           AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
              - n_tokens AS BIGINT) AS tok_offset
  FROM slim
)
SELECT doc_id, shard, n_tokens, tok_offset,
       CAST(FLOOR(tok_offset / {PACK_BUDGET}) AS BIGINT) AS seq_id
FROM packed ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Decontamination: eval-set n-gram overlap (the train/test leakage scrub
# every LLM pipeline runs before training -- GPT-3 appendix C's 13-gram
# overlap filter is the canonical form; pure training-data shell, no
# reference counterpart)

def q_decontaminate(spark, sf_dir):
    """Contamination report: every TRAIN document (doc_id % EVAL_MOD != 0)
    sharing at least one word DECON_N-gram with the held-out EVAL split
    (doc_id % EVAL_MOD == 0), with its count of distinct shared grams.
    The split is a deterministic stand-in for "the benchmark suite" --
    in production the eval side is a separate tiny table of benchmark
    prompts/answers and the train side is the corpus.

    Scale shape: eval benchmarks are MBs against a 100 TB corpus, so the
    distinct eval grams BROADCAST; train grams are built shuffle-free
    (_ngrams: zip-against-shifted-slices, no window) and stream out of
    the scan partition straight into the broadcast hash semi-join, so no
    corpus-sized exchange exists anywhere -- the only shuffle carries
    (doc_id, gram) for MATCHED grams only (rare by construction).  At
    production scale the broadcast key would be xxhash64(gram) (8 bytes
    vs the string); the gate joins on the gram itself so the DuckDB
    oracle replays exactly with no cross-engine hash dependency."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    long_enough = docs.filter(F.size(words) >= DECON_N)
    is_eval = (F.col("doc_id") % EVAL_MOD) == 0
    eval_grams = (_ngrams(long_enough.filter(is_eval), DECON_N, out="gram")
                  .select("gram").distinct())
    train_grams = _ngrams(long_enough.filter(~is_eval), DECON_N, out="gram")
    return (train_grams.join(F.broadcast(eval_grams), "gram")
            .groupBy("doc_id")
            .agg(F.countDistinct("gram").cast("int").alias("n_shared_grams"))
            .orderBy("doc_id"))


# the eval grams e and the train grams t of both exact-scrub oracles
_DECON_GRAM_CTES = f"""
w AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS ws
      FROM documents),
g AS (
  SELECT doc_id,
         UNNEST([array_to_string(ws[i:i+{DECON_N - 1}], ' ')
                 FOR i IN range(1, LEN(ws) - {DECON_N - 2})]) AS gram
  FROM w WHERE LEN(ws) >= {DECON_N}
),
e AS (SELECT DISTINCT gram FROM g WHERE doc_id % {EVAL_MOD} = 0),
t AS (SELECT doc_id, gram FROM g WHERE doc_id % {EVAL_MOD} != 0)"""

ORACLE_DECONTAMINATE = f"""
WITH {_DECON_GRAM_CTES}
SELECT t.doc_id, CAST(COUNT(DISTINCT t.gram) AS INT) AS n_shared_grams
FROM t JOIN e USING (gram)
GROUP BY t.doc_id ORDER BY doc_id
"""


def q_decontaminate_clean(spark, sf_dir):
    """The decontaminated TRAIN corpus: train docs with zero shared
    n-grams against the eval split, with their text.  Contaminated ids
    are a tiny frame (the q_decontaminate report), so the removal is a
    broadcast LEFT-ANTI join -- the text payload never enters a shuffle,
    same pattern as q_text_dedup_clean / q_paragraph_dedup_clean."""
    dirty = q_decontaminate(spark, sf_dir).select("doc_id")
    docs = _t(spark, sf_dir, "documents")
    return (docs.filter((F.col("doc_id") % EVAL_MOD) != 0)
            .join(F.broadcast(dirty), "doc_id", "left_anti")
            .select("doc_id", "text").orderBy("doc_id"))


ORACLE_DECONTAMINATE_CLEAN = f"""
WITH {_DECON_GRAM_CTES},
dirty AS (SELECT DISTINCT t.doc_id FROM t JOIN e USING (gram))
SELECT doc_id, text FROM documents
WHERE doc_id % {EVAL_MOD} != 0
  AND doc_id NOT IN (SELECT doc_id FROM dirty)
ORDER BY doc_id
"""


def q_domain_mix(spark, sf_dir):
    """Corpus mix planning: per-language token totals, natural share, and
    the temperature-smoothed target share p_l^MIX_ALPHA /
    sum(p^MIX_ALPHA) --
    the XLM-R/mT5 alpha-sampling rule that up-weights low-resource
    strata -- plus the resulting over/under-sampling factor.  The output
    of this report is exactly the SAMPLE_RATES dict q_corpus_sample
    consumes.

    Scale shape: one partial-agg groupBy over (lang) -- the exchange
    carries ONE ROW PER LANGUAGE of (sum, count), nothing else; shares
    are computed via a single-partition window over the per-lang rows
    (|langs| rows total, trivially driver-sized)."""
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim("text"), r"\s+"))).cast("long")
    per_lang = (docs.select("lang", n_tok.alias("n"))
                .groupBy("lang")
                .agg(F.sum("n").alias("lang_tokens"),
                     F.count(F.lit(1)).alias("n_docs")))
    w = Window.partitionBy()
    share = F.col("lang_tokens") / F.sum("lang_tokens").over(w)
    smoothed = F.pow(share, F.lit(MIX_ALPHA))
    target = smoothed / F.sum(smoothed).over(w)
    return (per_lang.select(
        "lang", "lang_tokens", "n_docs",
        F.round(share, 6).alias("natural_share"),
        F.round(target, 6).alias("target_share"),
        F.round(target / share, 6).alias("sample_factor"))
        .orderBy("lang"))


ORACLE_DOMAIN_MIX = f"""
WITH per_lang AS (
  SELECT lang,
         SUM(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                  ELSE LEN(regexp_split_to_array(TRIM(text), '\\s+')) END)
           AS lang_tokens,
         COUNT(*) AS n_docs
  FROM documents GROUP BY lang
),
shares AS (
  SELECT lang, lang_tokens, n_docs,
         lang_tokens / SUM(lang_tokens) OVER () AS share,
         POW(lang_tokens / SUM(lang_tokens) OVER (), {MIX_ALPHA}) AS sm
  FROM per_lang
)
SELECT lang, CAST(lang_tokens AS BIGINT) AS lang_tokens, n_docs,
       ROUND(share, 6) AS natural_share,
       ROUND(sm / SUM(sm) OVER (), 6) AS target_share,
       ROUND((sm / SUM(sm) OVER ()) / share, 6) AS sample_factor
FROM shares ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Incremental dedup: new-batch ingest vs a persisted corpus index (the
# steady-state shape of dedup at 100 TB -- you never re-minhash the whole
# corpus per ingest; the index's content hashes and MinHash signatures are
# computed once and stored, and each new batch joins against them)

def incremental_dedup(docs, is_batch):
    """Classify every BATCH document (the rows of `docs` where the
    `is_batch` column predicate holds) against the INDEX corpus (the
    rest): ``exact_dup`` (content hash already in the index), ``near_dup``
    (shares a MinHash band bucket with an index doc and estimated
    Jaccard >= EST_JACCARD_MIN), else ``new``.  Exact wins over near.

    Scale shape (batch << index is the definition of incremental):
    every batch-derived frame -- content hashes, signatures, band rows,
    candidate pairs -- is explicitly broadcast, so the INDEX side is
    never shuffled: the exact stage is a broadcast hash join against the
    index hash scan, and the near stage broadcast-joins batch bands into
    the index band scan, then broadcast-joins the (tiny) candidate list
    into the index signature scan.  In production index hashes /
    signatures / bands are a PERSISTED table (computed once per corpus,
    pre-capped per bucket); here they are derived from `docs` so the
    gate is self-contained -- the derivation cost is the one-time index
    build, not the per-ingest cost.  MAX_BUCKET bounds hot buckets on
    the index side (same guard as q_minhash_est_pairs); the persisted
    index would store bands already capped.

    Both sides are slices of one frame, so the content hashes and
    MinHash signatures come from a single shared scan each (per-doc
    computations commute with the filter exactly), materialized once
    (localCheckpoint, the q_minhash_est_pairs precedent) and then split:
    each feeds two consumers and Catalyst does not dedupe common
    subplans.  This is the in-query mirror of the persisted-index read."""
    hashes = docs.select("doc_id", F.md5("text").alias("h")) \
        .localCheckpoint(eager=True)
    sigs = _minhash_sigs(docs).localCheckpoint(eager=True)
    exact_ids = (hashes.filter(~is_batch).select("h")
                 .join(F.broadcast(hashes.filter(is_batch)), "h")
                 .select("doc_id").distinct())

    i_sigs = sigs.filter(~is_batch)
    b_sigs = sigs.filter(is_batch)
    i_bands = _cap_buckets(_minhash_banded(i_sigs), ["band", "bucket"],
                           "doc_id")
    b_bands = _minhash_banded(b_sigs)
    cand = (i_bands.withColumnRenamed("doc_id", "i_id")
            .join(F.broadcast(b_bands.withColumnRenamed("doc_id", "b_id")),
                  ["band", "bucket"])
            .select("i_id", "b_id").distinct())
    near_ids = (_sig_side(i_sigs, "i_id", "a")
                .join(F.broadcast(cand), "i_id")
                .join(F.broadcast(_sig_side(b_sigs, "b_id", "b")), "b_id")
                .filter(_est_jaccard() >= EST_JACCARD_MIN)
                .select(F.col("b_id").alias("doc_id")).distinct())

    status = (F.when(F.col("is_exact"), F.lit("exact_dup"))
              .when(F.col("is_near"), F.lit("near_dup"))
              .otherwise(F.lit("new")))
    return (docs.filter(is_batch).select("doc_id")
            .join(F.broadcast(exact_ids.withColumn("is_exact", F.lit(True))),
                  "doc_id", "left")
            .join(F.broadcast(near_ids.withColumn("is_near", F.lit(True))),
                  "doc_id", "left")
            .fillna(False, ["is_exact", "is_near"])
            .select("doc_id", status.alias("status"))
            .orderBy("doc_id"))


def q_incremental_dedup(spark, sf_dir):
    """Gate wrapper: batch = docs with doc_id % BATCH_MOD >= BATCH_MIN,
    index = the rest (a deterministic stand-in for "yesterday's corpus +
    today's crawl").  Testdata has zero exact text duplicates anywhere
    (checked), so the exact_dup arm is pinned by a synthetic-frame
    unit test (tests/test_incremental_dedup.py) and the gate's signal is
    the near_dup/new split (40+ straddling near-pairs at sf0.01)."""
    return incremental_dedup(_t(spark, sf_dir, "documents"),
                             (F.col("doc_id") % BATCH_MOD) >= BATCH_MIN)


def _incremental_dedup_oracle_sql() -> str:
    agree = " + ".join(f"(x.a{h} = y.b{h})::INT" for h in range(N_HASHES))
    ax = ", ".join(f"h{h} AS a{h}" for h in range(N_HASHES))
    bx = ", ".join(f"h{h} AS b{h}" for h in range(N_HASHES))
    return f"""
WITH {_minhash_ctes()},
exact AS (
  SELECT DISTINCT b.doc_id FROM documents b
  JOIN documents i ON md5(i.text) = md5(b.text)
  WHERE b.doc_id % {BATCH_MOD} >= {BATCH_MIN}
    AND i.doc_id % {BATCH_MOD} < {BATCH_MIN}
),
cand AS (
  SELECT DISTINCT ib.doc_id AS i_id, bb.doc_id AS b_id
  FROM bands ib JOIN bands bb
    ON ib.band = bb.band AND ib.bucket = bb.bucket
  WHERE ib.doc_id % {BATCH_MOD} < {BATCH_MIN}
    AND bb.doc_id % {BATCH_MOD} >= {BATCH_MIN}
),
near AS (
  SELECT DISTINCT c.b_id AS doc_id
  FROM cand c
  JOIN (SELECT doc_id, {ax} FROM hx) x ON x.doc_id = c.i_id
  JOIN (SELECT doc_id, {bx} FROM hx) y ON y.doc_id = c.b_id
  WHERE ROUND(({agree}) / {float(N_HASHES)}, 4) >= {EST_JACCARD_MIN}
)
SELECT d.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN n.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS status
FROM documents d
LEFT JOIN exact e ON e.doc_id = d.doc_id
LEFT JOIN near n ON n.doc_id = d.doc_id
WHERE d.doc_id % {BATCH_MOD} >= {BATCH_MIN}
ORDER BY d.doc_id
"""


ORACLE_INCREMENTAL_DEDUP = _incremental_dedup_oracle_sql()


# ---------------------------------------------------------------------------
# Quality-classifier training: CCNet/fastText-style linear filter trained
# INSIDE the engine (the pipeline step that turns a trusted seed corpus
# into a quality score for every crawled page; no reference counterpart)

def _quality_features(docs, label):
    """Raw per-doc features as pure column exprs: English-stopword
    ratio, mean word length / 10, log10 word count / 4.  `label` is a
    Column producing the 0/1 seed label."""
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_words = F.size(words)
    stops = F.size(F.regexp_extract_all(
        F.col("text"), F.lit(r"\b" + _EN_STOP + r"\b"), F.lit(0)))
    return docs.select(
        "doc_id",
        label.cast("int").alias("y"),
        (stops / n_words).alias("x1"),
        ((F.length("text") + 1) / n_words / 10.0).alias("x2"),
        (F.log10(1.0 + n_words) / 4.0).alias("x3"))


def train_quality_classifier(feats, iters: int):
    """Full-batch gradient-descent logistic regression expressed as Spark
    aggregations over a (doc_id, y, x1..x3) frame: one partial-agg pass
    standardizes the features (mean/stddev become part of the model,
    as in any production filter), then each GD iteration is ONE
    map-side partial-agg pass producing a 4-float mean gradient.
    Weights live on the driver (7 floats total -- the same
    tiny-driver-stats class as lineage manifests) and re-enter the next
    pass as literals, so nothing iterative ever shuffles: per iteration
    the exchange carries ONE ROW of partial gradient sums.

    Returns (scored DataFrame ordered by doc_id, weights list)."""
    # guide §2.4: every GD iteration is an action, and without
    # materialization each of the 1 + iters + 1 passes re-runs the feature
    # extraction (stopword regexp over every document).  feats is a tiny
    # (doc_id, y, x1..x3) frame -- compute it once.
    feats = feats.localCheckpoint(eager=True)
    st = feats.agg(*[f(c).alias(f"{n}{c}")
                     for c in ("x1", "x2", "x3")
                     for n, f in (("m", F.avg), ("s", F.stddev_samp))]
                   ).collect()[0]
    z_of = lambda w: (
        F.lit(w[0])
        + F.lit(w[1]) * (F.col("x1") - F.lit(st["mx1"])) / F.lit(st["sx1"])
        + F.lit(w[2]) * (F.col("x2") - F.lit(st["mx2"])) / F.lit(st["sx2"])
        + F.lit(w[3]) * (F.col("x3") - F.lit(st["mx3"])) / F.lit(st["sx3"]))
    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(iters):
        err = F.lit(1.0) / (F.lit(1.0) + F.exp(-z_of(w))) - F.col("y")
        xs = [F.lit(1.0),
              (F.col("x1") - F.lit(st["mx1"])) / F.lit(st["sx1"]),
              (F.col("x2") - F.lit(st["mx2"])) / F.lit(st["sx2"]),
              (F.col("x3") - F.lit(st["mx3"])) / F.lit(st["sx3"])]
        g = feats.agg(*[F.avg(err * x).alias(f"g{j}")
                        for j, x in enumerate(xs)]).collect()[0]
        w = [w[j] - QC_LR * g[j] for j in range(4)]
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z_of(w)))
    scored = (feats.select(
        "doc_id", "y",
        F.round(p, 4).alias("p_quality"),
        (p >= 0.5).cast("int").alias("pred"))
        .orderBy("doc_id"))
    return scored, w


def q_quality_classifier(spark, sf_dir):
    """Train a CCNet/fastText-style quality classifier INSIDE the engine
    and score every document.  The gate's seed label is the
    deterministic length rule ``n_words >= 50`` -- learnable from the
    features and non-trivially so (boundary recovered through the
    log-compressed x3 plus noise from x1/x2), reaching ~0.96 train
    accuracy vs a 0.55 base rate on testdata.  (The obvious
    ``lang == 'en'`` label is UNLEARNABLE here: testdata's lang column
    is uncorrelated with its synthetic text (checked) -- a classifier
    gate on it would pin a constant-majority predictor.)  Production
    swaps in "page from a trusted domain list" exactly like CCNet's
    Wikipedia seed; learning on a genuinely separable text signal is
    additionally pinned by tests/test_quality_classifier.py.

    Scale shape: 1 + QC_ITERS full scans with partial agg, driver state =
    7 floats -- at 100 TB you'd train on a 0.1% q_corpus_sample (the
    sampler is map-only) and score the full corpus once, which is
    exactly how the production filters are fit.  The DuckDB oracle
    unrolls standardization + iterations as stacked one-row CTEs (the
    pagerank pattern) and replays the identical float arithmetic;
    scores round to 4dp."""
    words = F.split(F.trim(F.col("text")), r"\s+")
    feats = _quality_features(_t(spark, sf_dir, "documents"),
                              F.size(words) >= 50)
    scored, _w = train_quality_classifier(feats, QC_ITERS)
    return scored


def _quality_classifier_oracle_sql() -> str:
    """Unrolled replay: standardization CTE, then one CTE layer per GD
    iteration, each a one-row weight frame CROSS JOINed into the next
    gradient pass."""
    feat = f"""
raw AS (
  SELECT doc_id,
         CASE WHEN LEN(regexp_split_to_array(TRIM(text), '\\s+')) >= 50
              THEN 1 ELSE 0 END AS y,
         LEN(regexp_extract_all(text, '\\b{_EN_STOP}\\b'))
           / LEN(regexp_split_to_array(TRIM(text), '\\s+')) AS x1,
         (LENGTH(text) + 1)
           / LEN(regexp_split_to_array(TRIM(text), '\\s+')) / 10.0 AS x2,
         LOG10(1.0 + LEN(regexp_split_to_array(TRIM(text), '\\s+')))
           / 4.0 AS x3
  FROM documents
),
st AS (
  SELECT AVG(x1) m1, STDDEV_SAMP(x1) s1, AVG(x2) m2, STDDEV_SAMP(x2) s2,
         AVG(x3) m3, STDDEV_SAMP(x3) s3
  FROM raw
),
feats AS (
  SELECT doc_id, y, (x1 - m1) / s1 AS x1, (x2 - m2) / s2 AS x2,
         (x3 - m3) / s3 AS x3
  FROM raw CROSS JOIN st
),
w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""
    lr = QC_LR
    layers = []
    for i in range(QC_ITERS):
        layers.append(f"""
w{i + 1} AS (
  SELECT w.w0 - {lr} * AVG(1.0 / (1.0 + EXP(-(w.w0 + w.w1 * f.x1
           + w.w2 * f.x2 + w.w3 * f.x3))) - f.y) AS w0,
         w.w1 - {lr} * AVG((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * f.x1
           + w.w2 * f.x2 + w.w3 * f.x3))) - f.y) * f.x1) AS w1,
         w.w2 - {lr} * AVG((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * f.x1
           + w.w2 * f.x2 + w.w3 * f.x3))) - f.y) * f.x2) AS w2,
         w.w3 - {lr} * AVG((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * f.x1
           + w.w2 * f.x2 + w.w3 * f.x3))) - f.y) * f.x3) AS w3
  FROM feats f CROSS JOIN w{i} w
  GROUP BY w.w0, w.w1, w.w2, w.w3
)""")
    return f"""
WITH {feat},{",".join(layers)}
SELECT f.doc_id, f.y,
       ROUND(1.0 / (1.0 + EXP(-(w.w0 + w.w1 * f.x1 + w.w2 * f.x2
             + w.w3 * f.x3))), 4) AS p_quality,
       CASE WHEN 1.0 / (1.0 + EXP(-(w.w0 + w.w1 * f.x1 + w.w2 * f.x2
             + w.w3 * f.x3))) >= 0.5 THEN 1 ELSE 0 END AS pred
FROM feats f CROSS JOIN w{QC_ITERS} w
ORDER BY f.doc_id
"""


ORACLE_QUALITY_CLASSIFIER = _quality_classifier_oracle_sql()


# ---------------------------------------------------------------------------
# BPE tokenizer training: the distributed word-counter stage + the merge
# loop over the bounded word table -- the sentencepiece / HF-tokenizers
# trainer architecture (corpus scan -> word counter -> in-memory merges)

def q_bpe_merges(spark, sf_dir):
    """Learn the first BPE_MERGES BPE merges from the corpus: (step, left,
    right, merged, pair_count).

    Architecture (and scale shape): the ONLY corpus-sized work is the
    word-count aggregation -- explode words, partial-agg count, shuffle
    carries (word, count) for DISTINCT words only -- followed by a
    deterministic top-K cut (count DESC, word ASC).  The merge loop then
    runs driver-side over that bounded word table (BPE_TOP_WORDS rows; the
    HF/sentencepiece trainers do exactly this: BPE's statistics are a
    function of the word counter, not of the corpus), so each merge step
    is O(K * avg_word_len) driver work with zero further Spark jobs.
    At 100 TB you raise BPE_TOP_WORDS to ~10^6 and nothing else changes.

    Semantics: symbols start as characters + a terminal '</w>'; the best
    pair maximizes summed within-word occurrence count (overlapping
    occurrences counted, weighted by word count), ties broken (left,
    right) ascending; merge application is a padded-string replace
    applied TWICE: a single pass misses an adjacent
    occurrence that shares one delimiter space with a replaced one
    (' x y x y ' -> ' xy x y '), because the replacement consumes the
    shared space; after one pass the remaining occurrences are never
    adjacent (each miss sits immediately after a replacement), so the
    second pass reaches the one-pair fixed point and the result equals
    canonical greedy left-to-right BPE application ('aaa' merges once,
    'x y x y' merges both).  Both passes are identical in Python and in
    the oracle's nested REPLACE, pinned by the cross-engine gate."""
    out = _bpe_learn(_bpe_word_counts(spark, sf_dir))
    return spark.createDataFrame(
        out, "step int, pair_left string, pair_right string, "
             "merged string, pair_count bigint")


def _bpe_word_counts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs.select(F.explode(
            F.split(F.trim(F.col("text")), r"\s+")).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word").count()
            .orderBy(F.col("count").desc(), F.col("word"))
            .limit(BPE_TOP_WORDS)
            .collect())


def _bpe_learn(wc_rows):
    """The driver-side merge loop over the bounded word table; returns
    [(step, left, right, merged, pair_count), ...]."""
    words = [(" " + " ".join(list(r["word"]) + ["</w>"]) + " ", r["count"])
             for r in wc_rows]
    out = []
    for step in range(1, BPE_MERGES + 1):
        counts: dict = {}
        for sym, n in words:
            ss = sym.split()
            for l, r in zip(ss, ss[1:]):
                counts[(l, r)] = counts.get((l, r), 0) + n
        (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((step, l, r, l + r, c))
        # two replace passes = one-pair fixed point (see q_bpe_merges
        # docstring); mirrored by the oracle's nested REPLACE
        pat, rep = f" {l} {r} ", f" {l}{r} "
        words = [(sym.replace(pat, rep).replace(pat, rep), n)
                 for sym, n in words]
    return out


def _bpe_oracle_sql() -> str:
    """Unrolled replay: word counter + top-K, then per merge step a
    pair-count layer (index-UNNEST zip over the symbol array, weighted,
    overlap-counting) and a one-row winner CROSS JOINed into the next
    symbol rewrite -- same pattern as the GD / pagerank oracles."""
    base = f"""
wc AS (
  SELECT word, COUNT(*) AS cnt FROM (
    SELECT UNNEST(regexp_split_to_array(TRIM(text), '\\s+')) AS word
    FROM documents) WHERE word != ''
  GROUP BY word ORDER BY cnt DESC, word LIMIT {BPE_TOP_WORDS}
),
s0 AS (
  SELECT ' ' || array_to_string(
           list_append([word[i] FOR i IN range(1, LEN(word) + 1)],
                       '</w>'), ' ') || ' ' AS sym,
         cnt
  FROM wc
)"""
    layers = []
    for i in range(BPE_MERGES):
        layers.append(f"""
p{i} AS (
  SELECT ss[i] AS l, ss[i + 1] AS r, SUM(cnt) AS c
  FROM (SELECT regexp_split_to_array(TRIM(sym), ' ') AS ss, cnt
        FROM s{i}), UNNEST(range(1, LEN(ss))) t(i)
  GROUP BY 1, 2
),
m{i} AS (
  SELECT {i + 1} AS step, l, r, l || r AS merged, c AS pair_count
  FROM p{i} ORDER BY c DESC, l, r LIMIT 1
),
s{i + 1} AS (
  SELECT REPLACE(REPLACE(sym, ' ' || m.l || ' ' || m.r || ' ',
                         ' ' || m.l || m.r || ' '),
                 ' ' || m.l || ' ' || m.r || ' ',
                 ' ' || m.l || m.r || ' ') AS sym, cnt
  FROM s{i} CROSS JOIN m{i} m
)""")
    un = "\nUNION ALL ".join(
        f"SELECT step, l AS pair_left, r AS pair_right, merged, pair_count FROM m{i}"
        for i in range(BPE_MERGES))
    return f"""
WITH {base},{",".join(layers)}
SELECT CAST(step AS INT) AS step, pair_left, pair_right, merged,
       CAST(pair_count AS BIGINT) AS pair_count
FROM ({un}) ORDER BY step
"""


ORACLE_BPE_MERGES = _bpe_oracle_sql()


def q_bpe_tokenize(spark, sf_dir):
    """Apply the learned BPE merges to the corpus: per document, the
    whitespace word count and the BPE token count after BPE_MERGES merges
    -- the bridge from q_bpe_merges to q_pack_sequences' token budgets.

    Scale shape: training reuses the bounded word-counter collect
    (q_bpe_merges); APPLICATION is pure whole-stage codegen -- each
    word becomes its padded symbol string (one regexp_replace) and the
    merge table is compiled into a chain of BPE_MERGES literal REPLACEs,
    so tokenization runs JVM-side inside the scan partition with no
    Python, no HOF lambdas, no join (the merge table rides in the plan
    as literals, the degenerate broadcast).  The only exchange is the
    per-doc partial-sum aggregation."""
    merges = _bpe_learn(_bpe_word_counts(spark, sf_dir))
    docs = _t(spark, sf_dir, "documents")
    exploded = (docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"))
        .filter(F.col("word") != ""))
    sym = F.concat(F.lit(" "),
                   F.regexp_replace(F.col("word"), "(.)", "$1 "),
                   F.lit("</w> "))
    for _step, l, r, _m, _c in merges:
        # double replace = one-pair fixed point (q_bpe_merges docstring)
        sym = F.replace(sym, F.lit(f" {l} {r} "), F.lit(f" {l}{r} "))
        sym = F.replace(sym, F.lit(f" {l} {r} "), F.lit(f" {l}{r} "))
    n_tok = F.size(F.split(F.trim(sym), " "))
    return (exploded.select("doc_id", n_tok.alias("t"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_words"),
                 F.sum("t").cast("int").alias("n_bpe_tokens"))
            .orderBy("doc_id"))


def _bpe_tokenize_oracle_sql() -> str:
    """Replay: the full merge-derivation CTE chain of ORACLE_BPE_MERGES,
    then per-word symbol strings rewritten through the BPE_MERGES winner
    rows (nested REPLACE, all one-row CTEs CROSS JOINed)."""
    # reuse everything up to the final SELECT of the merges oracle
    ctes = ORACLE_BPE_MERGES.split("\nSELECT CAST(step AS INT)")[0]
    expr = "s"
    for i in range(BPE_MERGES):
        for _ in range(2):  # double replace = one-pair fixed point
            expr = (f"REPLACE({expr}, ' ' || m{i}.l || ' ' || m{i}.r "
                    f"|| ' ', ' ' || m{i}.l || m{i}.r || ' ')")
    crosses = " ".join(f"CROSS JOIN m{i} m{i}" for i in range(BPE_MERGES))
    return f"""{ctes},
dw AS (
  SELECT doc_id,
         UNNEST(regexp_split_to_array(TRIM(text), '\\s+')) AS word
  FROM documents
),
dsym AS (
  SELECT doc_id,
         ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') || '</w> ' AS s
  FROM dw WHERE word != ''
),
dtok AS (
  SELECT doc_id,
         LEN(regexp_split_to_array(TRIM({expr}), ' ')) AS t
  FROM dsym {crosses}
)
SELECT doc_id, CAST(COUNT(*) AS INT) AS n_words,
       CAST(SUM(t) AS INT) AS n_bpe_tokens
FROM dtok GROUP BY doc_id ORDER BY doc_id
"""


ORACLE_BPE_TOKENIZE = _bpe_tokenize_oracle_sql()


def q_lm_perplexity(spark, sf_dir):
    """CCNet-style language-model quality signal: train an add-LM_K-smoothed
    bigram LM on the corpus (LM_TOP_VOCAB words + <unk>, chr(1) start
    symbol) and score every document's per-token negative log2
    likelihood and perplexity.  Low-ppl docs read like the corpus;
    high-ppl docs are boilerplate/gibberish -- the standard
    perplexity-bucket filter for pretraining data.

    Scale shape: bigram pairs come from zipping the split-word array
    against its shifted self (map-side, NO lead/lag window exchange --
    the shuffle-free shingle idiom); vocab mapping is two BROADCAST
    joins against the bounded LM_TOP_VOCAB table; the trained model
    (bigram/unigram count tables, <= (V+2)^2 rows by construction) is
    BROADCAST back for scoring, so the only wide exchanges are the
    count partial-aggs on hash-sized keys and the final per-doc agg --
    document text never shuffles.  Unigram counts are the bigram
    table's row-sums, derived from the bounded big table rather than a
    second corpus pass (measured 3x on the bench corpus).  Docs with zero words drop out
    (no pairs to score).  Floats: rounded for display; the pytest gate
    compares the unrounded values with tolerance (cross-engine
    log2/pow ULP differences), exact on n_bigrams."""
    docs = _t(spark, sf_dir, "documents")
    start = "\x01"
    w = F.when(F.length(F.trim("text")) > 0,
               F.split(F.lower(F.trim(F.col("text"))), r"\s+")
               ).otherwise(F.array().cast("array<string>"))
    # guide §2.4: this plan re-uses pairs/vocab/m so many times that,
    # unmaterialized, the corpus-wide bigram explode executes ~10x (20
    # document scans: vocab alone re-derives pairs, and m -- consumed by
    # big, uni and the scorer -- re-derives both).  Materialize each
    # shared frame once; all are ids+words or bounded count tables.
    pairs = (docs.select("doc_id", w.alias("w"))
             .select("doc_id", F.explode(
                 F.when(F.size("w") > 0, F.arrays_zip(
                     F.concat(F.array(F.lit(start)),
                              F.slice("w", 1, F.size("w") - 1)).alias("p"),
                     F.col("w").alias("c")))
                 .otherwise(F.array().cast(
                     "array<struct<p:string,c:string>>"))).alias("pc"))
             .select("doc_id", F.col("pc.p").alias("p"),
                     F.col("pc.c").alias("c"))
             .localCheckpoint(eager=True))
    vocab = (pairs.groupBy(F.col("c").alias("word"))
             .agg(F.count(F.lit(1)).alias("n"))
             .orderBy(F.col("n").desc(), "word").limit(LM_TOP_VOCAB)
             .select("word")
             .localCheckpoint(eager=True))
    m = (pairs
         .join(F.broadcast(vocab.withColumnRenamed("word", "vp")),
               F.col("p") == F.col("vp"), "left")
         .join(F.broadcast(vocab.withColumnRenamed("word", "vc")),
               F.col("c") == F.col("vc"), "left")
         .select("doc_id",
                 F.when(F.col("p") == start, F.lit(start))
                  .otherwise(F.coalesce("vp", F.lit("<unk>"))).alias("pm"),
                 F.coalesce("vc", F.lit("<unk>")).alias("cm"))
         .localCheckpoint(eager=True))
    big = m.groupBy("pm", "cm").agg(F.count(F.lit(1)).alias("cb")) \
        .localCheckpoint(eager=True)
    # unigram counts are the bigram table's row-sums -- derived from the
    # BOUNDED big table, NOT by a second corpus pass over m
    uni = big.groupBy("pm").agg(F.sum("cb").alias("cu"))
    vs = vocab.agg((F.count(F.lit(1)) + 1).alias("v"))
    nll = -F.log2((F.col("cb") + LM_K) / (F.col("cu") + LM_K * F.col("v")))
    return (m.join(F.broadcast(big), ["pm", "cm"])
            .join(F.broadcast(uni), ["pm"])
            .crossJoin(F.broadcast(vs))
            .select("doc_id", nll.alias("nll"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_bigrams"),
                 F.avg("nll").alias("avg_nll"),
                 F.pow(F.lit(2.0), F.avg("nll")).alias("ppl"))
            .orderBy("doc_id"))


# DuckDB replay of q_lm_perplexity: same pair construction via a list
# comprehension over the split array, same vocab cut, same smoothed score
ORACLE_LM_PERPLEXITY = f"""
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(TRIM(LOWER(text)), '\\s+'),
                     x -> x != '') AS ws
  FROM documents
),
pairs AS (
  SELECT doc_id,
         CASE WHEN i = 1 THEN chr(1) ELSE ws[i - 1] END AS p,
         ws[i] AS c
  FROM d, UNNEST(range(1, LEN(ws) + 1)) AS t(i)
  WHERE LEN(ws) >= 1
),
vocab AS (
  SELECT c AS word FROM pairs
  GROUP BY c ORDER BY COUNT(*) DESC, c LIMIT {LM_TOP_VOCAB}
),
m AS (
  SELECT doc_id,
         CASE WHEN p = chr(1) THEN chr(1)
              WHEN p IN (SELECT word FROM vocab) THEN p
              ELSE '<unk>' END AS pm,
         CASE WHEN c IN (SELECT word FROM vocab) THEN c
              ELSE '<unk>' END AS cm
  FROM pairs
),
big AS (SELECT pm, cm, COUNT(*) AS cb FROM m GROUP BY pm, cm),
uni AS (SELECT pm, COUNT(*) AS cu FROM m GROUP BY pm),
vs AS (SELECT COUNT(*) + 1 AS v FROM vocab)
SELECT doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
       AVG(-log2((cb + {LM_K}) / (cu + {LM_K} * v))) AS avg_nll,
       POW(2.0, AVG(-log2((cb + {LM_K}) / (cu + {LM_K} * v)))) AS ppl
FROM m JOIN big USING (pm, cm) JOIN uni USING (pm) CROSS JOIN vs
GROUP BY doc_id ORDER BY doc_id
"""


def q_ppl_buckets(spark, sf_dir):
    """CCNet's head/middle/tail perplexity bucketing (Wenzek et al.
    2020 §4.3): tertile cutoffs over the corpus ppl distribution label
    every doc head (most fluent third), middle, or tail -- the standard
    'keep head+middle for pretraining' filter.

    Scale shape: the cutoffs reduce to ONE ROW (exact interpolated
    percentile here for cross-engine determinism at test scale; at
    10^12 docs swap in approx_percentile -- a mergeable t-digest
    partial agg -- or the repo's own replayable q_token_quantiles
    HDR-bin sketch, and the rest of the plan is unchanged) broadcast
    back over the scored frame; the label projection is map-side.
    Output carries no floats, but the labels depend on float ppl /
    percentile values computed independently in Spark and DuckDB
    (different summation order -> ULP drift), so a doc landing exactly
    on a tertile cutoff could flip buckets.  Both
    engines therefore quantize ppl AND the interpolated cutoffs to 6dp
    before comparing -- the boundary comparison is then between two
    identically quantized values."""
    scored = q_lm_perplexity(spark, sf_dir)
    rounded = scored.select("doc_id", F.round("ppl", 6).alias("rppl"))
    cuts = rounded.agg(F.expr(
        "transform(percentile(rppl, array(CAST(1 AS DOUBLE)/3, "
        "CAST(2 AS DOUBLE)/3)), x -> round(x, 6))").alias("c"))
    return (rounded.crossJoin(F.broadcast(cuts))
            .select("doc_id",
                    F.when(F.col("rppl") <= F.col("c")[0], "head")
                     .when(F.col("rppl") <= F.col("c")[1], "middle")
                     .otherwise("tail").alias("bucket"))
            .orderBy("doc_id"))


ORACLE_PPL_BUCKETS = f"""
WITH scored AS (SELECT * FROM ({ORACLE_LM_PERPLEXITY}) AS s),
rounded AS (SELECT doc_id, ROUND(ppl, 6) AS rppl FROM scored),
cuts AS (
  SELECT [ROUND(x, 6) FOR x IN
          quantile_cont(rppl, [CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3])]
         AS c
  FROM rounded
)
SELECT doc_id,
       CASE WHEN rppl <= c[1] THEN 'head'
            WHEN rppl <= c[2] THEN 'middle'
            ELSE 'tail' END AS bucket
FROM rounded CROSS JOIN cuts
ORDER BY doc_id
"""


def _span_window_keys(docs):
    """(doc_id, pos, h_hi, h_lo) for every SPAN_W-word window, pos the
    0-based word offset of its start: the shuffle-free zip construction
    of _ngrams, posexploded, with each window keyed by a 64-bit hash
    pair of its text, materialized once because it feeds both a
    count aggregate and a match join (unmaterialized, the explode and
    the hashing run once per consumer: 6 document scans).

    The key is OUTPUT-INVISIBLE (only gram equality matters, and equal
    grams hash equal under any function), so it is two codegen'd
    xxhash64 calls, not the md5 + hex-substring + conv chain, which
    measured ~20% of q_repeated_spans' wall.  The oracles keep md5:
    outputs agree unless two DISTINCT grams collide on the full 128-bit
    pair (~N^2/2^128).  q_simhash's h_hi/h_lo stay md5: its output
    VALUE is derived from the hash bits."""
    zipped, gram, complete = _word_windows(SPAN_W)
    return (docs.select("doc_id", F.posexplode(zipped).alias("pos", "z"))
            .filter(complete).select("doc_id", "pos", gram.alias("gram"))
            .select("doc_id", "pos",
                    F.xxhash64("gram").alias("h_hi"),
                    F.xxhash64(F.lit(1), F.col("gram")).alias("h_lo"))
            .localCheckpoint(eager=True))


def q_repeated_spans(spark, sf_dir):
    """Exact-substring dedup primitive (the suffix-array-dedup signal of
    Lee et al. 2022, 'Deduplicating Training Data Makes Language Models
    Better', arXiv:2107.06499, re-expressed relationally): every
    SPAN_W-word window that occurs in >= SPAN_MIN_DOCS DISTINCT documents, as
    (doc_id, pos, n_docs) rows -- the span inventory a
    remove-duplicate-substrings pass consumes.

    Scale shape: windows come from the shuffle-free positional n-gram
    projection (_span_window_keys); each window is keyed by a
    64-bit hash pair (h_hi, h_lo) of its text, so the count exchange
    and the match join carry (hash, doc_id, pos) only -- window TEXT
    never shuffles (at 50-word windows a text-keyed groupBy would shuffle ~50x
    the corpus).  The duplicated-gram table is corpus-sized in the
    worst case, so the match join is a plain hash join on the key pair,
    not a broadcast."""
    wk = _span_window_keys(_t(spark, sf_dir, "documents"))
    dup = (wk.groupBy("h_hi", "h_lo")
           .agg(F.countDistinct("doc_id").alias("n_docs"))
           .filter(F.col("n_docs") >= SPAN_MIN_DOCS))
    return (wk.join(dup, ["h_hi", "h_lo"])
            .select("doc_id", "pos", F.col("n_docs").cast("int").alias("n_docs"))
            .orderBy("doc_id", "pos"))


def _merged_islands(spans):
    """Gaps-and-islands merge of [pos, pos+SPAN_W) windows into disjoint
    intervals: (doc_id, s, e).  Windows over the spans-only ids frame,
    partitioned per doc -- no global sort, no text."""
    end = F.col("pos") + SPAN_W
    win = Window.partitionBy("doc_id").orderBy("pos")
    prev_max = F.max(end).over(
        win.rowsBetween(Window.unboundedPreceding, -1))
    new_island = F.when(
        prev_max.isNull() | (F.col("pos") >= prev_max), 1).otherwise(0)
    islands = spans.select(
        "doc_id", "pos", end.alias("end"),
        F.sum(new_island).over(
            win.rowsBetween(Window.unboundedPreceding, 0)).alias("isl"))
    return (islands.groupBy("doc_id", "isl")
            .agg(F.min("pos").alias("s"), F.max("end").alias("e"))
            .select("doc_id", "s", "e"))


def q_dup_coverage(spark, sf_dir):
    """Per-document duplicate coverage: how many of a doc's tokens sit
    inside at least one cross-document repeated SPAN_W-word window
    (q_repeated_spans), as (doc_id, n_tokens, dup_tokens, dup_frac) --
    the doc-level filter signal ('drop docs that are >X% duplicated
    text').

    Scale shape: the gaps-and-islands union-length pass windows over
    (doc_id, pos) pairs of DUPLICATED spans only -- a tiny fraction of
    the corpus, partitioned per doc (no global sort); token counts are
    map-side; docs with no duplicated window join back with coverage 0
    via a broadcast-right... no: the spans side is the small side, so
    the stats frame LEFT-joins spans stats onto the map-only token
    counts -- text never enters any exchange."""
    docs = _t(spark, sf_dir, "documents")
    spans = q_repeated_spans(spark, sf_dir)
    cov = (_merged_islands(spans)
           .groupBy("doc_id")
           .agg(F.sum(F.col("e") - F.col("s")).cast("int")
                .alias("dup_tokens")))
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_tok = F.when(F.length(F.trim("text")) == 0, F.lit(0)) \
             .otherwise(F.size(words)).cast("int")
    toks = docs.select("doc_id", n_tok.alias("n_tokens"))
    return (toks.join(cov, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
                    F.round(F.coalesce("dup_tokens", F.lit(0)) /
                            F.greatest("n_tokens", F.lit(1)), 6)
                     .alias("dup_frac"))
            .orderBy("doc_id"))


# the SPAN_W-word windows of every document keyed by their md5 halves,
# for the three exact-substring oracles
_SPAN_GRAM_CTES = f"""
d AS (
  SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(ws[i : i + {SPAN_W} - 1], ' ') AS gram
  FROM d, UNNEST(range(1, LEN(ws) - {SPAN_W} + 2)) AS t(i)
  WHERE LEN(ws) >= {SPAN_W}
),
wk AS (
  SELECT doc_id, pos,
         CAST(from_hex(substring(md5(gram), 1, 8))::BIT AS BIGINT) AS h_hi,
         CAST(from_hex(substring(md5(gram), 9, 8))::BIT AS BIGINT) AS h_lo
  FROM g
)"""

ORACLE_REPEATED_SPANS = f"""
WITH {_SPAN_GRAM_CTES},
dup AS (
  SELECT h_hi, h_lo, COUNT(DISTINCT doc_id) AS n_docs
  FROM wk GROUP BY h_hi, h_lo HAVING COUNT(DISTINCT doc_id) >= {SPAN_MIN_DOCS}
)
SELECT doc_id, pos, CAST(n_docs AS INT) AS n_docs
FROM wk JOIN dup USING (h_hi, h_lo)
ORDER BY doc_id, pos
"""

ORACLE_DUP_COVERAGE = f"""
WITH {_SPAN_GRAM_CTES},
dup AS (
  SELECT h_hi, h_lo, COUNT(DISTINCT doc_id) AS n_docs
  FROM wk GROUP BY h_hi, h_lo HAVING COUNT(DISTINCT doc_id) >= {SPAN_MIN_DOCS}
),
spans AS (
  SELECT doc_id, pos, pos + {SPAN_W} AS e
  FROM wk JOIN dup USING (h_hi, h_lo)
),
isl AS (
  SELECT doc_id, pos, e,
         SUM(CASE WHEN prev_max IS NULL OR pos >= prev_max
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS isl
  FROM (SELECT doc_id, pos, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS prev_max
        FROM spans)
),
cov AS (
  SELECT doc_id, CAST(SUM(covered) AS INT) AS dup_tokens
  FROM (SELECT doc_id, isl, MAX(e) - MIN(pos) AS covered
        FROM isl GROUP BY doc_id, isl)
  GROUP BY doc_id
),
toks AS (
  SELECT doc_id,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE LEN(regexp_split_to_array(TRIM(text), '\\s+'))
         END AS n_tokens
  FROM documents
)
SELECT t.doc_id, CAST(t.n_tokens AS INT) AS n_tokens,
       COALESCE(c.dup_tokens, 0) AS dup_tokens,
       ROUND(COALESCE(c.dup_tokens, 0) /
             GREATEST(t.n_tokens, 1), 6) AS dup_frac
FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id
ORDER BY t.doc_id
"""


def q_repeated_span_clean(spark, sf_dir):
    """Exact-substring REMOVAL (the transform of Lee et al. 2022's
    dedup: arXiv:2107.06499 §3 removes all but one occurrence of every
    duplicated >=50-token substring): re-emit each document with the
    tokens of every cross-doc duplicated SPAN_W-window removed, keeping the
    corpus-wide FIRST occurrence (lexicographic min (doc_id, pos) per
    window hash, the q_paragraph_dedup_clean ownership rule).

    Scale shape, mirroring q_paragraph_dedup_clean: ownership + interval
    merge run on the ids+hash-only frame (the q_repeated_spans
    exchanges, plus one per-doc window over the DUPLICATED spans only);
    the removal list arrives as a per-doc interval array (ints), and
    clean_text is rebuilt JVM-side by filtering the word array at
    uncovered indices -- text moves once, on the docs side of the final
    doc_id equi-join (broadcastable when few docs have removals;
    co-locate via doc_id bucketing at full scale).  Rebuilt docs are
    whitespace-normalized; untouched docs pass through byte-identical.
    The index-filter lambda is the HOF slow path, but it evaluates only
    on rows whose interval list is non-null (the duplicated fraction)."""
    docs = _t(spark, sf_dir, "documents")
    # (hash, doc_id, pos) ints only, feeding the ownership agg and the
    # loser match join (guide §2.4)
    wk = _span_window_keys(docs)
    dup = (wk.groupBy("h_hi", "h_lo")
           .agg(F.countDistinct("doc_id").alias("n_docs"),
                F.min(F.struct("doc_id", "pos")).alias("own"))
           .filter(F.col("n_docs") >= SPAN_MIN_DOCS))
    losers = (wk.join(dup, ["h_hi", "h_lo"])
              .filter(~((F.col("doc_id") == F.col("own.doc_id"))
                        & (F.col("pos") == F.col("own.pos"))))
              .select("doc_id", "pos"))
    intervals = (_merged_islands(losers)
                 .groupBy("doc_id")
                 .agg(F.flatten(F.collect_list(
                      F.sequence(F.col("s"), F.col("e") - 1))).alias("ridx"),
                      F.sum(F.col("e") - F.col("s")).cast("int")
                      .alias("n_removed")))
    words = F.split(F.trim(F.col("text")), r"\s+")
    kept = F.array_join(F.transform(
        F.filter(F.sequence(F.lit(0), F.size(words) - 1),
                 lambda i: ~F.array_contains("ridx", i.cast("int"))),
        lambda i: F.element_at(words, i + 1)), " ")
    return (docs.join(intervals, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
                    F.when(F.col("ridx").isNull(), F.col("text"))
                     .otherwise(kept).alias("clean_text"))
            .orderBy("doc_id"))


# DuckDB replay of q_repeated_span_clean: same ownership rule (row_number
# over (doc_id,pos) per hash), same island merge, same index-filter rebuild
ORACLE_REPEATED_SPAN_CLEAN = f"""
WITH {_SPAN_GRAM_CTES},
dup AS (
  SELECT h_hi, h_lo,
         COUNT(DISTINCT doc_id) AS n_docs,
         FIRST(doc_id ORDER BY doc_id, pos) AS own_doc,
         FIRST(pos ORDER BY doc_id, pos) AS own_pos
  FROM wk GROUP BY h_hi, h_lo HAVING COUNT(DISTINCT doc_id) >= {SPAN_MIN_DOCS}
),
losers AS (
  SELECT wk.doc_id, wk.pos, wk.pos + {SPAN_W} AS e
  FROM wk JOIN dup USING (h_hi, h_lo)
  WHERE NOT (wk.doc_id = dup.own_doc AND wk.pos = dup.own_pos)
),
isl AS (
  SELECT doc_id, pos, e,
         SUM(CASE WHEN prev_max IS NULL OR pos >= prev_max
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS isl
  FROM (SELECT doc_id, pos, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS prev_max
        FROM losers)
),
iv AS (
  SELECT doc_id,
         FLATTEN(LIST(range(s, e))) AS ridx,
         CAST(SUM(e - s) AS INT) AS n_removed
  FROM (SELECT doc_id, isl, MIN(pos) AS s, MAX(e) AS e
        FROM isl GROUP BY doc_id, isl)
  GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(iv.n_removed, 0) AS n_removed,
       CASE WHEN iv.ridx IS NULL THEN d.text
            ELSE COALESCE(array_to_string(list_transform(
              list_filter(range(0, LEN(regexp_split_to_array(
                            TRIM(d.text), '\\s+'))),
                          i -> NOT list_contains(iv.ridx, i)),
              i -> regexp_split_to_array(TRIM(d.text), '\\s+')[i + 1]), ' '),
              '')
       END AS clean_text
FROM documents d LEFT JOIN iv ON d.doc_id = iv.doc_id
ORDER BY d.doc_id
"""


def q_corpus_shuffle(spark, sf_dir):
    """Deterministic corpus shuffle: the reproducible global-random
    training order every pretraining run needs.  Each doc's position is
    a pure function of (seed, doc_id) -- md5 -- so the order is stable
    across runs/retries/cluster sizes and changes completely with the
    seed (epoch reshuffles = bump the seed).

    Scale shape: shard = first 8 hex digits of the hash mod
    SHUFFLE_SHARDS (the pack_sequences/JSONL-sink layout), position =
    row_number over the hash WITHIN the shard -- SHUFFLE_SHARDS
    independent sorts of (doc_id, 32-char hash) rows, never a global sort
    and never any text through the exchange.  At 10^12 docs the shard
    count grows to O(10^4) output shards so each per-shard sort stays
    executor-sized."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    key = F.concat(F.lit(SHUFFLE_SEED), F.lit(":"),
                   F.col("doc_id").cast("string"))
    h = F.md5(key)
    shard = md5_shard(key, SHUFFLE_SHARDS)
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (docs.select("doc_id", h.alias("h"), shard.alias("shard"))
            .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
            .select("doc_id", "shard", "pos")
            .orderBy("doc_id"))


ORACLE_CORPUS_SHUFFLE = f"""
WITH s AS (
  SELECT doc_id, md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)) AS h,
         CAST(from_hex(substring(md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)),
                                 1, 8))::BIT AS BIGINT) % {SHUFFLE_SHARDS} AS shard
  FROM documents
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
            AS BIGINT) AS pos
FROM s ORDER BY doc_id
"""


def q_url_revisit(spark, sf_dir):
    """CDX-style URL revisit dedup: a crawl archive holds several
    snapshots of the same url; corpus ingest keeps the LATEST capture
    per url (optionally flagging unchanged-content revisits, which the
    exact-dedup family already covers downstream).

    Snapshots are synthesized deterministically -- snapshot k of doc d
    is captured at base + ((d * (k+1)) %% 1000) seconds, so the winner
    varies per url rather than being constant-k (a vacuous oracle
    otherwise).  Scale shape: the winner pick is max(struct(ts,
    snap_id)) in ONE partial-agg pass -- the exchange carries (url,
    ts, snap_id) only; at ingest scale the html payload joins back on
    the winning (url, snap_id) pair, bucket-by-url, text moving once."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    host = F.when((F.col("doc_id") % 10) < 3, F.lit(0)) \
            .otherwise(F.col("doc_id") % 50)
    url = F.concat(F.lit("https://host"), host.cast("string"),
                   F.lit(".example/p"), F.col("doc_id").cast("string"))
    snaps = docs.select(
        "doc_id", url.alias("url"),
        F.explode(F.sequence(
            F.lit(0), F.lit(REVISIT_SNAPSHOTS - 1))).alias("snap_id"))
    ts = (F.to_timestamp(F.lit("2024-01-01 00:00:00")) +
          F.make_interval(secs=(F.col("doc_id") * (F.col("snap_id") + 1))
                          % 1000))
    return (snaps.select("url", "snap_id", ts.alias("warc_ts"))
            .groupBy("url")
            .agg(F.count(F.lit(1)).alias("n_snapshots"),
                 F.max(F.struct(F.col("warc_ts"), F.col("snap_id")))
                  .alias("w"))
            .select("url", "n_snapshots",
                    F.col("w.snap_id").alias("kept_snap"),
                    F.col("w.warc_ts").alias("kept_ts"))
            .orderBy("url"))


ORACLE_URL_REVISIT = f"""
WITH s AS (
  SELECT doc_id,
         'https://host' || CAST(CASE WHEN doc_id % 10 < 3 THEN 0
                                     ELSE doc_id % 50 END AS VARCHAR)
           || '.example/p' || CAST(doc_id AS VARCHAR) AS url,
         k.snap_id,
         TIMESTAMP '2024-01-01 00:00:00'
           + to_seconds((doc_id * (k.snap_id + 1)) % 1000) AS warc_ts
  FROM documents,
       (SELECT UNNEST(range({REVISIT_SNAPSHOTS})) AS snap_id) k
),
r AS (
  SELECT url, snap_id, warc_ts,
         COUNT(*) OVER (PARTITION BY url) AS n_snapshots,
         ROW_NUMBER() OVER (PARTITION BY url
                            ORDER BY warc_ts DESC, snap_id DESC) AS rn
  FROM s
)
SELECT url, n_snapshots, snap_id AS kept_snap, warc_ts AS kept_ts
FROM r WHERE rn = 1
ORDER BY url
"""


def _c4_keep_line(line):
    """The C4 line-retention predicate (Raffel et al. 2020 §2.2): keep a
    line iff it ends in terminal punctuation, has >= 5 words, and does
    not mention javascript.  Pure codegen -- usable inside a filter() HOF
    lambda, which must keep one parameter: a second one would make
    pyspark's HOF dispatch bind the ELEMENT INDEX to it."""
    wc = F.when(F.length(F.trim(line)) == 0, F.lit(0)) \
          .otherwise(F.size(F.split(F.trim(line), r"\s+")))
    return (line.rlike('[.!?"]$') & (wc >= 5)
            & ~F.lower(line).contains("javascript"))


def q_c4_line_clean(spark, sf_dir):
    """C4 line-level cleaning -- the canonical web-text cleanup recipe:
    keep lines ending in terminal punctuation with >= 5 words and no
    'javascript'; drop the whole page on 'lorem ipsum' or a curly brace
    or fewer than 3 surviving lines.  Testdata text has no newlines or
    punctuation, so (like q_url_canonical's messy-URL synthesis) each
    doc becomes a deterministic 5-line page: a clean sentence, a
    too-short fragment, a javascript line on doc_id%3, a lorem-ipsum
    page-killer on doc_id%7, and a curly-brace code line on doc_id%11
    -- every rule fires on a known sub-population, so the oracle is
    non-vacuous for each rule independently.

    Scale shape: entirely map-side column expressions (split / filter
    HOF / array_join inside codegen) -- no shuffle, no Python; the only
    exchange is the output orderBy for the gate compare."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    w = F.split(F.trim("text"), r"\s+")
    l1 = F.concat(F.array_join(F.slice(w, 1, 6), " "), F.lit("."))
    l2 = F.array_join(F.slice(w, 7, 3), " ")
    l3 = F.concat(F.array_join(F.slice(w, 10, 5), " "),
                  F.when(d % 3 == 0, F.lit(" javascript."))
                   .otherwise(F.lit("!")))
    l4 = F.when(d % 7 == 0, F.lit("lorem ipsum.")).otherwise(
        F.concat(F.array_join(F.slice(w, 15, 5), " "), F.lit("?")))
    l5 = F.when(d % 11 == 0, F.lit("function() { return; }")).otherwise(
        F.concat(F.array_join(F.slice(w, 20, 5), " "), F.lit(".")))
    page = F.concat_ws("\n", l1, l2, l3, l4, l5)
    lines = F.split(page, "\n")
    kept = F.filter(lines, lambda line: _c4_keep_line(line))
    page_ok = (~F.lower(page).contains("lorem ipsum")
               & ~page.contains("{") & (F.size(kept) >= 3))
    return (docs.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        page_ok.alias("page_kept"),
        F.when(page_ok, F.array_join(kept, "\n"))
         .otherwise(F.lit("")).alias("clean_text"))
        .orderBy("doc_id"))


ORACLE_C4_LINE_CLEAN = """
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
),
built AS (
  SELECT doc_id,
    COALESCE(array_to_string(w[1:6], ' '), '') || '.' AS l1,
    COALESCE(array_to_string(w[7:9], ' '), '') AS l2,
    COALESCE(array_to_string(w[10:14], ' '), '')
      || CASE WHEN doc_id % 3 = 0 THEN ' javascript.' ELSE '!' END AS l3,
    CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum.'
         ELSE COALESCE(array_to_string(w[15:19], ' '), '') || '?' END AS l4,
    CASE WHEN doc_id % 11 = 0 THEN 'function() { return; }'
         ELSE COALESCE(array_to_string(w[20:24], ' '), '') || '.' END AS l5
  FROM base
),
page AS (
  SELECT doc_id,
         l1 || chr(10) || l2 || chr(10) || l3 || chr(10) || l4
            || chr(10) || l5 AS p
  FROM built
),
k AS (
  SELECT doc_id, p,
         list_filter(string_split(p, chr(10)), l ->
           regexp_matches(l, '[.!?"]$')
           AND (CASE WHEN trim(l) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(l), '\\s+')) END)
               >= 5
           AND NOT contains(lower(l), 'javascript')) AS kept
  FROM page
)
SELECT doc_id,
       CAST(len(string_split(p, chr(10))) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       (NOT contains(lower(p), 'lorem ipsum') AND NOT contains(p, '{')
        AND len(kept) >= 3) AS page_kept,
       CASE WHEN NOT contains(lower(p), 'lorem ipsum')
                 AND NOT contains(p, '{') AND len(kept) >= 3
            THEN COALESCE(array_to_string(kept, chr(10)), '')
            ELSE '' END AS clean_text
FROM k ORDER BY doc_id
"""


def q_quality_budget_select(spark, sf_dir):
    """Token-budget corpus selection -- quality-first curation: keep the
    highest-quality documents (score = distinct-word count, a lexical-
    diversity proxy; any integral score plugs in) until the token budget
    is exhausted, deterministically.

    Scale shape: NO global sort.  A per-score histogram (one row per
    score level -- bounded by score cardinality, the BPE word-counter
    pattern; bucket the score at 10^12 docs) partial-aggregates to the
    driver, which finds the boundary level b and the residual budget
    with plain arithmetic; full levels above b select map-side by
    comparison, and ONLY the boundary stratum pays a window (cumsum by
    doc_id inside score == b).  The oracle replays the whole selection
    as one global cumulative window -- two different plans, provably the
    same set: a doc is selected iff the total tokens of all
    higher-priority docs is under budget."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.trim("text"), r"\s+")
    n_tok = F.when(F.length(F.trim("text")) == 0, F.lit(0)) \
             .otherwise(F.size(w)).cast("long")
    score = F.when(F.length(F.trim("text")) == 0, F.lit(0)) \
             .otherwise(F.size(F.array_distinct(w))).cast("long")
    base = docs.select("doc_id", score.alias("score"),
                       n_tok.alias("n_tokens"))
    levels = sorted(
        ((r["score"], r["tok"]) for r in
         base.groupBy("score").agg(F.sum("n_tokens").alias("tok"))
             .collect()),
        key=lambda x: -x[0])
    cum, boundary, rem = 0, None, 0
    for s_, t_ in levels:
        if cum + t_ >= QUALITY_BUDGET:
            boundary, rem = s_, QUALITY_BUDGET - cum
            break
        cum += t_
    if boundary is None:  # budget >= whole corpus
        out = base.withColumn("selected", F.lit(True))
    else:
        wb = Window.partitionBy("score").orderBy("doc_id") \
                   .rowsBetween(Window.unboundedPreceding, -1)
        bsel = (base.filter(F.col("score") == boundary)
                .select("doc_id",
                        F.coalesce(F.sum("n_tokens").over(wb), F.lit(0))
                         .alias("cb")))
        out = (base.join(bsel, "doc_id", "left")
               .withColumn("selected",
                           (F.col("score") > boundary)
                           | ((F.col("score") == boundary)
                              & (F.col("cb") < rem)))
               .drop("cb"))
    return (out.select("doc_id", "score", "n_tokens", "selected")
            .orderBy("doc_id"))


ORACLE_QUALITY_BUDGET = f"""
WITH s AS (
  SELECT doc_id,
    CAST(CASE WHEN trim(text) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
         AS BIGINT) AS n_tokens,
    CAST(CASE WHEN trim(text) = '' THEN 0
         ELSE len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
         END AS BIGINT) AS score
  FROM documents
)
SELECT doc_id, score, n_tokens,
       COALESCE(SUM(n_tokens) OVER (
         ORDER BY score DESC, doc_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         < {QUALITY_BUDGET} AS selected
FROM s ORDER BY doc_id
"""


def q_host_boilerplate_clean(spark, sf_dir):
    """Host-frequency boilerplate removal -- strip lines that appear on
    >= BOILERPLATE_MIN of a host's pages (nav bars, copyright footers, cookie
    banners that survive DOM-level extraction).  The line-prevalence
    technique web-corpus pipelines run after main-content extraction.

    Testdata text has no newlines, so each doc synthesizes a 4-line page
    with known prevalence per rule: a unique content line (df 1/pages ->
    kept), a sitewide nav line and a host-specific copyright line (df
    1.0 -> removed; the copyright line's hash differs per host, pinning
    per-host attribution), and a promo line on HALF of each host's
    pages, keyed on floor(doc_id/50) parity -- doc_id parity itself
    would be vacuous: hosts are doc_id % 50 and +50 preserves parity,
    so a host's pages all share it (df 0 or 1); the floor key alternates
    within a host, df = 0.5 < BOILERPLATE_MIN -> kept, pinning the
    threshold arithmetic (both engines evaluate n >= BOILERPLATE_MIN *
    pages in IEEE doubles).

    Scale shape: the prevalence counts group (host, md5(line)) with
    map-side partials; the boilerplate set (tiny: frequent lines per
    host) broadcasts into a LEFT ANTI join against the exploded ids
    frame, whose line-text column Catalyst prunes -- kept POSITIONS
    (ints) aggregate per doc and the text moves ONCE, on the docs side
    of the final doc_id join, rebuilt by index filter."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    host = (d % 50).cast("long")
    content = F.concat(F.array_join(
        F.slice(F.split(F.trim("text"), r"\s+"), 1, 8), " "), F.lit("."))
    nav = F.lit("home | about | search")
    cr = F.concat(F.lit("(c) 2026 host"), host.cast("string"),
                  F.lit(".example"))
    promo = F.when(F.floor(d / 50) % 2 == 0,
                   F.lit("subscribe to our newsletter!"))
    lines = F.array_compact(F.array(content, nav, cr, promo))
    base = docs.select("doc_id", host.alias("host"),
                       lines.alias("lines"))
    ex = (base.select("doc_id", "host",
                      F.posexplode("lines").alias("pos", "line"))
          .withColumn("h", F.md5("line")))
    pages = base.groupBy("host").agg(F.count(F.lit(1)).alias("pages"))
    counts = ex.groupBy("host", "h").agg(
        F.countDistinct("doc_id").alias("n"))
    boiler = (counts.join(F.broadcast(pages), "host")
              .filter(F.col("n") >= F.lit(BOILERPLATE_MIN) * F.col("pages"))
              .select("host", "h"))
    kept = (ex.join(F.broadcast(boiler), ["host", "h"], "left_anti")
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("pos")).alias("keep_pos")))
    return (base.join(kept, "doc_id", "left")
            .select(
                "doc_id", "host",
                F.size("lines").cast("long").alias("n_lines"),
                (F.size("lines") - F.coalesce(
                    F.size("keep_pos"), F.lit(0))).cast("long")
                 .alias("n_boiler"),
                F.array_join(F.filter(
                    "lines",
                    lambda x, i: F.array_contains(
                        F.coalesce(F.col("keep_pos"),
                                   F.array().cast("array<int>")), i)),
                    "\n").alias("clean_text"))
            .orderBy("doc_id"))


ORACLE_HOST_BOILERPLATE = f"""
WITH base AS (
  SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS host,
    list_filter([
      COALESCE(array_to_string(
        regexp_split_to_array(trim(text), '\\s+')[1:8], ' '), '') || '.',
      'home | about | search',
      '(c) 2026 host' || CAST(doc_id % 50 AS VARCHAR) || '.example',
      CASE WHEN (doc_id // 50) % 2 = 0 THEN 'subscribe to our newsletter!'
           ELSE NULL END
    ], x -> x IS NOT NULL) AS lines
  FROM documents
),
ex AS (
  -- DuckDB has no WITH ORDINALITY; the page has at most 4 lines
  SELECT doc_id, host, g.i - 1 AS pos, lines[g.i] AS line
  FROM base, (SELECT UNNEST(generate_series(1, 4)) AS i) g
  WHERE g.i <= len(lines)
),
pages AS (SELECT host, COUNT(*) AS pages FROM base GROUP BY host),
boiler AS (
  SELECT c.host, c.line
  FROM (SELECT host, line, COUNT(DISTINCT doc_id) AS n
        FROM ex GROUP BY host, line) c
  JOIN pages p ON c.host = p.host
  WHERE c.n >= {BOILERPLATE_MIN} * p.pages
),
kept AS (
  SELECT e.doc_id, e.pos, e.line
  FROM ex e ANTI JOIN boiler b
    ON e.host = b.host AND e.line = b.line
)
SELECT b.doc_id, b.host,
       CAST(len(b.lines) AS BIGINT) AS n_lines,
       CAST(len(b.lines) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_boiler,
       COALESCE(k.clean_text, '') AS clean_text
FROM base b
LEFT JOIN (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
) k ON b.doc_id = k.doc_id
ORDER BY b.doc_id
"""


def sitemap_urls(df):
    """Extract url entries from the `sitemap` XML bodies (sitemaps.org
    urlset/loc) -- the crawl-seeding companion to robots.txt's
    Sitemap pointers.  Tolerant regex extraction (whitespace inside
    <loc> per the spec's examples), pure codegen, map-side explode --
    no shuffle; the frontier dedups/canonicalizes downstream with the
    same ops as discovered links."""
    locs = F.expr(
        "regexp_extract_all(sitemap, '<loc>\\\\s*([^<]+?)\\\\s*</loc>', 1)")
    return (df.select("host", F.explode(locs).alias("url"))
            .select("host", F.trim("url").alias("url")))


def q_sitemap_urls(spark, sf_dir):
    """Sitemap ingest over deterministic per-host sitemap.xml payloads:
    each of the 50 hosts serves an urlset listing its pages (built with
    collect_list on the tiny host side -- 50 rows), and the extractor
    must recover exactly the (host, url) seed set."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    host = (F.col("doc_id") % 50).cast("long")
    url = F.concat(F.lit("https://host"), host.cast("string"),
                   F.lit(".example/p"), F.col("doc_id").cast("string"))
    entries = docs.select(
        host.alias("host"),
        F.concat(F.lit("<url><loc> "), url, F.lit(" </loc>"
                 "<changefreq>daily</changefreq></url>")).alias("e"),
        F.col("doc_id"))
    sitemaps = (entries.groupBy("host").agg(
        F.concat(
            F.lit('<?xml version="1.0"?><urlset>'),
            F.array_join(F.array_sort(F.collect_list(
                F.struct("doc_id", "e"))).getField("e"), ""),
            F.lit("</urlset>")).alias("sitemap")))
    return (sitemap_urls(sitemaps)
            .orderBy("host", "url"))


ORACLE_SITEMAP_URLS = """
SELECT CAST(doc_id % 50 AS BIGINT) AS host,
       'https://host' || CAST(doc_id % 50 AS VARCHAR) || '.example/p'
         || CAST(doc_id AS VARCHAR) AS url
FROM documents
ORDER BY host, url
"""


def q_url_blocklist(spark, sf_dir):
    """Domain-blocklist filtering (the UT1/adult-domain step every web
    corpus runs): a url is blocked when ANY parent-domain suffix of its
    host appears on the list, so 'm.news.host3.example' matches the rule
    'news.host3.example' while 'cdn.host3.example' does not.

    Scale shape: the host explodes into its <=depth domain suffixes
    (bounded by label count, ~4 rows per url of a few dozen bytes) and
    equi-joins the BROADCAST blocklist -- never a regex scan per rule,
    never a cartesian; the verdict re-aggregates per doc with the
    longest (most specific) matching rule, max(struct(len, rule)) --
    deterministic.  Hosts synthesize with subdomain variety
    (www/cdn/bare/m.news by doc_id%4) so suffix matching is
    non-vacuous in both directions."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    h = (d % 50).cast("string")
    sub = (F.when(d % 4 == 0, F.lit("www."))
            .when(d % 4 == 1, F.lit("cdn."))
            .when(d % 4 == 2, F.lit(""))
            .otherwise(F.lit("m.news.")))
    host = F.concat(sub, F.lit("host"), h, F.lit(".example"))
    base = docs.select("doc_id", host.alias("host"))
    parts = F.split("host", r"\.")
    n = F.size(parts)
    suffixes = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.array_join(F.slice(parts, i + 1, n - i), "."))
    ex = base.select("doc_id", "host",
                     F.explode(suffixes).alias("suffix"))
    rules = spark.createDataFrame([(r,) for r in BLOCKLIST],
                                  "rule string")
    hits = (ex.join(F.broadcast(rules),
                    ex["suffix"] == rules["rule"])
            .groupBy("doc_id")
            .agg(F.max(F.struct(F.length("rule").alias("l"), "rule"))
                  .getField("rule").alias("matched_rule")))
    return (base.join(hits, "doc_id", "left")
            .select("doc_id", "host",
                    F.col("matched_rule").isNotNull().alias("blocked"),
                    "matched_rule")
            .orderBy("doc_id"))


# closed form: host7.example blocks every subdomain variant of host 7;
# news.host3.example blocks ONLY the m.news. variant (doc_id%4 == 3) of
# host 3 -- cdn./www./bare host3 suffixes never contain it
ORACLE_URL_BLOCKLIST = """
SELECT doc_id,
       (CASE doc_id % 4 WHEN 0 THEN 'www.' WHEN 1 THEN 'cdn.'
             WHEN 2 THEN '' ELSE 'm.news.' END)
         || 'host' || CAST(doc_id % 50 AS VARCHAR) || '.example' AS host,
       (doc_id % 50 = 7) OR (doc_id % 50 = 3 AND doc_id % 4 = 3)
         AS blocked,
       CASE WHEN doc_id % 50 = 3 AND doc_id % 4 = 3
              THEN 'news.host3.example'
            WHEN doc_id % 50 = 7 THEN 'host7.example'
            ELSE NULL END AS matched_rule
FROM documents ORDER BY doc_id
"""


def q_corpus_datasheet(spark, sf_dir):
    """Per-language corpus datasheet -- the data-card numbers every
    release ships (doc counts, token totals, length extremes, quality
    pass rates): ONE partial-aggregating pass, one output row per
    language, all-integer columns so the gate hashes exactly.

    Scale shape: the canonical map-side-combine aggregation -- per-doc
    signals (whitespace tokens, the Gopher-lite n_words >= 50 pass bit,
    emptiness) are scan-partition column exprs; the exchange carries
    one partial row per (partition, lang)."""
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.when(F.length(F.trim("text")) == 0, F.lit(0)) \
             .otherwise(F.size(F.split(F.trim("text"), r"\s+"))) \
             .cast("long")
    return (docs.select("lang", n_tok.alias("t"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("t").alias("total_tokens"),
                 F.min("t").alias("min_tokens"),
                 F.max("t").alias("max_tokens"),
                 F.sum(F.when(F.col("t") == 0, 1).otherwise(0))
                  .cast("long").alias("n_empty"),
                 F.sum(F.when(F.col("t") >= 50, 1).otherwise(0))
                  .cast("long").alias("n_quality_pass"))
            .orderBy("lang"))


ORACLE_CORPUS_DATASHEET = """
WITH s AS (
  SELECT lang,
    CAST(CASE WHEN trim(text) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
         AS BIGINT) AS t
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs, SUM(t) AS total_tokens,
       MIN(t) AS min_tokens, MAX(t) AS max_tokens,
       SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS n_empty,
       SUM(CASE WHEN t >= 50 THEN 1 ELSE 0 END) AS n_quality_pass
FROM s GROUP BY lang ORDER BY lang
"""


# --- BM25 retrieval ----------------------------------------------------------

# result depth and the Okapi k1/b saturation and length-normalization
def q_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-k retrieval for a fixed query -- the sparse-retrieval
    primitive behind corpus search and RAG candidate generation (Robertson
    & Zaragoza 2009; idf in the Lucene ln(1 + (N-df+.5)/(df+.5)) form so
    it is never negative).

    Scale shape: per-term tf is a map-side array fold over the split word
    array (NO corpus-wide explode -- the tfidf query pays that because it
    scores every term; a |q|-term query only needs |q| counters per doc);
    N, avgdl and every df come out of ONE one-row aggregate that re-enters
    the plan as a broadcast crossJoin (the classifier-weights pattern), so
    the only exchange bigger than one row is the final global top-k, which
    TakeOrderedAndProject keeps at BM25_K rows per partition.  Scores rounded
    to 6dp for cross-engine float compare (the lm_perplexity precedent)."""
    terms = BM25_TERMS
    docs = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.trim("text"), r"\s+"),
                     lambda x: x != F.lit(""))

    def _eq(term):
        # NB: a 2-arg lambda would be read by the HOF as (element, index)
        return lambda x: x == F.lit(term)

    base = docs.select(
        "doc_id",
        F.size(words).alias("dl"),
        *[F.size(F.filter(words, _eq(t))).alias(f"tf{i}")
          for i, t in enumerate(terms)])
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
        *[F.count_if(F.col(f"tf{i}") > 0).alias(f"df{i}")
          for i in range(len(terms))])
    score = None
    for i in range(len(terms)):
        idf = F.log(F.lit(1.0) +
                    (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5)) /
                    (F.col(f"df{i}") + F.lit(0.5)))
        tf = F.col(f"tf{i}").cast("double")
        part = idf * tf * F.lit(BM25_K1 + 1.0) / (
            tf + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) +
                                   F.lit(BM25_B) * F.col("dl")
                                   / F.col("avgdl")))
        score = part if score is None else score + part
    scored = (base.crossJoin(F.broadcast(stats))
              .select("doc_id", F.round(score, 6).alias("score"))
              .filter(F.col("score") > 0))
    top = scored.orderBy(F.desc("score"), "doc_id").limit(BM25_K)
    w = Window.orderBy(F.desc("score"), "doc_id")
    return (top.withColumn("rnk", F.row_number().over(w))
            .select("doc_id", "score", "rnk").orderBy("rnk"))


def _bm25_oracle_sql() -> str:
    terms, k1, b = BM25_TERMS, BM25_K1, BM25_B
    tf_cols = ", ".join(
        "len(list_filter(regexp_split_to_array(TRIM(text), '\\s+'), "
        f"x -> x = '{t}')) AS tf{i}" for i, t in enumerate(terms))
    df_cols = ", ".join(
        f"COUNT(*) FILTER (WHERE tf{i} > 0) AS df{i}"
        for i in range(len(terms)))
    parts = " + ".join(
        f"ln(1.0 + (s.n_docs - s.df{i} + 0.5) / (s.df{i} + 0.5)) "
        f"* d.tf{i} * {k1 + 1.0} / "
        f"(d.tf{i} + {k1} * ({1.0 - b} + {b} * d.dl / s.avgdl))"
        for i in range(len(terms)))
    return f"""
WITH d AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(TRIM(text), '\\s+'),
                         x -> x <> '')) AS dl,
         {tf_cols}
  FROM documents
),
s AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) * 1.0 / COUNT(*) AS avgdl, {df_cols}
  FROM d
),
scored AS (
  SELECT d.doc_id, ROUND({parts}, 6) AS score FROM d CROSS JOIN s
)
SELECT doc_id, score,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rnk
FROM scored WHERE score > 0
ORDER BY score DESC, doc_id LIMIT {BM25_K}
"""


ORACLE_BM25 = _bm25_oracle_sql()


# --- SemDeDup: clustered semantic dedup --------------------------------------

def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition embeddings into k-means cells, then find
    near-duplicate pairs ONLY within each cell and keep one survivor per
    local duplicate relation.  The cells are the IVF coarse quantizer from
    q_ann_ivf_topk (deterministic every-step-th sampled centroids, nearest
    assignment via a partial-aggregating max(struct)), so the DuckDB
    oracle replays the index bit for bit.  Survivor rule: a vector is
    dropped iff a same-cell neighbor with SMALLER vec_id has cosine >=
    COSINE_MIN (the paper keeps the vector farthest from the centroid; a
    float-free deterministic tie-break keeps the oracle exact).

    Scale shape: assignment is broadcast(N_CELLS) x map-side combine --
    embeddings cross a shuffle once, keyed by cell; pairwise work is
    quadratic in cell occupancy, N/N_CELLS rows with the fixed cell
    count, so the within-cell pairs grow as N^2/(2*N_CELLS) (SCALE.md
    §ANN); the final anti-join carries ids only."""
    import math

    import numpy as np
    emb = _t(spark, sf_dir, "embeddings")
    n = _embeddings_n_rows(emb, sf_dir)
    step = max(1, math.ceil(n / N_CELLS))
    # guide §4.2: assignment is one numpy kernel with the centroid matrix
    # in a broadcast variable (<=2^16 rows), not an interpreted 64-dim
    # fold per (vector, centroid) under a groupBy argmax; the argmax
    # compares the 6dp-rounded sims as exact HALF_UP micro-units
    # (_round6_micro), so cell assignment is bit-identical.  The pair
    # stage shuffles ids only and reranks through the broadcast-matrix
    # kernel below the §3.1 size gate (per-pair join fallback above it);
    # division, rounding and the threshold stay JVM-side.
    local = _local_emb_table(sf_dir)
    c_ids, c_mat = _emb_subset(emb, local, lambda v: v % step == 0)
    c_norm = np.sqrt(_np_seq_dot(c_mat, c_mat))
    bc = emb.sparkSession.sparkContext.broadcast((c_ids, c_mat, c_norm))

    def assign(b):
        cids, cmat, cn = bc.value
        e = _np_embs(b.column("embedding"))
        vn = np.sqrt(_np_seq_dot(e, e))
        best = np.full(e.shape[0], np.iinfo(np.int64).min, dtype=np.int64)
        cell = np.zeros(e.shape[0], dtype=np.int64)
        for ci in range(len(cids)):  # ascending c_id: ties keep first
            d = _np_seq_dot(e, np.broadcast_to(cmat[ci], e.shape))
            micro = _round6_micro(d / (vn * cn[ci]))
            upd = micro > best
            best[upd] = micro[upd]
            cell[upd] = cids[ci]
        return None, [cell]

    cells = doc_stage(emb, ("vec_id",), ["embedding"], "cell bigint",
                      assign).localCheckpoint(eager=True)
    a = cells.select("cell", F.col("vec_id").alias("a_id"))
    bb = cells.select("cell", F.col("vec_id").alias("b_id"))
    pairs = (a.join(bb, "cell")
             .filter(F.col("a_id") < F.col("b_id"))
             .select("a_id", "b_id"))
    losers = (_cosine_rerank(pairs, emb, local, n, min_sim=COSINE_MIN)
              .select(F.col("b_id").alias("vec_id"))
              .distinct())
    return (cells.select("vec_id", "cell")
            .join(losers.withColumn("dropped", F.lit(1)), "vec_id", "left")
            .select("vec_id", "cell",
                    F.when(F.col("dropped").isNull(), F.lit(1))
                    .otherwise(F.lit(0)).alias("kept"))
            .orderBy("vec_id"))


# DuckDB replay of q_semantic_dedup
ORACLE_SEMANTIC_DEDUP = f"""
WITH {_IVF_CENT_CTES},
cells AS (
  SELECT vec_id, c_id AS cell FROM (
    SELECT e.vec_id, c.c_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_COS_SQL.format(a="e", b="c")} DESC, c.c_id) AS rn
    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1
),
losers AS (
  SELECT DISTINCT cb.vec_id
  FROM cells ca JOIN cells cb ON ca.cell = cb.cell
                            AND ca.vec_id < cb.vec_id
  JOIN embeddings ea ON ea.vec_id = ca.vec_id
  JOIN embeddings eb ON eb.vec_id = cb.vec_id
  WHERE {_COS_SQL.format(a="ea", b="eb")} >= {COSINE_MIN}
)
SELECT c.vec_id, c.cell,
       CASE WHEN l.vec_id IS NULL THEN 1 ELSE 0 END AS kept
FROM cells c LEFT JOIN losers l ON c.vec_id = l.vec_id
ORDER BY c.vec_id
"""


# --- product quantization -----------------------------------------------------

def _pq_subdist(x, c, j):
    """Expanded-form L2 distance between the subspace-j slices of x and c,
    rounded to 6dp (the cross-engine float-parity convention)."""
    d_sub = _EMB_DIM // PQ_M
    xj, cj = (F.slice(v, j * d_sub + 1, d_sub) for v in (x, c))
    return F.round(_dot_expr(xj, xj) - 2 * _dot_expr(xj, cj)
                   + _dot_expr(cj, cj), 6)


def _pq_codes(spark, sf_dir, local):
    """(codes DF with vec_id/code0..code{PQ_M-1}/qerr, centroids DF,
    (centroid ids, float64 centroid matrix)): the shared encode pipeline
    behind q_pq_encode, q_ann_pq_topk and q_ann_ivfadc_topk.  The codebook is every step-th vector, the IVF
    convention, so DuckDB replays it bit for bit; `local` is
    _local_emb_table's result (see _emb_subset).

    Guide §4.2: crossJoining every vector with the 16-row codebook
    evaluates PQ_M x 3 interpreted 8-dim folds PER PAIR (384
    boxed-lambda dot products per vector) under a groupBy argmin.
    Instead one numpy pass emits the raw |x|^2 - 2x.c + |c|^2
    distances (same left-associated float64 fold order, so every double
    is bit-identical); the 6dp rounding, the (d, c_id) argmin -- an
    array_min over 16 structs, the same lexicographic min the groupBy
    computed -- and qerr stay JVM-side.  The bounded codebook
    (PQ_SUB_CENTS rows) is collected once, the same driver-table class as
    the BPE top-words counter."""
    import math

    import numpy as np
    import pyarrow as pa
    emb = _t(spark, sf_dir, "embeddings")
    m = PQ_M
    step = max(1, math.ceil(_embeddings_n_rows(emb, sf_dir) / PQ_SUB_CENTS))
    cents = (emb.filter(F.col("vec_id") % step == 0)
             .select(F.col("vec_id").alias("c_id"),
                     F.col("embedding").alias("c_emb")))
    d_sub = _EMB_DIM // m
    c_ids, c_mat = _emb_subset(emb, local, lambda v: v % step == 0)
    nc = len(c_ids)

    # |c_j|^2 per (centroid, subspace), sequential fold
    cc = np.zeros((nc, m))
    for j in range(m):
        sl = c_mat[:, j * d_sub:(j + 1) * d_sub]
        cc[:, j] = _np_seq_dot(sl, sl)

    def columns_of(b):
        e = _np_embs(b.column("embedding"))
        n = e.shape[0]
        dists = np.empty((n, m * nc))
        for j in range(m):
            xj = e[:, j * d_sub:(j + 1) * d_sub]
            xx = _np_seq_dot(xj, xj)
            for c in range(nc):
                xc = _np_seq_dot(
                    xj, np.broadcast_to(c_mat[c, j * d_sub:(j + 1) * d_sub],
                                        xj.shape))
                dists[:, j * nc + c] = (xx - 2 * xc) + cc[c, j]
        off = np.arange(0, (n + 1) * m * nc, m * nc, dtype=np.int32)
        return None, [pa.ListArray.from_arrays(
            pa.array(off, pa.int32()),
            pa.array(dists.reshape(-1), pa.float64()))]

    raw = doc_stage(emb, ("vec_id",), ["embedding"], "d array<double>",
                    columns_of)
    mins = raw.select("vec_id", *[
        F.array_min(F.array(*[
            F.struct(
                F.round(F.element_at("d", j * nc + c + 1), 6).alias("d"),
                F.lit(c_ids[c]).cast("bigint").alias("c"))
            for c in range(nc)])).alias(f"m{j}")
        for j in range(m)])
    qerr = None
    outs = [F.col("vec_id")]
    for j in range(m):
        outs.append(F.col(f"m{j}.c").alias(f"code{j}"))
        dj = F.col(f"m{j}.d")
        qerr = dj if qerr is None else qerr + dj
    outs.append(F.round(qerr, 6).alias("qerr"))
    return mins.select(*outs), cents, (c_ids, c_mat)


def q_pq_encode(spark, sf_dir):
    """Product-quantization encoding (Jegou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): the 64-dim vector splits
    into m=8 contiguous 8-dim subspaces; each subvector is replaced by
    the id of its nearest sub-centroid (16 per subspace => 4-bit codes,
    8 x 4 = 32 bits per vector vs 256 bytes of float32 -- the 64x
    compression that makes a 100-TB embedding corpus fit a serving
    tier).  Sub-centroids come from the SAME deterministic every-step-th
    sampling as the IVF coarse quantizer, so the DuckDB oracle replays
    the codebook bit for bit.

    Scale shape: ONE broadcast crossJoin of the 16-row codebook x a
    map-side-combined min(struct(dist, c_id)) per subspace -- all 8
    argmins ride a single groupBy(vec_id) pass (partial agg), embeddings
    cross the exchange once.  dist is the expanded L2 form
    |x|^2 - 2x.c + |c|^2 rounded to 6dp (cross-engine float parity, the
    _COS_SQL convention); qerr = sum of the 8 min distances is the
    reconstruction-error audit column."""
    codes, _, _ = _pq_codes(spark, sf_dir, _local_emb_table(sf_dir))
    # the orderBy exists for the deterministic oracle compare, and range
    # partitioning samples its child -- materialize the (ints-only)
    # codes once so the encode kernel is not executed twice (guide §2.4)
    return codes.localCheckpoint(eager=True).orderBy("vec_id")


def q_ann_pq_topk(spark, sf_dir):
    """ADC top-k search over PQ codes (Jegou et al. 2011 §III-B,
    asymmetric distance computation): the query stays uncompressed; each
    corpus vector's approximate L2 distance is the sum of PQ_M table
    lookups d(q_j, centroid[code_j]) -- the compressed-domain scan that
    is the POINT of PQ (the 100-TB corpus is read as 4-byte codes, not
    256-byte floats; ~64x less memory bandwidth per scanned vector).

    Scale shape: the per-query lookup tables (N_QUERIES x PQ_M x
    PQ_SUB_CENTS distances -- KBs) collapse to ONE broadcast row per
    query carrying PQ_M map<c_id, dist> columns; the codes table
    crossJoins that broadcast and scores map-side via element_at --
    the only exchange is the top-k window on (q_id).  Self-match is
    excluded to mirror q_ann_cosine_topk; ties break on vec_id.  Every
    subspace distance is pre-rounded to 6dp and summed in fixed j-order
    so the DuckDB oracle hashes exactly.

    HONEST LIMIT, measured on the synthetic corpus: these embeddings are
    i.i.d.-random 64-dim vectors -- PQ's adversarial case (no
    low-intrinsic-dimension manifold), so recall@5 against the exact L2
    top-5 at N=500 is 0.20, and per-subspace Lloyd refinement of the
    codebook does NOT improve it (swept 0-4 iters: flat).  On real
    embedding corpora the manifold is what PQ exploits; the operator
    shape is unchanged."""
    local = _local_emb_table(sf_dir)
    codes, _, book = _pq_codes(spark, sf_dir, local)
    emb = _t(spark, sf_dir, "embeddings")
    return _adc_topk(codes, book, emb, local)


def _java_round(x: float) -> float:
    """Exact Python replica of Spark's ROUND(double, 6): Spark rounds
    BigDecimal.valueOf(x) -- i.e. the SHORTEST decimal representation,
    which is what Python's repr() also produces -- HALF_UP at 6 places.
    Used when a 6dp-rounded constant is computed driver-side instead of
    by a JVM expression; equality with F.round is pinned by the A/B and
    oracle replays of every query that uses it."""
    from decimal import ROUND_HALF_UP, Decimal
    q = Decimal(1).scaleb(-6)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def _round6_micro(x):
    """Vectorized int64 micro-units (x rounded at 6dp, Java HALF_UP): the
    comparison-safe form of _java_round for use INSIDE numpy kernels when
    a rounded value feeds an argmax/argmin.  Fast path floor(y + 0.5);
    anything within 1e-3 micro-units of a .5 boundary (which includes
    every negative exact half, where floor rounds toward +inf but Java
    rounds away from zero) is recomputed through the exact Decimal
    path."""
    import numpy as np
    y = x * 1e6
    fin = np.isfinite(y)
    r = np.floor(np.where(fin, y, 0.0) + 0.5)
    out = r.astype(np.int64)
    sus = fin & (np.abs(y - (r - 0.5)) < 1e-3)
    if sus.any():
        from decimal import ROUND_HALF_UP, Decimal
        for i in np.nonzero(sus)[0]:
            out[i] = int(Decimal(repr(float(x[i]))).scaleb(6)
                         .quantize(Decimal(1), rounding=ROUND_HALF_UP))
    if not fin.all():
        # degenerate inputs (zero-norm vector -> inf/nan sims): replicate
        # Spark's double ordering NaN > +Inf > finite > -Inf so a
        # comparison consumer (argmax) ranks them identically
        big = np.iinfo(np.int64).max
        out[np.isnan(y)] = big
        out[np.isposinf(y)] = big - 1
        out[np.isneginf(y)] = np.iinfo(np.int64).min + 1
    return out


def _adc_topk(codes, book, emb, local):
    """ADC scoring core of q_ann_pq_topk: per-query LUTs, compressed-
    domain scan, top-k window.  book is the codebook as (centroid ids,
    float64 matrix); the query side is cut from `local` (see
    _emb_subset).

    The LUTs (N_QUERIES x PQ_M x PQ_SUB_CENTS rounded distances --
    KBs) are computed DRIVER-side from the two bounded tables (queries,
    codebook) with the same fold order and a bit-exact HALF_UP round
    (_java_round), and ride the scoring kernel's closure: the old
    broadcast-crossJoin + groupBy(map_from_entries) LUT job, the
    codes x LUT crossJoin and the per-row element_at chain collapse into
    one numpy pass over the codes (guide §4.2).  The adist sum keeps the
    j-order left association; the 6dp round stays JVM-side."""
    import numpy as np
    m = PQ_M
    d_sub = _EMB_DIM // m
    q_ids, q_mat = _emb_subset(emb, local, lambda v: v < N_QUERIES)
    c_ids, c_mat = np.asarray(book[0]), book[1]
    nc, nq = len(c_ids), len(q_ids)
    lut = np.empty((nq, m, nc))
    for j in range(m):
        sl = slice(j * d_sub, (j + 1) * d_sub)
        cc = _np_seq_dot(c_mat[:, sl], c_mat[:, sl])
        for qi in range(nq):
            xj = np.broadcast_to(q_mat[qi, sl], (nc, d_sub))
            xx = _np_seq_dot(xj, xj)
            xc = _np_seq_dot(xj, c_mat[:, sl])
            for ci, d in enumerate((xx - 2 * xc) + cc):
                lut[qi, j, ci] = _java_round(d)

    code_cols = [f"code{j}" for j in range(m)]

    def columns_of(b):
        n = b.num_rows
        idx = [np.searchsorted(
            c_ids, b.column(f"code{j}").to_numpy(zero_copy_only=False))
            for j in range(m)]
        out_d = []
        for qi in range(nq):
            acc = lut[qi, 0][idx[0]]
            for j in range(1, m):
                acc = acc + lut[qi, j][idx[j]]
            out_d.append(acc)
        return np.tile(np.arange(n), nq), [np.repeat(q_ids, n),
                                           np.concatenate(out_d)]

    scored = (doc_stage(codes, ("vec_id",), code_cols,
                        "q_id bigint, adist_raw double", columns_of)
              .filter(F.col("vec_id") != F.col("q_id"))
              .select("q_id", "vec_id",
                      F.round(F.col("adist_raw"), 6).alias("adist")))
    return _top_k(scored, "adist")


def _pq_dist_sql(j: int, x: str, c: str) -> str:
    """DuckDB twin of _pq_subdist: the 6dp expanded-form L2 distance
    between the subspace-j slices of vector columns x and c."""
    d_sub = _EMB_DIM // PQ_M
    a = f"array_slice({x}::DOUBLE[], {j*d_sub+1}, {(j+1)*d_sub})"
    b = f"array_slice({c}::DOUBLE[], {j*d_sub+1}, {(j+1)*d_sub})"
    return (f"ROUND(list_dot_product({a}, {a}) "
            f"- 2*list_dot_product({a}, {b}) "
            f"+ list_dot_product({b}, {b}), 6)")


def _pq_code_cols(c: str) -> str:
    """code0..code{PQ_M-1} select items: per subspace, the id of the
    codebook row `c` (c_id, c_emb) nearest to e.embedding."""
    return ", ".join(
        f"(MIN(struct_pack(d := {_pq_dist_sql(j, 'e.embedding', c + '.c_emb')}, "
        f"c := {c}.c_id))).c AS code{j}"
        for j in range(PQ_M))


# the PQ codebook (every step-th vector, the IVF convention) as c(c_id,
# c_emb)
_PQ_BOOK_CTES = f"""stepv AS (
  SELECT CAST(CEIL(COUNT(*) / {PQ_SUB_CENTS}.0) AS BIGINT) AS step
  FROM embeddings
),
c AS (
  SELECT vec_id AS c_id, embedding AS c_emb
  FROM embeddings WHERE vec_id % (SELECT GREATEST(step, 1) FROM stepv) = 0
)"""


def _pq_oracle_sql() -> str:
    err_cols = " + ".join(
        f"MIN({_pq_dist_sql(j, 'e.embedding', 'c.c_emb')})"
        for j in range(PQ_M))
    return f"""
WITH {_PQ_BOOK_CTES}
SELECT e.vec_id, {_pq_code_cols("c")}, ROUND({err_cols}, 6) AS qerr
FROM embeddings e CROSS JOIN c
GROUP BY e.vec_id ORDER BY e.vec_id
"""


ORACLE_PQ_ENCODE = _pq_oracle_sql()


def _ann_pq_oracle_sql() -> str:
    """ADC replay: same codebook/codes CTEs as the PQ oracle, per-query
    lookup tables as one CTE per subspace, fixed l0+..+l7 summation
    order mirroring the Spark expression."""
    luts = ",\n".join(
        f"lut{j} AS (SELECT q.q_id, c.c_id, "
        f"{_pq_dist_sql(j, 'q.q_emb', 'c.c_emb')} AS d FROM q CROSS JOIN c)"
        for j in range(PQ_M))
    lut_joins = "\n  ".join(
        f"JOIN lut{j} l{j} ON l{j}.q_id = l0.q_id "
        f"AND l{j}.c_id = x.code{j}"
        for j in range(1, PQ_M))
    dsum = " + ".join(f"l{j}.d" for j in range(PQ_M))
    return f"""
WITH {_PQ_BOOK_CTES},
codes AS (
  SELECT e.vec_id, {_pq_code_cols("c")}
  FROM embeddings e CROSS JOIN c GROUP BY e.vec_id
),
q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
      WHERE vec_id < {N_QUERIES}),
{luts},
scored AS (
  SELECT l0.q_id, x.vec_id, ROUND({dsum}, 6) AS adist
  FROM codes x
  JOIN lut0 l0 ON l0.c_id = x.code0
  {lut_joins}
  WHERE x.vec_id <> l0.q_id
),
ranked AS (
  SELECT q_id, vec_id, adist,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, vec_id)
           AS rnk
  FROM scored
)
SELECT q_id, vec_id, adist, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= {TOP_K} ORDER BY q_id, rnk
"""


ORACLE_ANN_PQ = _ann_pq_oracle_sql()


# --- DSIR importance weights --------------------------------------------------

def q_dsir_weights(spark, sf_dir):
    """Data Selection with Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score every raw document by the log importance
    weight log p_target(x) - log p_raw(x) under two hashed-unigram
    bag-of-words models -- the standard cheap way to select web data
    that "reads like" a curated target domain.  Target here = the
    corpus's `lang = DSIR_TARGET` slice (the available in-table proxy
    for a curated corpus); features = words hashed into DSIR_BUCKETS via
    the repo's cross-engine md5 convention (first 8 hex digits ->
    BIGINT, the q_simhash idiom), add-k smoothed.

    Scale shape: the ONLY corpus-sized exchange is the bucket-count
    partial agg, whose key space is DSIR_BUCKETS (tiny; map-side
    combined).  The fitted model (<= DSIR_BUCKETS rows) collapses to ONE
    broadcast map<bucket, logratio> row; scoring is then a pure
    map-side transform/aggregate over each doc's word array --
    document text never shuffles, and no per-doc groupBy exists at
    all.  Per-bucket log-ratios are pre-rounded to 6dp so the
    cross-engine sum drift is ~1e-13, far inside the 6dp replay
    tolerance.  Docs with no words get dsir_logw NULL."""
    docs = _t(spark, sf_dir, "documents")
    words = F.when(F.length(F.trim("text")) > 0,
                   F.split(F.lower(F.trim(F.col("text"))), r"\s+")
                   ).otherwise(F.array().cast("array<string>"))
    base = docs.select("doc_id", "lang", words.alias("ws"))

    n_buckets = DSIR_BUCKETS

    def bucket(col):
        return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10)
                .cast("long") % n_buckets)

    a = float(DSIR_SMOOTHING)
    # guide §2.4: cnt feeds both the totals row and the model
    # projection; un-materialized, the corpus-wide explode + per-word md5
    # bucketing runs twice.  <= n_buckets rows.
    cnt = (base.select("lang", F.explode("ws").alias("w"))
           .select("lang", bucket(F.col("w")).alias("b"))
           .groupBy("b")
           .agg(F.count(F.lit(1)).alias("cr"),
                F.sum(F.when(F.col("lang") == DSIR_TARGET, 1)
                      .otherwise(0)).alias("ct"))
           .localCheckpoint(eager=True))
    tot = cnt.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    model = (cnt.crossJoin(F.broadcast(tot))
             .select("b", F.round(
                 F.log((F.col("ct") + a) / (F.col("nt") + a * n_buckets))
                 - F.log((F.col("cr") + a) / (F.col("nr") + a * n_buckets)),
                 6).alias("logr")))
    mrow = model.agg(F.map_from_entries(
        F.collect_list(F.struct("b", "logr"))).alias("lut"))
    score = F.aggregate(
        F.transform("ws", lambda x: F.element_at(F.col("lut"), bucket(x))),
        F.lit(0.0), lambda acc, x: acc + x)
    return (base.crossJoin(F.broadcast(mrow))
            .select("doc_id",
                    F.size("ws").cast("int").alias("n_words"),
                    F.when(F.size("ws") > 0,
                           F.round(score, 6)).alias("dsir_logw"))
            .orderBy("doc_id"))


def _dsir_oracle_sql() -> str:
    n_buckets = DSIR_BUCKETS
    b = (f"CAST(from_hex(substring(md5({{w}}), 1, 8))::BIT AS BIGINT) "
         f"% {n_buckets}")
    a = DSIR_SMOOTHING
    return f"""
WITH w AS (
  SELECT doc_id, lang,
         CASE WHEN LENGTH(TRIM(text)) > 0
              THEN regexp_split_to_array(LOWER(TRIM(text)), '\\s+')
              ELSE [] END AS ws
  FROM documents
),
ex AS (
  SELECT lang, {b.format(w="u.w")} AS b
  FROM w, UNNEST(ws) AS u(w)
),
cnt AS (
  SELECT b, COUNT(*) AS cr,
         SUM(CASE WHEN lang = '{DSIR_TARGET}' THEN 1 ELSE 0 END) AS ct
  FROM ex GROUP BY b
),
tot AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM cnt),
model AS (
  SELECT b, ROUND(LN((ct + {a}) / (nt + {a} * {n_buckets}))
               - LN((cr + {a}) / (nr + {a} * {n_buckets})), 6) AS logr
  FROM cnt CROSS JOIN tot
),
doc AS (SELECT w.doc_id, u.w AS word FROM w, UNNEST(ws) AS u(w)),
sc AS (
  SELECT d.doc_id, SUM(m.logr) AS s
  FROM doc d JOIN model m ON m.b = {b.format(w="d.word")}
  GROUP BY d.doc_id
)
SELECT w.doc_id, CAST(LEN(ws) AS INT) AS n_words,
       CASE WHEN LEN(ws) > 0 THEN ROUND(sc.s, 6) END AS dsir_logw
FROM w LEFT JOIN sc ON sc.doc_id = w.doc_id
ORDER BY w.doc_id
"""


ORACLE_DSIR = _dsir_oracle_sql()


# --- HyperLogLog cardinality sketch -------------------------------------------

def q_vocab_hll(spark, sf_dir):
    """Corpus vocabulary cardinality via a cross-engine-deterministic
    HyperLogLog sketch (Flajolet et al. 2007) -- the scale answer to
    "how many distinct words/URLs are in 10^12 rows" without an exact
    COUNT(DISTINCT)'s full-key shuffle: the ONLY exchange is the
    m=2^HLL_P-keyed max-rho partial agg (map-side combined; 1024 keys at
    HLL_P=10), constant memory at ANY corpus size.  Spark's built-in
    approx_count_distinct is the same sketch but its registers are not
    replayable in DuckDB; this one derives register and rho from the
    repo's md5 convention (first/second 8 hex digits -> two 32-bit
    halves), so both engines build the IDENTICAL register file and the
    aux gate hashes it.

    Determinism ledger: register/rho/zeros are integers; sum_inv is a
    sum of dyadic rationals 2^-rho (EXACT in IEEE double in any
    order); the estimate divides exact operands -- only the
    linear-counting LN differs at ULP level between engines, hence
    round(3).  Standard corrections: linear counting below 2.5m with
    zero registers; 32-bit large-range correction omitted (documented:
    test scale is ~1e3, correction bites at ~1e8 -- use the 64-bit
    variant there)."""
    m = 1 << HLL_P
    docs = _t(spark, sf_dir, "documents")
    words = F.when(F.length(F.trim("text")) > 0,
                   F.split(F.lower(F.trim(F.col("text"))), r"\s+")
                   ).otherwise(F.array().cast("array<string>"))
    h_hi, h_lo = _md5_halves(F.col("w"))
    rho = F.when(h_hi == 0, F.lit(33)) \
        .otherwise(33 - F.length(F.bin(h_hi))).cast("int")
    regs = (docs.select(F.explode(words).alias("w"))
            .select((h_lo % m).alias("reg"), rho.alias("rho"))
            .groupBy("reg").agg(F.max("rho").alias("mx")))
    alpha = 0.7213 / (1 + 1.079 / m)
    agg = regs.agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.pow(F.lit(2.0), -F.col("mx"))).alias("s_present"))
    zeros = F.lit(m) - F.col("n_present")
    sum_inv = F.col("s_present") + zeros.cast("double")
    raw = F.lit(alpha * m * m) / sum_inv
    est = F.when((raw <= 2.5 * m) & (zeros > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
                 ).otherwise(raw)
    return agg.select(
        F.lit(m).alias("m"),
        zeros.cast("int").alias("zero_registers"),
        sum_inv.alias("sum_inv"),
        F.round(est, 3).alias("est_distinct"))


def _vocab_hll_oracle_sql() -> str:
    m = 1 << HLL_P
    alpha = 0.7213 / (1 + 1.079 / m)
    return f"""
WITH w AS (
  SELECT u.w AS w
  FROM (SELECT CASE WHEN LENGTH(TRIM(text)) > 0
               THEN regexp_split_to_array(LOWER(TRIM(text)), '\\s+')
               ELSE [] END AS ws FROM documents) t, UNNEST(ws) AS u(w)
),
h AS (
  SELECT CAST(from_hex(substring(md5(w), 9, 8))::BIT AS BIGINT) % {m}
           AS reg,
         CASE WHEN CAST(from_hex(substring(md5(w), 1, 8))::BIT AS BIGINT)
                   = 0 THEN 33
              ELSE 33 - LENGTH(LTRIM(bin(
                CAST(from_hex(substring(md5(w), 1, 8))::BIT AS BIGINT)),
                '0')) END AS rho
  FROM w
),
regs AS (SELECT reg, MAX(rho) AS mx FROM h GROUP BY reg),
agg AS (
  SELECT COUNT(*) AS n_present,
         SUM(POW(2.0, -mx)) AS s_present
  FROM regs
)
SELECT CAST({m} AS INT) AS m,
       CAST({m} - n_present AS INT) AS zero_registers,
       s_present + ({m} - n_present) AS sum_inv,
       ROUND(CASE WHEN {alpha * m * m} / (s_present + ({m} - n_present))
                       <= {2.5 * m}
                  AND {m} - n_present > 0
             THEN {float(m)} * LN({float(m)} / ({m} - n_present))
             ELSE {alpha * m * m} / (s_present + ({m} - n_present))
             END, 3) AS est_distinct
FROM agg
"""


ORACLE_VOCAB_HLL = _vocab_hll_oracle_sql()


# --- train/valid/test split ---------------------------------------------------

def q_corpus_split(spark, sf_dir):
    """Deterministic stratified train/valid/test assignment: split =
    md5_shard(doc_id, 100) thresholds, so membership is a pure function
    of doc_id -- re-runs, retries, cluster resizes, and INCREMENTAL
    corpus growth never move a document across splits (the eval-leak
    guarantee: a doc that was ever in test can never drift into train).
    Stratification is free: a uniform hash is uniform within every
    language slice, no per-stratum pass needed.  Output is the
    per-(lang, split) audit table a release datasheet carries; the
    assignment itself is the map-side `split` expression (reusable as
    a column on any frame).

    Scale shape: one partial-agg pass on (lang, split) keys -- the
    hash is the SAME md5_shard as the sampler/packer/sinks, so split
    routing composes with shard layout without a second hash."""
    docs = _t(spark, sf_dir, "documents")
    bucket = md5_shard(F.col("doc_id"), 100)
    split = (F.when(bucket < SPLIT_VALID_PCT, F.lit("valid"))
             .when(bucket < SPLIT_VALID_PCT + SPLIT_TEST_PCT, F.lit("test"))
             .otherwise(F.lit("train")))
    return (docs.select("lang", split.alias("split"))
            .groupBy("lang", "split")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("lang", "split"))


_SPLIT_BUCKET = ("CAST(from_hex(substring(md5(CAST(doc_id AS VARCHAR)), 1, "
                 "8))::BIT AS BIGINT) % 100")
ORACLE_CORPUS_SPLIT = f"""
SELECT lang,
       CASE WHEN {_SPLIT_BUCKET} < {SPLIT_VALID_PCT} THEN 'valid'
            WHEN {_SPLIT_BUCKET} < {SPLIT_VALID_PCT + SPLIT_TEST_PCT} THEN 'test'
            ELSE 'train' END AS split,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1, 2 ORDER BY lang, split
"""


# --- count-min sketch heavy-hitter estimates ----------------------------------

def q_cms_word_freq(spark, sf_dir):
    """Count-min sketch word-frequency estimates (Cormode & Muthu 2005):
    depth x width counters (CMS_DEPTH x CMS_WIDTH), row-i column =
    (md5-derived 32-bit hash of "i:word") % width, estimate = min over
    rows -- frequency queries over a 10^12-word corpus in depth*width*8
    bytes of state instead of a full-vocabulary groupBy.  The CMS
    guarantee (est >= true, and est <= true + eps*N with eps = e/width at
    prob 1 - e^-depth) is asserted against exact counts in pytest.

    The registered query builds the sketch and reads it back for a
    deterministic probe set (the distinct words of doc CMS_PROBE_DOC) --
    bounded output, everything md5-derived, so DuckDB replays sketch
    AND probes bit-for-bit.  Scale shape: ONE partial-agg pass on
    (row, col) keys (depth*width distinct -- map-side combined), the
    sketch re-enters as a broadcast, probes are a broadcast-side
    lookup.  Word extraction reuses the corpus split convention."""
    docs = _t(spark, sf_dir, "documents")
    words = F.when(F.length(F.trim("text")) > 0,
                   F.split(F.lower(F.trim(F.col("text"))), r"\s+")
                   ).otherwise(F.array().cast("array<string>"))
    ex = docs.select("doc_id", F.explode(words).alias("w"))
    depth = CMS_DEPTH

    def col_of(row, w_col):
        return (F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{row}:"), w_col)), 1, 8), 16, 10)
            .cast("long") % CMS_WIDTH)

    # one pass builds all depth rows: explode the per-row column ids
    rows_arr = F.array(*[
        F.struct(F.lit(i).alias("r"), col_of(i, F.col("w")).alias("c"))
        for i in range(depth)])
    sketch = (ex.select(F.explode(rows_arr).alias("rc"))
              .groupBy(F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
              .agg(F.count(F.lit(1)).alias("n")))
    probes = (ex.filter(F.col("doc_id") == CMS_PROBE_DOC)
              .select("w").distinct())
    est = None
    p = probes
    for i in range(depth):
        si = sketch.filter(F.col("r") == i) \
            .select(F.col("c").alias(f"c{i}"), F.col("n").alias(f"n{i}"))
        p = p.join(F.broadcast(si), col_of(i, F.col("w")) == F.col(f"c{i}"))
        e_i = F.col(f"n{i}")
        est = e_i if est is None else F.least(est, e_i)
    return (p.select(F.col("w").alias("word"), est.alias("est_count"))
            .orderBy("word"))


def _cms_oracle_sql() -> str:
    depth, width = CMS_DEPTH, CMS_WIDTH

    def col_of(row, w):
        return (f"CAST(from_hex(substring(md5('{row}:' || {w}), 1, 8))"
                f"::BIT AS BIGINT) % {width}")

    ests = ", ".join(
        f"(SELECT n FROM sketch s WHERE s.r = {i} "
        f"AND s.c = {col_of(i, 'p.w')})" for i in range(depth))
    return f"""
WITH ex AS (
  SELECT doc_id, u.w AS w
  FROM (SELECT doc_id,
               CASE WHEN LENGTH(TRIM(text)) > 0
               THEN regexp_split_to_array(LOWER(TRIM(text)), '\\s+')
               ELSE [] END AS ws FROM documents) t, UNNEST(ws) AS u(w)
),
sketch AS (
  SELECT r.i AS r,
         CAST(from_hex(substring(
           md5(CAST(r.i AS VARCHAR) || ':' || ex.w), 1, 8))::BIT
           AS BIGINT) % {width} AS c,
         COUNT(*) AS n
  FROM ex CROSS JOIN (SELECT UNNEST(range({depth})) AS i) r
  GROUP BY 1, 2
),
probes AS (SELECT DISTINCT w FROM ex WHERE doc_id = {CMS_PROBE_DOC})
SELECT p.w AS word, LEAST({ests}) AS est_count
FROM probes p ORDER BY word
"""


ORACLE_CMS = _cms_oracle_sql()


# --- IVFADC: coarse cells + compressed-domain scoring -------------------------

def q_ann_ivfadc_topk(spark, sf_dir):
    """IVFADC (Jegou et al. 2011 §IV): the full PQ serving system --
    the IVF coarse quantizer prunes the corpus to N_PROBE of N_CELLS
    cells (~N_PROBE/N_CELLS of N candidates), then ADC scores ONLY those
    candidates from their 4-byte codes, 64x less memory bandwidth per
    candidate; the raw float table is never read by a search at all.
    With the fixed N_CELLS the candidate count is N_PROBE * N/N_CELLS,
    linear in N (a sublinear count needs cells growing as ~sqrt N;
    SCALE.md §ANN).

    Deviation from the paper, documented: codes quantize the RAW
    vectors, not the per-cell residuals (residual PQ couples the
    codebook to the coarse cells for somewhat better recall; raw-vector
    PQ keeps ONE corpus-wide codebook -- the variant several production
    systems ship -- and keeps the DuckDB oracle assemblable from the
    same CTEs as the IVF and PQ gates).  Coarse side is _ivf_cells, as
    in q_ann_ivf_topk (cosine cells, smallest-c_id tie-break);
    scoring reuses the ADC conventions (6dp-rounded subspace L2, fixed
    j-order sum).  Exchanges: the two index builds' partial aggs plus
    the top-k window -- candidates ride (q_id, vec_id) ids into a
    broadcast, embeddings never shuffle."""
    emb = _t(spark, sf_dir, "embeddings")
    local = _local_emb_table(sf_dir)
    n = _embeddings_n_rows(emb, sf_dir)
    cand = _ivf_candidates(*_ivf_cells(emb, local, n))
    # compressed-domain scoring: candidates x broadcast LUT maps
    codes, pq_cents, _ = _pq_codes(spark, sf_dir, local)
    qs = (emb.filter(F.col("vec_id") < N_QUERIES)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_emb")))
    lut = (F.broadcast(qs).crossJoin(F.broadcast(pq_cents))
           .groupBy("q_id").agg(*[
               F.map_from_entries(F.collect_list(F.struct(
                   F.col("c_id"),
                   _pq_subdist(F.col("q_emb"), F.col("c_emb"), j)
                   .alias("d")))).alias(f"lut{j}")
               for j in range(PQ_M)]))
    adist = None
    for j in range(PQ_M):
        term = F.element_at(F.col(f"lut{j}"), F.col(f"code{j}"))
        adist = term if adist is None else adist + term
    scored = (codes.join(F.broadcast(cand), "vec_id")
              .join(F.broadcast(lut), "q_id")
              .select("q_id", "vec_id", F.round(adist, 6).alias("adist")))
    return _top_k(scored, "adist")


def _ann_ivfadc_oracle_sql() -> str:
    """IVF cell/probe CTEs (from the IVF oracle) + PQ codes/LUT CTEs
    (from the ADC oracle), joined on the candidate set."""
    luts = ",\n".join(
        f"lut{j} AS MATERIALIZED (SELECT q.q_id, pc.c_id, "
        f"{_pq_dist_sql(j, 'q.q_emb', 'pc.c_emb')} AS d "
        f"FROM q CROSS JOIN pqc pc)"
        for j in range(PQ_M))
    lut_joins = "\n  ".join(
        f"JOIN lut{j} l{j} ON l{j}.q_id = cd.q_id "
        f"AND l{j}.c_id = x.code{j}"
        for j in range(PQ_M))
    dsum = " + ".join(f"l{j}.d" for j in range(PQ_M))
    return f"""
WITH {_IVF_CENT_CTES},
sims AS MATERIALIZED (
  SELECT e.vec_id, c.c_id, {_COS_SQL.format(a="e", b="c")} AS sim_c
  FROM embeddings e CROSS JOIN cents c
),
{_IVF_PROBE_CTES},
cand AS MATERIALIZED (
  SELECT p.q_id, a.vec_id
  FROM probes p JOIN cells a USING (cell)
  WHERE a.vec_id <> p.q_id
),
pqstep AS (
  SELECT CAST(CEIL(COUNT(*) / {PQ_SUB_CENTS}.0) AS BIGINT) AS step
  FROM embeddings
),
pqc AS (
  SELECT vec_id AS c_id, embedding AS c_emb
  FROM embeddings WHERE vec_id % (SELECT GREATEST(step, 1) FROM pqstep) = 0
),
codes AS MATERIALIZED (
  SELECT e.vec_id, {_pq_code_cols("pc")}
  FROM embeddings e CROSS JOIN pqc pc GROUP BY e.vec_id
),
q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
      WHERE vec_id < {N_QUERIES}),
{luts},
scored AS (
  SELECT cd.q_id, cd.vec_id, ROUND({dsum}, 6) AS adist
  FROM cand cd
  JOIN codes x ON x.vec_id = cd.vec_id
  {lut_joins}
),
ranked AS (
  SELECT q_id, vec_id, adist,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                 ORDER BY adist, vec_id) AS INT) AS rnk
  FROM scored
)
SELECT q_id, vec_id, adist, rnk FROM ranked WHERE rnk <= {TOP_K}
ORDER BY q_id, rnk
"""


ORACLE_ANN_IVFADC = _ann_ivfadc_oracle_sql()


# --- deterministic quantile sketch --------------------------------------------

def q_token_quantiles(spark, sf_dir):
    """Per-doc token-count quantiles from a DETERMINISTIC HDR-style
    histogram sketch -- the replayable stand-in for t-digest the
    ppl_buckets docstring promises at 10^12 docs: t-digest centroids
    depend on merge order (non-deterministic under Spark's partial
    aggs), while fixed log-bins are a pure function of the value, so
    two engines -- or two cluster runs -- build the IDENTICAL sketch.

    Binning: values 0-15 exact (bin = v); larger values keep 4 mantissa
    bits after the leading 1 (e = bitlen-1, sub = v >> (e-4) & 15,
    bin = 16*(e-3) + sub), i.e. 16 sub-bins per octave => relative
    error <= 2^-4 = 6.25% per estimate, ~600 bins for the full int
    range.  Estimate = bin LOWER bound at the ceil(q*N)-th rank
    (deterministic downward bias inside one bin, documented).

    Scale shape: ONE partial agg on <= ~600 bin keys; the rank walk is
    a window over the bin table itself (hundreds of rows -- the
    single-partition window is over sketch state, never the corpus).
    Accuracy vs exact percentile pinned in tests."""
    docs = _t(spark, sf_dir, "documents")
    v = F.when(F.length(F.trim("text")) > 0,
               F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
               ).otherwise(F.lit(0)).cast("long")
    e = F.length(F.bin(F.col("v"))) - 1
    sub = (F.col("v") / F.pow(F.lit(2.0), (e - 4).cast("double")))\
        .cast("long") % 16
    bin_ = F.when(F.col("v") < 16, F.col("v")) \
        .otherwise(16 * (e - 3) + sub)
    lo = F.when(F.col("bin") < 16, F.col("bin")) \
        .otherwise(((F.col("bin") % 16 + 16)
                    * F.pow(F.lit(2.0),
                            (F.floor(F.col("bin") / 16) + 3 - 4)
                            .cast("double"))).cast("long"))
    hist = (docs.select(v.alias("v")).select(bin_.alias("bin"))
            .groupBy("bin").agg(F.count(F.lit(1)).alias("n")))
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    cum = (hist.withColumn("cum", F.sum("n").over(wcum))
           .crossJoin(F.broadcast(
               hist.agg(F.sum("n").alias("total"))))
           .withColumn("lo", lo))
    out = None
    for q in QUANTILES:
        rank = F.ceil(F.lit(float(q)) * F.col("total"))
        hit = (cum.filter(F.col("cum") >= rank)
               .orderBy("bin").limit(1)
               .select(F.lit(float(q)).alias("q"),
                       F.col("lo").alias("est_tokens"),
                       F.col("total").cast("long").alias("n_docs")))
        out = hit if out is None else out.unionAll(hit)
    return out.orderBy("q")


def _token_quantiles_oracle_sql() -> str:
    sel = ",\n  ".join(
        f"(SELECT lo FROM cum WHERE cum >= CEIL({q} * total) "
        f"ORDER BY bin LIMIT 1) AS q{i}"
        for i, q in enumerate(QUANTILES))
    rows = "\nUNION ALL\n".join(
        f"SELECT {q} AS q, q{i} AS est_tokens, n_docs FROM picks"
        for i, q in enumerate(QUANTILES))
    return f"""
WITH vals AS (
  SELECT CASE WHEN LENGTH(TRIM(text)) > 0
         THEN LEN(regexp_split_to_array(LOWER(TRIM(text)), '\\s+'))
         ELSE 0 END::BIGINT AS v
  FROM documents
),
binned AS (
  SELECT CASE WHEN v < 16 THEN v
         ELSE 16 * (LENGTH(bin(v)) - 1 - 3)
              + (v // CAST(POW(2.0, LENGTH(bin(v)) - 1 - 4) AS BIGINT)) % 16
         END AS bin
  FROM vals
),
hist AS (SELECT bin, COUNT(*) AS n FROM binned GROUP BY bin),
cum AS (
  SELECT bin, n,
         SUM(n) OVER (ORDER BY bin) AS cum,
         (SELECT SUM(n) FROM hist) AS total,
         CASE WHEN bin < 16 THEN bin
              ELSE CAST((bin % 16 + 16)
                   * POW(2.0, bin // 16 + 3 - 4) AS BIGINT) END AS lo
  FROM hist
),
picks AS (
  SELECT {sel},
         (SELECT CAST(total AS BIGINT) FROM cum LIMIT 1) AS n_docs
)
{rows}
ORDER BY q
"""


ORACLE_TOKEN_QUANTILES = _token_quantiles_oracle_sql()


# --- RSS/Atom feed ingest -----------------------------------------------------

def feed_entries(df):
    """Extract entries from the RSS 2.0 / Atom `feed` bodies -- the third
    crawl-seeding source next to robots Sitemap pointers and
    sitemap_urls.  Dispatches on the root element per body; RSS
    <item> blocks yield (link, title, RFC-822 pubDate), Atom <entry>
    blocks yield (link href, title, ISO-8601 updated); dates parse to
    epoch seconds (Spark's CORRECTED parser rejects day-name patterns,
    so the RFC-822 weekday prefix is stripped before parsing -- the
    standard tolerant-reader move).  Pure codegen regex extraction +
    map-side explode, no shuffle; feeds whose entries lack a date get
    pub_epoch NULL rather than dropping the row."""
    is_rss = F.col("feed").contains("<rss")
    # (?s): Java regex '.' does not match newlines, and real feeds put
    # newlines inside every <item>/<entry> block; without DOTALL the
    # extraction silently yields zero entries on multi-line bodies
    # (single-line bodies -- the gate corpus -- are unaffected)
    blocks = F.when(
        is_rss,
        F.expr("regexp_extract_all(feed, '(?s)<item>(.*?)</item>', 1)")
    ).otherwise(
        F.expr("regexp_extract_all(feed, '(?s)<entry>(.*?)</entry>', 1)"))
    b = F.col("b")
    rss_url = F.regexp_extract(b, "<link>([^<]*)</link>", 1)
    atom_url = F.regexp_extract(b, '<link href="([^"]*)"', 1)
    title = F.regexp_extract(b, "<title>([^<]*)</title>", 1)
    rss_date = F.regexp_extract(b, "<pubDate>([^<]*)</pubDate>", 1)
    atom_date = F.regexp_extract(b, "<updated>([^<]*)</updated>", 1)
    rss_epoch = F.unix_timestamp(F.try_to_timestamp(
        F.regexp_replace(rss_date, r"^[A-Za-z]{3}, ", ""),
        F.lit("dd MMM yyyy HH:mm:ss 'GMT'")))
    atom_epoch = F.unix_timestamp(
        F.try_to_timestamp(atom_date, F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")))
    return (df.select("host", is_rss.alias("is_rss"),
                      F.explode(blocks).alias("b"))
            .select("host",
                    F.when(F.col("is_rss"), F.lit("rss"))
                    .otherwise(F.lit("atom")).alias("kind"),
                    F.when(F.col("is_rss"), rss_url)
                    .otherwise(atom_url).alias("url"),
                    title.alias("title"),
                    F.when(F.col("is_rss"), rss_epoch)
                    .otherwise(atom_epoch).alias("pub_epoch")))


def q_feed_entries(spark, sf_dir):
    """Feed-ingest gate: even hosts serve RSS 2.0, odd hosts Atom, one
    entry per page, pub instant = 2024-01-01 + doc_id minutes.  The
    Spark side ROUND-TRIPS each date (format to the wire string, build
    the feed XML, re-extract, parse back to epoch) while the oracle is
    pure closed-form arithmetic -- a formatter/parser disagreement in
    either direction breaks the value hash loudly."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    host = (F.col("doc_id") % 50).cast("long")
    url = F.concat(F.lit("https://host"), host.cast("string"),
                   F.lit(".example/p"), F.col("doc_id").cast("string"))
    ts = F.to_timestamp(F.from_unixtime(
        F.lit(1704067200) + F.col("doc_id") * 60))
    rss_e = F.concat(
        F.lit("<item><link>"), url, F.lit("</link><title>Doc "),
        F.col("doc_id").cast("string"), F.lit("</title><pubDate>"),
        F.date_format(ts, "EEE, dd MMM yyyy HH:mm:ss"),
        F.lit(" GMT</pubDate></item>"))
    atom_e = F.concat(
        F.lit('<entry><link href="'), url, F.lit('"/><title>Doc '),
        F.col("doc_id").cast("string"), F.lit("</title><updated>"),
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"),
        F.lit("Z</updated></entry>"))
    entries = docs.select(
        host.alias("host"), F.col("doc_id"),
        F.when(host % 2 == 0, rss_e).otherwise(atom_e).alias("e"))
    feeds = (entries.groupBy("host").agg(F.concat(
        F.when(F.col("host") % 2 == 0,
               F.lit('<rss version="2.0"><channel>'))
        .otherwise(F.lit('<feed xmlns="http://www.w3.org/2005/Atom">')),
        F.array_join(F.array_sort(F.collect_list(
            F.struct("doc_id", "e"))).getField("e"), ""),
        F.when(F.col("host") % 2 == 0, F.lit("</channel></rss>"))
        .otherwise(F.lit("</feed>"))).alias("feed")))
    return feed_entries(feeds).orderBy("host", "url")


ORACLE_FEED_ENTRIES = """
SELECT doc_id % 50 AS host,
       CASE WHEN doc_id % 50 % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
       'https://host' || (doc_id % 50) || '.example/p' || doc_id AS url,
       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
       1704067200 + doc_id * 60 AS pub_epoch
FROM documents ORDER BY host, url
"""


# --- fuzzy decontamination ----------------------------------------------------

def q_decontaminate_fuzzy(spark, sf_dir):
    """Fuzzy train/eval decontamination: flag every TRAIN document whose
    MinHash-estimated Jaccard vs ANY eval document reaches
    EST_JACCARD_MIN --
    the near-duplicate complement to q_decontaminate's exact-8-gram
    scrub (modern pipelines run both: exact n-grams catch verbatim
    leaks, fuzzy catches paraphrased/reformatted copies of benchmark
    items).  Same eval split convention (doc_id % EVAL_MOD == 0 = the
    stand-in benchmark table) and the SAME signature/band constants as
    the minhash gates, so the DuckDB oracle replays bit-for-bit.

    Scale shape: eval benchmarks are MBs against a 100-TB corpus, so
    the eval side's bands AND signatures both BROADCAST; train bands
    join map-side, candidates carry (train_id, eval_id) ids only, and
    the verdict is one groupBy over flagged train ids.  Corpus text
    never shuffles; the only corpus-sized exchange is the signature
    partial-MIN agg the minhash family already pays."""
    docs = _t(spark, sf_dir, "documents")
    sigs = _minhash_sigs(docs)
    is_eval = (F.col("doc_id") % EVAL_MOD) == 0
    ev_sigs = sigs.filter(is_eval)
    tr_sigs = sigs.filter(~is_eval)
    ev_bands = _minhash_banded(ev_sigs) \
        .select(F.col("doc_id").alias("eval_id"), "band", "bucket")
    tr_bands = _minhash_banded(tr_sigs)
    cand = (tr_bands.join(F.broadcast(ev_bands), ["band", "bucket"])
            .select("doc_id", "eval_id").distinct())
    sb = _sig_side(ev_sigs, "eval_id", "b")
    return (cand.join(_sig_side(tr_sigs, "doc_id", "a"), "doc_id")
            .join(F.broadcast(sb), "eval_id")
            .select("doc_id", "eval_id", _est_jaccard().alias("est_jaccard"))
            .filter(F.col("est_jaccard") >= EST_JACCARD_MIN)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_eval_matches"),
                 F.max("est_jaccard").alias("max_est_jaccard"))
            .orderBy("doc_id"))


ORACLE_DECONTAMINATE_FUZZY = f"""
WITH {_minhash_ctes()},
cand AS (
  SELECT DISTINCT t.doc_id, e.doc_id AS eval_id
  FROM bands t JOIN bands e
    ON t.band = e.band AND t.bucket = e.bucket
  WHERE t.doc_id % {EVAL_MOD} <> 0 AND e.doc_id % {EVAL_MOD} = 0
),
est AS (
  SELECT c.doc_id, c.eval_id,
         {_EST_JACCARD_SQL} AS est_jaccard
  FROM cand c
  JOIN hx x ON x.doc_id = c.doc_id
  JOIN hx y ON y.doc_id = c.eval_id
)
SELECT doc_id, CAST(COUNT(*) AS INT) AS n_eval_matches,
       MAX(est_jaccard) AS max_est_jaccard
FROM est WHERE est_jaccard >= {EST_JACCARD_MIN}
GROUP BY doc_id ORDER BY doc_id
"""
