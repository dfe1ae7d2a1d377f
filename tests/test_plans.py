"""Physical-plan audits: the optimizations we rely on at 100 TB must be
visible in the plan, not assumed -- predicate pushdown into the parquet
scan, column pruning through the mapInArrow stage, broadcast joins for
small dimensions, partial (map-side) aggregation."""

import pytest

from closure_html_spark.spark import relational as R
from closure_html_spark.spark.pipeline import extract_pages
from references import q_winnow_fingerprint_expr

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_filter_pushed_to_parquet_scan(spark):
    df = R.q_pricing_summary(spark, SF)
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200], \
        "shipdate filter not pushed to the scan"


def test_partial_aggregation(spark):
    plan = plan_of(R.q_pricing_summary(spark, SF))
    # map-side partial + final hash aggregate
    assert plan.count("HashAggregate") >= 2


def test_broadcast_join_for_dimensions(spark):
    plan = plan_of(R.q_top_revenue_nations(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_column_pruning_through_extraction(spark, tmp_path_factory):
    """The extraction stage must read ONLY (url, html) from the pages scan
    -- a scan hauling text/lang/warc_ts for a 2-column projection would be
    reading ~40% dead weight at 100 TB."""
    from closure_html_spark.spark.pages import pages_from_documents
    d = tmp_path_factory.mktemp("pages")
    pages_from_documents(spark, SF).write.parquet(str(d), mode="overwrite")
    pages = spark.read.parquet(str(d))
    ext = extract_pages(pages, id_cols=("url",))
    plan = plan_of(ext)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "url" in read_schema and "html" in read_schema
    for dead in ("text", "lang", "warc_ts", "doc_id"):
        assert dead not in read_schema, f"column {dead} not pruned: {read_schema}"


def test_ann_broadcasts_query_side(spark):
    """The bounded query side rides the _np_cent_sims kernel's closure
    instead of a broadcast crossJoin -- the corpus streams through ONE
    MapInArrow pass with no join of the embedding table at all (not a
    BroadcastNestedLoopJoin)."""
    plan = plan_of(R.q_ann_cosine_topk(spark, SF))
    assert "MapInArrow" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_no_python_udf_in_relational_queries(spark):
    """Every relational/training-data query must stay JVM-side; Python
    appears only in the dedicated mapInArrow pipeline stages."""
    for name, fn in [
        ("pricing", R.q_pricing_summary), ("revenue", R.q_top_revenue_nations),
        ("window", R.q_window_user_events), ("sessionize", R.q_sessionize),
        ("dedup", R.q_dedup_exact), ("tokens", R.q_token_stats),
        ("quality", R.q_quality_score), ("ngram", R.q_ngram_shingles),
        ("ann", R.q_ann_cosine_topk), ("minhash", R.q_minhash_bands),
        ("langid", R.q_lang_id), ("simhash", R.q_simhash),
        ("neardup", R.q_embedding_neardup),
    ]:
        plan = plan_of(fn(spark, SF))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, \
            f"{name} fell off the JVM: Python UDF in plan"


def test_shingles_shuffle_free(spark):
    """_ngrams must build grams with NO Window and NO Exchange below the
    gram projection: the old lead()-over-partitionBy(doc_id) formulation
    shuffled the exploded words (~full text volume) before hashing, which
    at 100 TB is a corpus-sized exchange.  The arrays_zip/slice/explode
    form keeps a doc's grams in its scan partition, so the only exchanges
    in any consumer are the hash/signature aggregations."""
    from closure_html_spark.spark.relational import _ngrams, _t
    docs = _t(spark, SF, "documents")
    plan = plan_of(_ngrams(docs))
    assert "Window" not in plan, "shingles regressed to a window shuffle"
    assert "Exchange" not in plan, "exchange below the gram projection"
    # consumers: minhash signatures must also be window-free
    plan = plan_of(R.q_minhash_bands(spark, SF))
    assert "Window" not in plan


def test_minhash_single_subplan(spark):
    """The band explode must run over ONE shingle/agg subtree; a unionAll
    of per-band selects re-executes the whole signature subplan per band
    (Catalyst does not dedupe common subplans across union branches)."""
    plan = plan_of(R.q_minhash_bands(spark, SF))
    assert "Union" not in plan, "bands still unioned -> 4x recompute"
    # exactly one scan of documents feeding one shingle window/agg chain
    # (the formatted plan names each scan once in the tree and once in the
    # details, so count the one-per-scan Location line instead)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan[:500]


def test_minhash_est_pairs_plan(spark):
    """The estimator must be a bucket equi-join over banded candidates +
    signature joins -- no cartesian, no Python, no per-band union."""
    plan = plan_of(R.q_minhash_est_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Union" not in plan


def test_paragraph_clean_single_chunk_shuffle(spark):
    """q_paragraph_dedup_clean: exactly one window (the chunk-ownership
    min) and no Python -- and the ownership exchange is keyed on the
    16-byte md5 hash with NO chunk-text column anywhere in the plan:
    text moves only on the docs side of the
    final doc_id join."""
    plan = plan_of(R.q_paragraph_dedup_clean(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Window") <= 2  # ownership min (+details repeat)
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(h" in plan      # window keyed on the hash
    assert "chunk" not in plan               # chunk text never a column


def test_corpus_clean_no_text_exchange(spark):
    """corpus_clean_pipeline's dedup scale invariants:

    1. The ownership window exchange is keyed on the 16-byte md5 and
       carries ONLY (doc_id, h) -- main_text never rides the h-keyed
       exchange.
    2. The loser anti-join has NO forced broadcast (no explicit hint):
       on real corpora losers are tens of percent of the corpus; AQE may
       broadcast at runtime when the loser side is actually small, else
       the join shuffles keyed on the unique doc_id (linear, skew-free).
    3. Any hash exchange is keyed on h or doc_id only.

    The final rangepartitioning (orderBy for the oracle compare) is
    output shaping, same as any sorted write."""
    import re

    import __spark_entry__ as entry
    plan = plan_of(entry.queries()["corpus_clean_pipeline"](spark, SF))
    keys = re.findall(r"hashpartitioning\((\w+)", plan)
    assert keys and set(keys) <= {"h", "doc_id"}, \
        f"unexpected exchange key: {keys}"
    assert "LeftAnti" in plan
    # formatted-plan detail blocks: any exchange keyed on h must not
    # carry main_text (the ids+hash ownership frame only)
    for block in plan.split("\n\n"):
        if re.search(r"hashpartitioning\(h#", block):
            assert "main_text" not in block, \
                f"text rides the h-keyed ownership exchange:\n{block}"


def test_extract_links_no_node_table(spark, tmp_path_factory):
    """extract_links must NOT route through the exploded nodes stage: the
    plan is scan -> mapInArrow (links column) -> projection, with no
    Generate/explode before the stage and no groupBy shuffle over
    per-node rows (only the final per-doc sort remains)."""
    from closure_html_spark.spark.pages import pages_from_documents
    import __spark_entry__ as entry
    df = entry.aux_queries()["extract_links"](spark, SF)
    plan = plan_of(df)
    assert "MapInArrow" in plan
    # no per-node explode (posexplode in nodes_of) and no aggregation
    # shuffle: size/array_sort run per-row on the links array
    assert "Generate" not in plan
    assert "HashAggregate" not in plan


def test_embedding_neardup_lsh_no_cartesian(spark):
    """The near-dup scale path must be a bucket equi-join, never a
    cartesian/broadcast-nested-loop over the full vector table."""
    plan = plan_of(R.q_embedding_neardup_lsh(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_winnow_is_shuffle_free_arrow_stage(spark):
    """Winnowing is a per-document function: the plan must be scan ->
    mapInArrow -> (sort for the oracle compare), with NO char-position
    explode and NO Window/shuffle over gram rows -- a relational form
    pushes ~10^14 rows through an exchange at 100 TB."""
    plan = plan_of(R.q_winnow_fingerprint(spark, SF))
    assert "MapInArrow" in plan
    assert "Generate" not in plan, "char-position explode is back"
    assert "Window" not in plan, "gram rows going through a window again"
    # the only exchange allowed is the rangepartitioning for the final sort
    assert "hashpartitioning" not in plan, "a shuffle crept into winnowing"


def test_winnow_kernel_matches_relational_definition(spark):
    """The numpy kernel must reproduce the relational formulation (the
    executable definition) row-for-row, truncated trailing windows and
    all."""
    fast = {tuple(r) for r in R.q_winnow_fingerprint(spark, SF).collect()}
    ref = {tuple(r) for r in q_winnow_fingerprint_expr(spark, SF).collect()}
    assert fast == ref


def test_corpus_sample_map_only(spark):
    """q_corpus_sample is a map-only hash-threshold filter: scan ->
    filter -> project with NO hash exchange anywhere (the only exchange
    is the orderBy's output-shaping rangepartitioning), and the filter
    sits directly on the column-pruned 2-column parquet scan."""
    plan = plan_of(R.q_corpus_sample(spark, SF))
    assert "hashpartitioning" not in plan, "sampler introduced a shuffle"
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema, "sampler read the text payload"


def test_pack_sequences_text_never_shuffles(spark):
    """q_pack_sequences' only wide exchange is the per-shard packing
    window keyed on `shard`; the rows entering it carry (doc_id, shard,
    n_tokens) -- the text column is consumed map-side by the token count
    and never crosses an exchange (nor leaves the scan projection)."""
    import re
    plan = plan_of(R.q_pack_sequences(spark, SF))
    keys = re.findall(r"hashpartitioning\((\w+)", plan)
    assert keys and set(keys) == {"shard"}, f"unexpected exchange keys: {keys}"
    # the hash-exchange node block must not carry the text column
    blocks = [b for b in plan.split("\n\n")
              if "hashpartitioning(shard" in b]
    assert blocks, "no hash exchange node found"
    for b in blocks:
        assert "text" not in b, f"document text entered the exchange:\n{b}"


def test_registry_wide_plan_discipline(spark):
    """Sweep EVERY driver-gated queries() entry's executed plan: no
    row-at-a-time Python UDF (BatchEvalPython) anywhere, NO
    CartesianProduct anywhere (round-7: the O(N^2) embedding_neardup
    exact baseline now lives in aux, so the driver window contains zero
    all-pairs plans), and BroadcastNestedLoopJoin only where the
    broadcast side is provably tiny: the exact-ANN baselines' literal
    query set, the IVF-family centroid tables (N_CELLS rows),
    and bm25's ONE-row corpus-stats aggregate.  Any new registry entry
    that regresses to a Python UDF or an accidental cartesian fails here
    before the driver ever sees it."""
    import __spark_entry__ as entry_mod
    bnlj_ok = {"ann_cosine_topk", "ann_ivf_topk", "semantic_dedup",
               "bm25_topk"}
    offenders = {}
    for name, fn in entry_mod.queries().items():
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        marks = [m for m in ("BatchEvalPython", "CartesianProduct",
                             "BroadcastNestedLoopJoin") if m in plan]
        if ("BatchEvalPython" in marks or "CartesianProduct" in marks
                or (marks and name not in bnlj_ok)):
            offenders[name] = marks
    assert not offenders, offenders


def test_aux_registry_plan_discipline(spark):
    """The aux registry gets the same sweep as the driver window, with
    the documented exceptions spelled out per query: CartesianProduct
    ONLY in embedding_neardup (the retained exact O(N^2) recall
    reference); BroadcastNestedLoopJoin only where the broadcast side
    is provably tiny (PQ codebook: 16 rows; ADC LUT: n_queries rows;
    DSIR totals/model map: 1 row each; corpus-stat one-row aggregates).
    Everything else: no Python UDFs, no cartesians, no BNLJ."""
    import __spark_entry__ as entry_mod
    cartesian_ok = {"embedding_neardup"}
    # exactly the queries whose plans carry a BNLJ today (measured);
    # anything new joining this set must justify its broadcast side
    bnlj_ok = {"embedding_neardup", "lm_perplexity", "ppl_buckets",
               "pq_encode", "ann_pq_topk", "ann_ivfadc_topk",
               "dsir_weights", "token_quantiles"}
    offenders = {}
    for name, fn in entry_mod.aux_queries().items():
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        marks = [m for m in ("BatchEvalPython", "CartesianProduct",
                             "BroadcastNestedLoopJoin") if m in plan]
        bad = ("BatchEvalPython" in marks
               or ("CartesianProduct" in marks and name not in cartesian_ok)
               or ("BroadcastNestedLoopJoin" in marks
                   and name not in bnlj_ok))
        if bad:
            offenders[name] = marks
    assert not offenders, offenders
