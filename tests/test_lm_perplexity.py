"""Bigram-LM perplexity scorer: known-corpus sanity, cross-engine
oracle gate, and the broadcast/no-Python plan shape."""

import duckdb
import pandas as pd

from closure_html_spark.spark import relational as R

SF = "/root/testdata/sf0.001"


def test_known_corpus_scores(spark, tmp_path, monkeypatch):
    """Two identical docs + one outlier: the repeated doc's bigrams all
    have count 2 so its avg NLL (and ppl) must be strictly lower than
    the outlier's, and every n_bigrams equals the doc's word count
    (start-symbol pair included)."""
    texts = ["the cat sat", "the cat sat", "zq xv bn"]
    p = str(tmp_path / "documents.parquet")
    pd.DataFrame({"doc_id": range(3), "text": texts}).to_parquet(p)
    monkeypatch.setattr(R, "LM_TOP_VOCAB", 50)
    rows = {r.doc_id: r for r in
            R.q_lm_perplexity(spark, str(tmp_path)).collect()}
    assert [rows[i].n_bigrams for i in range(3)] == [3, 3, 3]
    assert rows[0].avg_nll == rows[1].avg_nll
    assert rows[0].ppl < rows[2].ppl


def test_empty_doc_drops(spark, tmp_path, monkeypatch):
    """A whitespace-only doc has no bigrams and drops from the output."""
    p = str(tmp_path / "documents.parquet")
    pd.DataFrame({"doc_id": [0, 1], "text": ["a b", "   "]}).to_parquet(p)
    monkeypatch.setattr(R, "LM_TOP_VOCAB", 50)
    got = R.q_lm_perplexity(spark, str(tmp_path)).collect()
    assert [r.doc_id for r in got] == [0]


def test_plan_broadcast_no_python(spark):
    """Vocab mapping and model joins are all broadcast (no sort-merge on
    the exploded-pairs side) and the whole query is JVM-side."""
    df = R.q_lm_perplexity(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ppl_buckets_tertiles(spark):
    """Bucketing splits the corpus into near-equal tertiles with
    head.max <= middle.min <= tail ordering, and the cutoff row is
    broadcast (no sort-merge join)."""
    df = R.q_ppl_buckets(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    from pyspark.sql import functions as F
    counts = {r.bucket: r.n for r in
              df.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 500
    assert all(166 <= v <= 168 for v in counts.values()), counts


def test_oracle_sf0001(spark):
    got = R.q_lm_perplexity(spark, SF).toPandas()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF}/documents.parquet')")
    want = con.execute(R.ORACLE_LM_PERPLEXITY).df()
    assert len(got) == len(want) == 500
    m = got.merge(want, on="doc_id", suffixes=("_s", "_o"))
    assert (m.n_bigrams_s == m.n_bigrams_o).all()
    assert (m.avg_nll_s - m.avg_nll_o).abs().max() < 1e-9
    assert ((m.ppl_s - m.ppl_o).abs() / m.ppl_o).max() < 1e-9
