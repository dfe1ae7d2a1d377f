"""Eval-overlap decontamination: plan shape (broadcast eval grams, no
corpus-sized exchange) and non-vacuity (the gate split actually catches
contamination on the test corpus, so the join/count path is exercised)."""

import re

import pyspark.sql.functions as F

from closure_html_spark.spark import relational as R

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_decontaminate_plan(spark):
    """Eval grams broadcast; train grams never cross a wide exchange.
    The only hash exchanges are the tiny eval-side gram dedup and the
    matched-rows doc count -- never the train gram stream itself."""
    plan = plan_of(R.q_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    keys = set(re.findall(r"hashpartitioning\((\w+)#", plan))
    assert keys <= {"gram", "doc_id"}, keys


def test_decontaminate_nonvacuous(spark):
    """The deterministic split must flag real contamination on testdata --
    otherwise the gate is a vacuous empty-vs-empty compare."""
    rows = R.q_decontaminate(spark, SF).collect()
    assert len(rows) >= 1
    assert all(r.n_shared_grams >= 1 for r in rows)


def test_decontaminate_clean_complement(spark):
    """clean = train docs minus flagged docs, exactly."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_train = docs.filter(F.col("doc_id") % 7 != 0).count()
    flagged = R.q_decontaminate(spark, SF).count()
    kept = R.q_decontaminate_clean(spark, SF).count()
    assert kept == n_train - flagged
    # and no flagged doc survives
    clean_ids = {r.doc_id for r in
                 R.q_decontaminate_clean(spark, SF).select("doc_id").collect()}
    bad_ids = {r.doc_id for r in
               R.q_decontaminate(spark, SF).select("doc_id").collect()}
    assert not (clean_ids & bad_ids)


def test_fuzzy_catches_what_exact_misses(spark, tmp_path, monkeypatch):
    """A train doc that paraphrases an eval doc -- every 8-gram broken by
    a word swap, but most trigram shingles intact -- must be INVISIBLE
    to the exact scrub and FLAGGED by the fuzzy one; an unrelated train
    doc stays clean in both.  Eval side rides broadcast joins."""
    from pyspark.sql import functions as F
    from closure_html_spark.spark import relational as R
    base = ("the quick brown fox jumps over the lazy dog while seven "
            "wizards brew strong potions beneath the ancient stone "
            "bridge at midnight during the long winter festival")
    words = base.split()
    # swap one word every 6 so no 8 consecutive words survive, but
    # most length-3 windows do
    para = list(words)
    for i in range(5, len(para), 6):
        para[i] = para[i].upper()
    rows = [
        (0, base, "en"),                      # eval (doc_id % 7 == 0)
        (1, " ".join(para), "en"),            # paraphrased train doc
        (2, "completely unrelated text about spark query planning "
            "and shuffle partitions in distributed execution engines "
            "with adaptive optimization and columnar storage formats",
         "en"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    exact = {r["doc_id"]
             for r in R.q_decontaminate(spark, str(tmp_path)).collect()}
    assert 1 not in exact, "8-gram scrub should miss the paraphrase"
    monkeypatch.setattr(R, "EST_JACCARD_MIN", 0.3)
    fuzzy = {r["doc_id"]: r for r in
             R.q_decontaminate_fuzzy(spark, str(tmp_path)).collect()}
    assert 1 in fuzzy, "fuzzy scrub must flag the paraphrase"
    assert 2 not in fuzzy
    assert fuzzy[1]["max_est_jaccard"] >= 0.3
    plan = (R.q_decontaminate_fuzzy(spark, str(tmp_path))
            ._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, "eval side must broadcast"
