"""incremental_dedup: the exact_dup arm (testdata has zero exact text
duplicates, checked r6 -- so the gate query alone would leave this path
unexercised), status priority, the short-doc edge, and the plan shape
(index side never sort-merge-joined; batch frames broadcast)."""

import pyspark.sql.functions as F

from closure_html_spark.spark import relational as R

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = ("the quick brown fox jumps over the lazy dog and then "
        "runs far away into the deep dark forest tonight alone")


def test_exact_near_new_arms(spark):
    index = _docs(spark, [
        (1, BASE),
        (2, "completely different reference text with many plain words "
            "that never overlap the batch corpus at all here"),
        (3, "hi"),  # short doc: hash-indexed, but below the shingle floor
    ])
    batch = _docs(spark, [
        (101, BASE),                      # byte-identical -> exact_dup
        (102, BASE + " extra"),           # near-identical -> near_dup
        (103, "entirely novel content words nothing shared with index "
              "documents whatsoever in any way shape or form today"),
        (104, "hi"),                      # short + identical -> exact_dup
    ])
    got = {r.doc_id: r.status for r in R.incremental_dedup(
        index.union(batch), F.col("doc_id") >= 100).collect()}
    assert got == {101: "exact_dup", 102: "near_dup",
                   103: "new", 104: "exact_dup"}


def test_exact_wins_over_near(spark):
    """A doc that is byte-identical AND band-bucket-matched must report
    exact_dup (the CASE priority), not near_dup."""
    index = _docs(spark, [(1, BASE)])
    batch = _docs(spark, [(201, BASE)])
    [row] = R.incremental_dedup(index.union(batch),
                                F.col("doc_id") >= 100).collect()
    assert row.status == "exact_dup"


def test_incremental_plan_index_never_smj(spark):
    """Every batch-derived frame is broadcast: the index side must meet
    the batch via BroadcastHashJoin only -- a SortMergeJoin would mean
    the 100-TB index is being shuffled per ingest."""
    plan = plan_of(R.q_incremental_dedup(spark, SF))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_index_hot_bucket_cap(spark, monkeypatch):
    """Index-side twin of test_minhash_hot_bucket_guard: 400 byte-identical
    index docs share every band bucket, so a MAX_BUCKET of 30 trims each
    bucket to its 30 lowest doc_ids.  The near-identical batch doc still
    meets the kept members in the band it shares with them, so it is
    near_dup with the cap and without it (the default MAX_BUCKET is above
    400)."""
    index = _docs(spark, [(i, BASE) for i in range(400)])
    batch = _docs(spark, [(1000, BASE + " extra")])
    bands = R._minhash_banded(R._minhash_sigs(index))
    assert R.MAX_BUCKET > 400
    for cap in (None, 30):
        if cap is not None:
            monkeypatch.setattr(R, "MAX_BUCKET", cap)
        [row] = R.incremental_dedup(index.union(batch),
                                    F.col("doc_id") >= 1000).collect()
        assert row.status == "near_dup", cap
    capped = R._cap_buckets(bands, ["band", "bucket"], "doc_id")
    assert bands.count() == 4 * 400 and capped.count() == 4 * 30
