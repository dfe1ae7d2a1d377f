"""Quality-classifier trainer: real learning on a separable text signal
(synthetic frame), non-constant predictions on the gate corpus, and the
no-wide-exchange plan shape of the gradient passes."""

import pyspark.sql.functions as F

from closure_html_spark.spark import relational as R

SF = "/root/testdata/sf0.001"

QUALITY = ("this is a clear and well formed sentence that has the usual "
           "words you would expect from a human written page of text")
JUNK = "@@ ## $$ %% ^^ && ** (( )) __ ++ == [[ ]] {{ }} || \\\\ ;; :: <<"


def test_learns_separable_signal(spark):
    """Stopword-rich prose vs symbol soup, labels = prose: the trainer
    must beat the base rate by a wide margin (here: separate
    perfectly), proving the GD arithmetic actually learns -- the gate
    corpus alone cannot show this as strongly."""
    rows = []
    for i in range(30):
        rows.append((i, QUALITY + f" extra word number {i}", 1))
        rows.append((100 + i, JUNK + f" {i}", 0))
    docs = spark.createDataFrame(rows, "doc_id long, text string, y int")
    feats = R._quality_features(docs, F.col("y") == 1)
    scored, w = R.train_quality_classifier(feats, iters=5)
    got = scored.collect()
    acc = sum(1 for r in got if r.pred == r.y) / len(got)
    assert acc >= 0.95, (acc, w)


def test_gate_predictions_not_constant(spark):
    """The gate label (n_words >= 50) must yield a non-degenerate
    classifier on testdata: both classes predicted, accuracy above the
    base rate (guards against the unlearnable-label trap: testdata's
    lang column is uncorrelated with its text)."""
    got = R.q_quality_classifier(spark, SF).collect()
    preds = {r.pred for r in got}
    assert preds == {0, 1}, preds
    acc = sum(1 for r in got if r.pred == r.y) / len(got)
    ys = sum(r.y for r in got) / len(got)
    base = max(ys, 1 - ys)
    assert acc >= base + 0.2, (acc, base)


def test_gradient_pass_plan(spark, monkeypatch):
    """Each training pass is a partial aggregation to ONE row: no
    Python, no join, no window in the scored plan (the CROSS JOIN
    exists only in the DuckDB oracle's unrolled replay)."""
    monkeypatch.setattr(R, "QC_ITERS", 1)
    df = R.q_quality_classifier(spark, SF)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan
    assert "Window" not in plan
