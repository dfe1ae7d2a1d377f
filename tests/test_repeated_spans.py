"""Exact-substring dedup primitive (Lee et al. 2022 style): repeated
w-word windows across docs + per-doc duplicate coverage."""

import duckdb
import pandas as pd
import pytest

from closure_html_spark.spark import relational as R

SF = "/root/testdata/sf0.001"


def test_known_spans_and_coverage(spark, tmp_path, monkeypatch):
    """Docs 0 and 1 share the 4-word window 'a b c d' (doc 1 shifted by
    one leading word); doc 2 is disjoint.  Coverage must union the
    overlapping windows of a run, not double-count."""
    texts = ["a b c d e f", "x a b c d e", "p q r s t u"]
    p = str(tmp_path / "documents.parquet")
    pd.DataFrame({"doc_id": range(3), "text": texts}).to_parquet(p)
    monkeypatch.setattr(R, "SPAN_W", 4)
    spans = R.q_repeated_spans(spark, str(tmp_path)).collect()
    # shared 4-grams: 'a b c d' (doc0 pos0 / doc1 pos1) and 'b c d e'
    # (doc0 pos1 / doc1 pos2)
    assert [(r.doc_id, r.pos, r.n_docs) for r in spans] == [
        (0, 0, 2), (0, 1, 2), (1, 1, 2), (1, 2, 2)]
    cov = {r.doc_id: (r.n_tokens, r.dup_tokens)
           for r in R.q_dup_coverage(spark, str(tmp_path)).collect()}
    # doc0: windows [0,4)+[1,5) union = [0,5) = 5 tokens of 6
    # doc1: windows [1,5)+[2,6) union = [1,6) = 5 tokens of 6
    assert cov == {0: (6, 5), 1: (6, 5), 2: (6, 0)}


def test_within_doc_repeat_not_flagged(spark, tmp_path, monkeypatch):
    """A window repeated INSIDE one doc only (min_docs=2 distinct docs)
    must not be reported."""
    p = str(tmp_path / "documents.parquet")
    pd.DataFrame({"doc_id": [0, 1],
                  "text": ["a b c a b c", "z z z z"]}).to_parquet(p)
    monkeypatch.setattr(R, "SPAN_W", 3)
    assert R.q_repeated_spans(spark, str(tmp_path)).count() == 0


def test_span_clean_ownership(spark, tmp_path, monkeypatch):
    """Doc 0 owns the shared window (first occurrence) and keeps its
    text byte-identical; doc 1 loses the covered run; a fully-duplicated
    doc rewrites to the empty string."""
    texts = ["a b c d e f",      # owner of 'a b c d' and 'b c d e'
             "x a b c d e",      # loses [1,6) -> keeps 'x'
             "a b c d"]          # fully covered -> ''
    p = str(tmp_path / "documents.parquet")
    pd.DataFrame({"doc_id": range(3), "text": texts}).to_parquet(p)
    monkeypatch.setattr(R, "SPAN_W", 4)
    rows = {r.doc_id: r for r in
            R.q_repeated_span_clean(spark, str(tmp_path)).collect()}
    assert (rows[0].n_removed, rows[0].clean_text) == (0, "a b c d e f")
    assert (rows[1].n_removed, rows[1].clean_text) == (5, "x")
    assert (rows[2].n_removed, rows[2].clean_text) == (4, "")


def test_plan_hash_keyed_no_python(spark):
    """Every hash exchange is keyed on the portable hash pair -- the
    window text is projected away before any shuffle -- and the whole
    query is JVM-side."""
    df = R.q_repeated_spans(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    hash_ex = [l for l in plan.splitlines()
               if "Exchange hashpartitioning" in l]
    assert hash_ex and all("h_hi" in l for l in hash_ex)


def _brute_force(texts, w):
    """Pure-Python reference over GRAM STRINGS (not hashes -- also
    falsifies any md5-pair collision): spans, coverage, clean."""
    grams = {}          # gram -> [(doc, pos), ...]
    words = [t.split() for t in texts]
    for d, ws in enumerate(words):
        for p in range(len(ws) - w + 1):
            grams.setdefault(" ".join(ws[p:p + w]), []).append((d, p))
    spans, removed = [], {d: set() for d in range(len(texts))}
    for occs in grams.values():
        docs = {d for d, _ in occs}
        if len(docs) < 2:
            continue
        owner = min(occs)
        for d, p in occs:
            spans.append((d, p, len(docs)))
            if (d, p) != owner:
                removed[d].update(range(p, p + w))
    cover = {d: set() for d in range(len(texts))}
    for d, p, _ in spans:
        cover[d].update(range(p, p + w))
    clean = {d: " ".join(x for i, x in enumerate(words[d])
                         if i not in removed[d]) if removed[d] else texts[d]
             for d in range(len(texts))}
    return (sorted(spans), {d: len(c) for d, c in cover.items()},
            {d: len(r) for d, r in removed.items()}, clean)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_random_corpus_vs_brute_force(spark, tmp_path, monkeypatch, seed):
    """Seeded random corpora over a 6-word vocabulary (dense window
    collisions) differentially checked against the brute-force
    reference -- spans, coverage, n_removed, and clean_text."""
    import random
    rng = random.Random(seed)
    vocab = ["a", "b", "c", "d", "e", "f"]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(0, 14)))
             for _ in range(30)]
    p = str(tmp_path / "documents.parquet")
    pd.DataFrame({"doc_id": range(30), "text": texts}).to_parquet(p)
    w = 3
    monkeypatch.setattr(R, "SPAN_W", w)
    exp_spans, exp_cov, exp_rm, exp_clean = _brute_force(texts, w)
    got_spans = sorted((r.doc_id, r.pos, r.n_docs) for r in
                       R.q_repeated_spans(spark, str(tmp_path)).collect())
    assert got_spans == exp_spans
    cov = {r.doc_id: r.dup_tokens for r in
           R.q_dup_coverage(spark, str(tmp_path)).collect()}
    assert cov == exp_cov
    cl = {r.doc_id: (r.n_removed, r.clean_text) for r in
          R.q_repeated_span_clean(spark, str(tmp_path)).collect()}
    assert cl == {d: (exp_rm[d], exp_clean[d]) for d in range(30)}


def test_oracle_sf0001(spark):
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF}/documents.parquet')")
    for fn, osql in [(R.q_repeated_spans, R.ORACLE_REPEATED_SPANS),
                     (R.q_dup_coverage, R.ORACLE_DUP_COVERAGE),
                     (R.q_repeated_span_clean, R.ORACLE_REPEATED_SPAN_CLEAN)]:
        got = fn(spark, SF).toPandas().reset_index(drop=True)
        want = con.execute(osql).df().reset_index(drop=True)
        assert len(got) == len(want) > 0
        assert got.astype(str).equals(want.astype(str))
    # non-vacuity: testdata must actually contain cross-doc repeats
    assert R.q_repeated_spans(spark, SF).count() > 0
