"""BPE trainer semantics on a tiny known corpus, plus the pinned
double-pass (one-pair fixed point) merge application semantics."""

from closure_html_spark.spark import relational as R


def _merges(spark, tmp_path, monkeypatch, texts, n_merges):
    import pandas as pd
    p = str(tmp_path / "documents.parquet")
    pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(p)
    monkeypatch.setattr(R, "BPE_MERGES", n_merges)
    monkeypatch.setattr(R, "BPE_TOP_WORDS", 50)
    return R.q_bpe_merges(spark, str(tmp_path)).collect()


def test_known_corpus_merges(spark, tmp_path, monkeypatch):
    """'low' x3 + 'lower' x1: highest pair is (l,o) count 4, then
    (lo,w) count 4 after the merge, then w</w> from the three 'low's."""
    got = _merges(spark, tmp_path, monkeypatch, ["low low low lower"], 3)
    assert [(r.step, r.pair_left, r.pair_right, r.merged, r.pair_count)
            for r in got] == [
        (1, "l", "o", "lo", 4),
        (2, "lo", "w", "low", 4),
        (3, "low", "</w>", "low</w>", 3),
    ]


def test_tie_break_lexicographic(spark, tmp_path, monkeypatch):
    """'ab cd' once: all pairs have count 1; (a,b) wins the (left,right)
    ascending tie-break over (b,</w>), (c,d), (d,</w>)."""
    [r] = _merges(spark, tmp_path, monkeypatch, ["ab cd"], 1)
    assert (r.pair_left, r.pair_right) == ("a", "b")


def test_tokenize_applies_merges(spark, tmp_path, monkeypatch):
    """'low low low lower' with 3 merges (lo, low, low</w>): 'low'
    tokenizes to [low</w>] (1 token), 'lower' to [low, e, r, </w>]
    (4 tokens) -> 4 words, 7 BPE tokens.  Also pins that the merge
    table rides as literal REPLACEs (no Python eval in the plan)."""
    import pandas as pd
    p = str(tmp_path / "documents.parquet")
    pd.DataFrame({"doc_id": [0], "text": ["low low low lower"]}).to_parquet(p)
    monkeypatch.setattr(R, "BPE_MERGES", 3)
    monkeypatch.setattr(R, "BPE_TOP_WORDS", 50)
    df = R.q_bpe_tokenize(spark, str(tmp_path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    [r] = df.collect()
    assert (r.doc_id, r.n_words, r.n_bpe_tokens) == (0, 4, 7)


def test_tokenize_oracle_sf0001(spark):
    """Cross-engine gate for the registry-external operator: Spark vs
    the DuckDB replay (full merge-derivation CTE chain + nested
    REPLACE application) at sf0.001."""
    import duckdb
    sf = "/root/testdata/sf0.001"
    got = R.q_bpe_tokenize(spark, sf).toPandas()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    want = con.execute(R.ORACLE_BPE_TOKENIZE).df()
    assert len(got) == len(want) == 500
    m = got.merge(want, on="doc_id", suffixes=("_s", "_o"))
    assert (m.n_words_s == m.n_words_o).all()
    assert (m.n_bpe_tokens_s == m.n_bpe_tokens_o).all()


def test_self_pair_run_canonical(spark, tmp_path, monkeypatch):
    """Self-pair runs under the double-pass replace match canonical
    greedy BPE: 'aaaa' with pair (a,a) leaves [aa, aa, </w>] -- pass 1
    merges the 1st occurrence (consuming the shared space), pass 2 the
    remaining one.  The pair COUNT is the standard overlapping count
    (3 in 'aaaa').  Cross-engine identity is what the oracle gate pins."""
    got = _merges(spark, tmp_path, monkeypatch, ["aaaa"], 2)
    assert (got[0].pair_left, got[0].pair_right, got[0].pair_count) == ("a", "a", 3)
    # step 2 sees symbols [aa, aa, </w>]: pairs (aa,aa), (aa,</w>)
    # both count 1 -> tie-break picks (aa,</w>) ('<' sorts before 'a')
    assert (got[1].pair_left, got[1].pair_right) == ("aa", "</w>")


def test_adjacent_pair_fixed_point(spark, tmp_path, monkeypatch):
    """Round-6 ADVICE: ' x y x y ' must merge BOTH occurrences -- the
    single-pass replace consumed the shared delimiter space and left
    the second occurrence unmerged.  The double pass reaches canonical
    greedy application: 'xyxy' -> [xy, xy, </w>]."""
    got = _merges(spark, tmp_path, monkeypatch, ["xyxy"], 2)
    assert (got[0].pair_left, got[0].pair_right, got[0].merged) == ("x", "y", "xy")
    # after merging (x,y) TWICE, step 2 sees [xy, xy, </w>]:
    # pairs (xy,xy) and (xy,</w>) count 1; '<' < 'a' so (xy,</w>) wins
    assert (got[1].pair_left, got[1].pair_right) == ("xy", "</w>")
