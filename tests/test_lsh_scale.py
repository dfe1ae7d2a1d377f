"""LSH scale-parameterization audits: the banded RHP paths must generate
candidate pairs LINEAR in N under the lsh_band_bits sizing rule, with
bucket occupancy matching the rule's 2^10-rows/bucket model -- otherwise
the "scale path" silently degenerates to the crossJoin it replaces."""

from pyspark.sql import functions as F

import pytest

from closure_html_spark.spark import relational as R
from closure_html_spark.spark.relational import (
    _parquet_n_rows,
    _rhp_bands_np,
    lsh_band_bits,
)


def test_connected_components(spark, monkeypatch):
    """Both paths (the default gate labels on the driver, gate 0 runs
    large-star/small-star) label a multi-component graph, and an id that
    only has a self-pair, with each component's min id."""
    # a triangle {0,1,2}, a chain {10..13} and a self-pair
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (12, 13), (20, 20)],
        "a_id long, b_id long")
    empty = spark.createDataFrame([], "a_id long, b_id long")
    for gate in (R.CC_DRIVER_MAX_PAIRS, 0):
        monkeypatch.setattr(R, "CC_DRIVER_MAX_PAIRS", gate)
        got = {(r["id"], r["label"])
               for r in R.connected_components(pairs).collect()}
        assert got == {(0, 0), (1, 0), (2, 0),
                       (10, 10), (11, 10), (12, 10), (13, 10), (20, 20)}
        assert R.connected_components(empty).collect() == []


def _path_graph(spark, ids):
    return spark.createDataFrame(
        [(int(ids[i]), int(ids[i + 1])) for i in range(len(ids) - 1)],
        "a_id long, b_id long")


@pytest.mark.parametrize("order", ["ascending", "shuffled"])
def test_connected_components_path_graph_driver(spark, order):
    """No diameter cap: a 10,000-node path (diameter 9,999) converges to
    one component labelled 0 on the driver path, ids in path order or
    shuffled."""
    import numpy as np
    ids = np.arange(10_000)
    if order == "shuffled":
        np.random.default_rng(7).shuffle(ids)
    got = R.connected_components(_path_graph(spark, ids)).collect()
    assert len(got) == 10_000
    assert {r["label"] for r in got} == {0}


def test_connected_components_path_graph_star(spark, monkeypatch):
    """No diameter cap on the large-star/small-star path either: a
    shuffled 1,000-node path converges to one component labelled 0."""
    import numpy as np
    monkeypatch.setattr(R, "CC_DRIVER_MAX_PAIRS", 0)
    ids = np.arange(1_000)
    np.random.default_rng(11).shuffle(ids)
    got = R.connected_components(_path_graph(spark, ids)).collect()
    assert len(got) == 1_000
    assert {r["label"] for r in got} == {0}


def test_np_min_labels_matches_reference():
    """The driver union-find equals a plain Python union-find on random
    multigraphs (duplicate pairs, self-pairs, both orientations)."""
    import numpy as np
    rng = np.random.default_rng(5)
    for _ in range(200):
        n = int(rng.integers(1, 60))
        m = int(rng.integers(1, 90))
        a, b = rng.integers(0, n, m) * 3, rng.integers(0, n, m) * 3
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                x = parent[x]
            return x
        for x, y in zip(a.tolist(), b.tolist()):
            rx, ry = find(x), find(y)
            parent[max(rx, ry)] = min(rx, ry)
        ids, labels = R._np_min_labels(a, b)
        assert dict(zip(ids.tolist(), labels.tolist())) == \
            {x: find(x) for x in parent}


def test_parquet_n_rows_matches_table(spark, sf_dir):
    """The footer-statistics N (used by the self-sizing ANN queries so no
    hidden count() job runs) must equal the true row count."""
    n_meta = _parquet_n_rows(sf_dir, "embeddings")
    n_true = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert n_meta == n_true
    assert _parquet_n_rows(sf_dir, "no_such_table") is None


def test_parquet_n_rows_unreadable_footer(sf_dir, tmp_path):
    """A truncated parquet file has no footer to read: the footer count is
    None, so _embeddings_n_rows falls back to the frame's count()."""
    with open(f"{sf_dir}/embeddings.parquet", "rb") as f:
        head = f.read(512)
    (tmp_path / "embeddings.parquet").write_bytes(head)
    assert _parquet_n_rows(str(tmp_path), "embeddings") is None

    class Counted:
        def count(self):
            return 7
    assert R._embeddings_n_rows(Counted(), str(tmp_path)) == 7


def test_lsh_band_bits_sizing_rule():
    # floor at small N (the sf-scale fixtures), log growth, compile-bound cap
    assert lsh_band_bits(0) == 4
    assert lsh_band_bits(500) == 4
    assert lsh_band_bits(10**6) == 10
    assert lsh_band_bits(10**9) == 20
    assert lsh_band_bits(10**12) == 20  # capped: see docstring
    # the rule keeps expected occupancy ~2^10, so the analytic candidate
    # ratio n_bands * occupancy / N vanishes as N grows
    for n in (10**7, 10**8, 10**9):
        bb = lsh_band_bits(n)
        occupancy = n / 2**bb
        assert occupancy <= 2**10
        assert 8 * occupancy / n < 1e-3, "candidates not << N^2"


def test_lsh_bucket_occupancy_and_candidate_count(spark):
    """Empirical check at a synthetic N: observed bucket occupancy and the
    implied candidate-pair count must match the sizing model (no hidden
    skew: RHP over random vectors should fill buckets near-uniformly)."""
    N, n_bands = 20_000, R.RHP_BANDS
    bb = lsh_band_bits(N)
    assert bb == 5
    emb = F.array(*[F.rand(seed=i) - F.lit(0.5) for i in range(64)])
    df = spark.range(N).select(F.col("id").alias("vec_id"),
                               emb.cast("array<float>").alias("embedding"))
    # the band builder every RHP query uses
    banded = _rhp_bands_np(df, bb)
    occ = (banded.groupBy("bk")
           .agg(F.count(F.lit(1)).alias("c"))
           .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("pairs"),
                F.max("c").alias("max_c"),
                F.count(F.lit(1)).alias("n_buckets"))
           .collect()[0])
    expected_occupancy = N / 2**bb
    # candidate pairs ~ n_bands * N * occupancy / 2 (linear-in-N model);
    # x3 slack for bucket imbalance of random projections
    model = n_bands * N * expected_occupancy / 2
    assert occ["pairs"] <= 3 * model, \
        f"candidates {occ['pairs']} blow the occupancy model {model}"
    # no degenerate hot bucket (skew would resurrect the N^2 join)
    assert occ["max_c"] <= 8 * expected_occupancy
    # and the model itself is far below all-pairs at this N
    assert occ["pairs"] < 0.5 * N * (N - 1) / 2


def test_lsh_hot_bucket_guard(spark, tmp_path, monkeypatch):
    """Degenerate skew fixture: every vector IDENTICAL, so the whole table
    lands in ONE (band, val) bucket per band and the uncapped self-join is
    the full clique C(N,2) -- exactly the within-bucket N^2 the sizing
    rule cannot prevent (the default MAX_BUCKET is above N).  The cap
    keeps the lowest-vec_id MAX_BUCKET members per bucket; identical
    vectors keep the SAME members in every band, so the result (all pairs
    at sim 1.0 >= threshold) is exactly C(MAX_BUCKET, 2): bounded,
    deterministic, and the mega-cluster keeps its kept-member core."""
    from closure_html_spark.spark import relational as R
    N, cap = 400, 30
    df = spark.range(N).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(0.37)] * 64).cast("array<float>").alias("embedding"))
    df.write.parquet(str(tmp_path / "embeddings.parquet"))
    assert R.MAX_BUCKET > N
    assert lsh_band_bits(N) == 4
    uncapped = R.q_embedding_neardup_lsh(spark, str(tmp_path)).count()
    assert uncapped == N * (N - 1) // 2, "skew fixture lost its hot bucket"
    monkeypatch.setattr(R, "MAX_BUCKET", cap)
    capped = R.q_embedding_neardup_lsh(spark, str(tmp_path)).count()
    assert capped == cap * (cap - 1) // 2


def test_minhash_hot_bucket_guard(spark, tmp_path, monkeypatch):
    """MinHash twin of test_lsh_hot_bucket_guard: a mega-dup cluster of
    byte-identical documents has ONE signature, so every band bucket holds
    the whole corpus and the uncapped band self-join is C(N,2) -- the
    within-bucket N^2 that banding cannot prevent.  The cap keeps the
    lowest-doc_id members; identical docs keep the SAME members in every
    band, so the estimated pairs (est_jaccard 1.0 >= threshold) are
    exactly C(cap,2) and the cluster keeps its kept-member core."""
    from closure_html_spark.spark import relational as R
    N, cap = 400, 30
    df = spark.range(N).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate error page text").alias("text"))
    df.write.parquet(str(tmp_path / "documents.parquet"))
    assert R.MAX_BUCKET > N
    uncapped = R.q_minhash_est_pairs(spark, str(tmp_path)).count()
    assert uncapped == N * (N - 1) // 2, "skew fixture lost its hot bucket"
    monkeypatch.setattr(R, "MAX_BUCKET", cap)
    capped = R.q_minhash_est_pairs(spark, str(tmp_path)).count()
    assert capped == cap * (cap - 1) // 2


def test_pq_encode_properties(spark):
    """Product-quantization audit (q_pq_encode): (a) a vector that IS a
    sub-centroid donor reconstructs itself exactly (qerr == 0 on every
    subspace); (b) every emitted code is a real centroid id; (c) round-8
    shape: the bounded codebook rides the numpy kernel's closure --
    embeddings stream through ONE MapInArrow pass with no join and no
    hash exchange at all (the r7 shape was a broadcast crossJoin + one
    groupBy argmin pass; the argmin is now an array_min projection)."""
    from closure_html_spark.spark import relational as R
    SF = "/root/testdata/sf0.001"
    df = R.q_pq_encode(spark, SF)
    rows = df.collect()
    n = R._parquet_n_rows(SF, "embeddings")
    assert len(rows) == n
    import math
    step = max(1, math.ceil(n / 16))
    cent_ids = {i for i in range(0, n, step)}
    code_cols = [c for c in df.columns if c.startswith("code")]
    assert len(code_cols) == 8
    for r in rows:
        for c in code_cols:
            assert r[c] in cent_ids, f"code {r[c]} not a centroid id"
    by_id = {r["vec_id"]: r for r in rows}
    for cid in cent_ids:
        r = by_id[cid]
        assert r["qerr"] == 0.0, f"centroid {cid} qerr {r['qerr']}"
        assert all(r[c] == cid for c in code_cols), \
            f"centroid {cid} codes {[r[c] for c in code_cols]}"
    # AQE toString prints Final + Initial sections; audit the final one
    plan = df._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    # the encode is a pure map (numpy kernel + array_min projection,
    # materialized once before the oracle orderBy): the visible plan is a
    # sort over the checkpointed RDD -- no join of the codebook, no hash
    # exchange anywhere (the r7 shape was a broadcast crossJoin + a
    # groupBy argmin exchange)
    assert "MapInArrow" in plan or "Scan ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan and "Join" not in plan, \
        "codebook must ride the kernel closure, not a join"
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_ann_pq_adc_and_rerank(spark):
    """ADC search audit (q_ann_pq_topk): (a) plain ADC hashes against
    its DuckDB oracle (covered by the aux replay; here we pin shape);
    (b) the LUT rides a broadcast (no shuffle of the codes side before
    the top-k window)."""
    from closure_html_spark.spark import relational as R
    SF = "/root/testdata/sf0.001"
    plain = R.q_ann_pq_topk(spark, SF)
    plan = plain._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan, "LUT join not broadcast"


def test_ivfadc_candidate_pruning(spark, monkeypatch):
    """IVFADC audit: the scored candidate set must be exactly the probed
    cells' population (minus self) -- i.e. the coarse quantizer really
    prunes, no silent fallback to a full scan -- and the top-k is the
    ADC ranking restricted to those candidates."""
    import duckdb
    from closure_html_spark.spark import relational as R
    SF = "/root/testdata/sf0.001"
    n = R._parquet_n_rows(SF, "embeddings")
    got = R.q_ann_ivfadc_topk(spark, SF).collect()
    assert len(got) == 15
    # per-query candidate count from the oracle's cand CTE: strictly
    # sublinear (4 of 16 cells ~= 25% of the corpus at this toy scale)
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{SF}/embeddings.parquet')")
    sql = R.ORACLE_ANN_IVFADC
    cand_sql = sql[:sql.index("pqstep")].rstrip().rstrip(",") + \
        "\nSELECT q_id, COUNT(*) AS n FROM cand GROUP BY q_id"
    for q_id, n_cand in con.execute(cand_sql).fetchall():
        assert 0 < n_cand < 0.6 * n, (q_id, n_cand, n)
    # the ADC scores of the returned rows agree with the plain-ADC
    # ranking restricted to the candidate set (same LUT conventions)
    monkeypatch.setattr(R, "TOP_K", n)
    full = {(r["q_id"], r["vec_id"]): r["adist"]
            for r in R.q_ann_pq_topk(spark, SF).collect()}
    for r in got:
        key = (r["q_id"], r["vec_id"])
        assert key in full and full[key] == r["adist"], key


def _emb_broadcast_blocks(plan: str) -> list[str]:
    """Input lists of every BroadcastExchange in a formatted plan that
    carry an embedding column."""
    import re
    blocks = re.findall(r"\(\d+\) BroadcastExchange\nInput \[\d+\]: (\[.*\])",
                        plan)
    return [b for b in blocks if "emb" in b]


def test_rerank_above_broadcast_gate_matches(spark, monkeypatch):
    """The scale fallbacks of the embedding family, forced at sf0.001: a
    gate of 0 sends _cosine_rerank down the normed equi-join path and
    makes _local_emb_table return None, so the bounded query/centroid
    sides are collected through Spark.  Every query must return the rows
    of its default run.  Past the gate no broadcast may carry embeddings:
    with automatic broadcast joins off, a BroadcastExchange holding an
    embedding column can only come from an explicit hint on a table the
    gate has just judged too big to ship."""
    from closure_html_spark.spark import relational as R
    sf = "/root/testdata/sf0.001"
    runs = {
        "embedding_neardup_lsh": R.q_embedding_neardup_lsh,
        "ann_lsh_topk": R.q_ann_lsh_topk,
        "ann_ivf_topk": R.q_ann_ivf_topk,
        "semantic_dedup": R.q_semantic_dedup,
        "ann_cosine_topk": R.q_ann_cosine_topk,
    }
    default = {name: sorted(q(spark, sf).collect())
               for name, q in runs.items()}
    assert default["embedding_neardup_lsh"] and default["semantic_dedup"]
    monkeypatch.setattr(R, "_EMB_BCAST_MAX_BYTES", 0)
    assert R._local_emb_table(sf) is None
    for name, q in runs.items():
        assert sorted(q(spark, sf).collect()) == default[name], name
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        for name in ("ann_lsh_topk", "ann_ivf_topk"):
            df = runs[name](spark, sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            assert "BroadcastExchange" in plan, name
            assert _emb_broadcast_blocks(plan) == [], name
    finally:
        spark.conf.set(key, old)


def test_non_local_sf_dir_fallbacks(spark, sf_dir, monkeypatch):
    """A `file://` sf_dir is no local path to _parquet_files, so the scale
    fallbacks run at sf0.001: q_tfidf_topk and _embeddings_n_rows count
    the rows with a count() job, and _emb_subset and _emb_matrix_bcast
    collect the vectors through Spark.  Every query must return the rows
    of its local-path run."""
    import os

    from closure_html_spark.spark import relational as R
    sf = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    uri = "file://" + sf
    assert R._parquet_n_rows(uri, "documents") is None
    assert R._local_emb_table(uri) is None
    # query -> the count()/toArrow() calls its fallbacks make: the row
    # count, then (embedding queries) the broadcast matrix, and for
    # semantic_dedup first its centroid subset
    runs = {
        "tfidf_topk": (R.q_tfidf_topk, ["count"]),
        "embedding_neardup_lsh": (R.q_embedding_neardup_lsh,
                                  ["count", "toArrow"]),
        "semantic_dedup": (R.q_semantic_dedup,
                           ["count", "toArrow", "toArrow"]),
    }
    local = {name: sorted(q(spark, sf).collect())
             for name, (q, _) in runs.items()}
    assert all(local.values())
    calls = []
    frame_cls = type(spark.range(1))
    for method in ("count", "toArrow"):
        real = getattr(frame_cls, method)
        monkeypatch.setattr(
            frame_cls, method,
            lambda self, _m=method, _f=real: calls.append(_m) or _f(self))
    for name, (q, want) in runs.items():
        del calls[:]
        assert sorted(q(spark, uri).collect()) == local[name], name
        assert calls == want, (name, calls)


def test_embedding_queries_read_local_table_once(spark, sf_dir, monkeypatch):
    """Every embedding query that cuts a bounded side or a broadcast
    matrix from the local embeddings.parquet reads that file exactly
    once: the caller's _local_emb_table result is handed to _emb_subset
    and _cosine_rerank rather than read again by each."""
    import os

    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    sf = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    registry = {**entry.queries(), **entry.aux_queries()}
    reads = []
    real = pq.read_table
    monkeypatch.setattr(
        pq, "read_table", lambda *a, **kw: reads.append(a) or real(*a, **kw))
    got = {}
    for name in ("ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk",
                 "embedding_neardup_lsh", "semantic_dedup", "ann_pq_topk",
                 "ann_ivfadc_topk"):
        del reads[:]
        registry[name](spark, sf)
        got[name] = len(reads)
    assert got == dict.fromkeys(got, 1), got


def test_rerank_prefilter_at_the_rounding_edge(spark, monkeypatch):
    """_cosine_rerank(min_sim=COSINE_MIN) drops raw cosines below
    min_sim - 1e-6 before the 6-place round; it must return exactly the
    rows of the unfiltered rerank followed by the sim >= COSINE_MIN
    filter.  Synthetic pairs put raw cosines on both sides of 0.3999995
    (the HALF_UP edge of round(raw, 6) >= 0.4) and on both sides of the
    prefilter cut, plus a repeated pair and a NaN cosine, which Spark
    orders above every number.  Checked on the broadcast-matrix path and,
    with the gate at 0, on the normed equi-join path."""
    import numpy as np
    edge = 0.3999995
    cs = [edge + k * 1.5e-8 for k in range(-40, 41)] + [
        0.399999, 0.3999985, 0.5, 0.1]
    vecs = [np.eye(1, R._EMB_DIM, dtype=np.float32)[0]]
    for c in cs:
        v = np.zeros(R._EMB_DIM, dtype=np.float32)
        v[0], v[1] = c, np.sqrt(1.0 - c * c)
        vecs.append(v)
    nan = np.full(R._EMB_DIM, np.nan, dtype=np.float32)
    m = np.asarray(vecs, dtype=np.float64)
    norms = np.sqrt(R._np_seq_dot(m, m))
    raw = R._np_seq_dot(np.broadcast_to(m[0], m.shape), m) / (norms[0] *
                                                               norms)
    cut = R.COSINE_MIN - 1e-6
    assert any(edge < r < edge + 1e-7 for r in raw)
    assert any(edge - 1e-7 < r < edge for r in raw)
    assert any(cut <= r < edge for r in raw)
    assert any(r < cut for r in raw[1:])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs + [nan])],
        "vec_id long, embedding array<float>")
    n = len(vecs) + 1
    dup = 1 + cs.index(0.5)
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, n)] + [(0, dup)], "a_id long, b_id long")
    from pyspark.sql import functions as F

    def rows(df):  # repr: a NaN sim equals itself
        return sorted((r["a_id"], r["b_id"], repr(r["sim"]))
                      for r in df.collect())
    for gate in (R._EMB_BCAST_MAX_BYTES, 0):
        monkeypatch.setattr(R, "_EMB_BCAST_MAX_BYTES", gate)
        every = R._cosine_rerank(pairs, emb, None, n)
        assert {r["sim"] for r in every.collect()} >= {0.4, 0.399999}
        want = rows(every.filter(F.col("sim") >= R.COSINE_MIN))
        got = rows(R._cosine_rerank(pairs, emb, None, n,
                                    min_sim=R.COSINE_MIN))
        assert got == want, gate
        ids = [b for _, b, _ in got]
        assert ids.count(dup) == 2
        assert n - 1 in ids and 0 < len(ids) < n
