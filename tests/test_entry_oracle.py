"""Mini-driver: runs every queries() entry on Spark and compares with its
oracle_sql() on DuckDB, replicating the per-round correctness gate
(row count + schema-width + order-insensitive values)."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


@pytest.fixture(scope="module")
def ducks():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def normalize(df):
    """pandas frame -> sorted list of row tuples with column order by name,
    floats rounded for cross-engine comparison."""
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, float):
                if math.isnan(v):
                    row.append("nan")
                else:
                    row.append(round(v, 6))
            elif hasattr(v, "item"):
                row.append(v.item())
            else:
                row.append(v)
        rows.append(tuple(row))
    rows.sort(key=repr)
    return rows


QUERIES = sorted(entry_mod.queries().keys())
AUX = sorted(entry_mod.aux_queries().keys())


def test_registry_consistency():
    """Every oracle key must name a registered query (a stale oracle for a
    pruned query silently tests nothing), registries must not overlap, and
    every aux query must keep its oracle (aux exists ONLY to retain
    oracle coverage for gates pruned from the driver window)."""
    q, aux = set(QUERIES), set(AUX)
    assert not (q & aux), q & aux
    assert set(entry_mod.oracle_sql()) <= q, \
        set(entry_mod.oracle_sql()) - q
    assert set(entry_mod.aux_oracle_sql()) == aux


def _lookup(name):
    return {**entry_mod.queries(), **entry_mod.aux_queries()}[name], \
        {**entry_mod.oracle_sql(), **entry_mod.aux_oracle_sql()}.get(name)


@pytest.mark.parametrize("name", QUERIES + AUX)
def test_query_vs_oracle(spark, ducks, name):
    _assert_matches_oracle(spark, ducks, name)


def _assert_matches_oracle(spark, ducks, name):
    q, oracle = _lookup(name)
    sdf = q(spark, SF_DIR).toPandas()
    if oracle is None:
        assert len(sdf) >= 0  # rows-only check
        return
    odf = ducks.execute(oracle).fetchdf()
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} != {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns), \
        f"{name}: columns {sorted(sdf.columns)} != {sorted(odf.columns)}"
    srows, orows = normalize(sdf), normalize(odf)
    mism = [i for i, (a, b) in enumerate(zip(srows, orows)) if a != b][:5]
    assert not mism, (
        f"{name}: first mismatches: "
        + "; ".join(f"spark={srows[i]} oracle={orows[i]}" for i in mism))


# connected_components' gate at 0 (every graph runs large-star/small-star)
# and at its largest value (every graph is labelled on the driver): the
# largest gate for which the collect's limit(gate + 1) is still a Java int
CC_GATES = {"star": 0, "driver": 2**31 - 2}


@pytest.mark.parametrize("path", sorted(CC_GATES))
@pytest.mark.parametrize(
    "name", ["text_dedup_clusters", "text_dedup_clean", "neardup_clusters"])
def test_cc_paths_match_oracles(spark, ducks, monkeypatch, path, name):
    """Both connected_components paths replay the recursive-closure
    oracles of the three clustering queries; the spies prove which path
    labelled the graph."""
    from closure_html_spark.spark import relational as R
    calls = {"star": 0, "driver": 0}

    def spy(which, fn):
        def wrapped(*args):
            calls[which] += 1
            return fn(*args)
        return wrapped

    monkeypatch.setattr(R, "CC_DRIVER_MAX_PAIRS", CC_GATES[path])
    monkeypatch.setattr(R, "_star_components",
                        spy("star", R._star_components))
    monkeypatch.setattr(R, "_np_min_labels", spy("driver", R._np_min_labels))
    _assert_matches_oracle(spark, ducks, name)
    assert calls == {"star": 0, "driver": 0, path: 1}


# every registered query that runs a numpy kernel of relational.py
KERNEL_QUERIES = ["ann_cosine_topk", "embedding_neardup_lsh", "ann_lsh_topk",
                  "ann_ivf_topk", "semantic_dedup", "pq_encode",
                  "ann_pq_topk", "ann_ivfadc_topk"]


@pytest.fixture
def seven_row_batches(spark):
    """Arrow batches of at most 7 rows for the test's duration: the
    500-vector table reaches each kernel as ~72 batches, not one."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("name,gate", [
    *[(q, None) for q in KERNEL_QUERIES],
    # past the broadcast gate the rerank runs _np_normed and _np_pair_dot
    ("embedding_neardup_lsh", 0)])
def test_kernels_match_oracles_across_batches(spark, ducks, monkeypatch,
                                              seven_row_batches, name,
                                              gate):
    """Every numpy kernel yields the same rows when its input is split
    into many Arrow batches: a kernel whose row indices or setup leaked
    from one batch into the next would fail the oracle here."""
    from closure_html_spark.spark import relational as R
    if gate is not None:
        monkeypatch.setattr(R, "_EMB_BCAST_MAX_BYTES", gate)
    _assert_matches_oracle(spark, ducks, name)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) == 5
    assert set(df.columns) == {"url", "title", "extracted_text",
                               "main_text", "spans"}
    assert rows[0]["extracted_text"]


def test_embedding_neardup_lsh_recall(spark):
    """The LSH near-dup scale path must recover most of the exact crossJoin
    pairs (recall depends on threshold: banded RHP keeps ~75%+ of pairs at
    cosine 0.4 and -> 1.0 as similarity rises)."""
    from closure_html_spark.spark import relational as R
    exact = {(r["a_id"], r["b_id"])
             for r in R.q_embedding_neardup(spark, SF_DIR).collect()}
    lsh = {(r["a_id"], r["b_id"])
           for r in R.q_embedding_neardup_lsh(spark, SF_DIR).collect()}
    assert lsh <= exact, "LSH produced a pair the exact path rejects"
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.5, f"near-dup LSH recall collapsed: {recall}"


def test_ann_lsh_recall_vs_bruteforce(spark):
    """The LSH scale path must recover a substantial share of the exact
    top-k even on uniformly random vectors (where LSH is hardest); on real
    near-dup data recall approaches 1."""
    from closure_html_spark.spark import relational as R
    lsh = {(r["q_id"], r["vec_id"])
           for r in R.q_ann_lsh_topk(spark, SF_DIR).collect()}
    exact = {(r["q_id"], r["vec_id"])
             for r in R.q_ann_cosine_topk(spark, SF_DIR).collect()}
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.5, f"LSH recall collapsed: {recall}"


def test_ann_ivf_recall_vs_bruteforce(spark):
    """The IVF coarse-quantizer path scans n_probe/n_cells of the corpus;
    with 4/16 cells on this corpus it must still recover a meaningful
    share of the exact top-k (near vectors co-cluster)."""
    from closure_html_spark.spark import relational as R
    ivf = {(r["q_id"], r["vec_id"])
           for r in R.q_ann_ivf_topk(spark, SF_DIR).collect()}
    exact = {(r["q_id"], r["vec_id"])
             for r in R.q_ann_cosine_topk(spark, SF_DIR).collect()}
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.3, f"IVF recall collapsed: {recall}"
