"""Numeric contracts: the numpy kernels that stand in for the
interpreted zip_with/aggregate folds must be BIT-identical to those JVM
expressions (relational.py kernel note).  The
query-level A/Bs and oracle replays pin whole results; these tests pin
the three primitives directly so a future numpy/Spark upgrade that
breaks exactness fails here with a readable diff."""

import math
import random

import numpy as np
import pytest

from closure_html_spark.spark import relational as R

# values chosen to sit on / near every rounding hazard: exact dyadic
# half-boundaries (m/128 is exactly x.5e-6 at 6dp for odd multiples of
# 5**6 / 2e6), negative halves (floor rounds up, Java rounds away from
# zero), shortest-repr-vs-exact-binary disagreements, and plain floats
TRICKY = [
    1 / 128, -1 / 128, 3 / 128, 5 / 128, -5 / 128, 7 / 128,
    0.0000005, -0.0000005, 1.5e-6, 2.5e-6, -2.5e-6,
    0.1234565, 0.12345650000000001, -0.1234565,
    0.9999995, -0.9999995, 123.4567895, -123.4567895,
    0.0, -0.0, 1.0, -1.0, 1e-7, -1e-7, 1e12 + 0.5e-6,
] + [random.Random(7).uniform(-100, 100) for _ in range(200)]


def _spark_round6(spark, values):
    from pyspark.sql import functions as F
    df = spark.createDataFrame([(float(v),) for v in values], "x double")
    return [r[0] for r in df.select(F.round("x", 6)).collect()]


def test_java_round_matches_spark_round(spark):
    got = [R._java_round(v) for v in TRICKY]
    want = _spark_round6(spark, TRICKY)
    for v, g, w in zip(TRICKY, got, want):
        assert g == w, f"_java_round({v!r}) = {g!r}, Spark ROUND = {w!r}"


def test_round6_micro_matches_java_round():
    arr = np.asarray(TRICKY, dtype=np.float64)
    micro = R._round6_micro(arr)
    for v, m in zip(TRICKY, micro):
        want = round(R._java_round(v) * 1e6)
        assert m == want, f"_round6_micro({v!r}) = {m}, want {want}"


def test_round6_micro_nonfinite_ordering():
    """Degenerate sims (zero-norm vectors) must keep Spark's double
    ordering NaN > +Inf > finite > -Inf under integer comparison."""
    arr = np.asarray([math.nan, math.inf, 1e9, -1e9, -math.inf])
    m = R._round6_micro(arr)
    assert m[0] > m[1] > m[2] > m[3] > m[4]


def test_np_seq_dot_matches_interpreted_fold(spark):
    """_np_seq_dot == aggregate(zip_with(...)) bit for bit on float32
    inputs (the embedding element type), including the norm sqrt."""
    from pyspark.sql import functions as F
    rng = random.Random(11)
    rows = [([rng.uniform(-2, 2) for _ in range(64)],
             [rng.uniform(-2, 2) for _ in range(64)]) for _ in range(50)]
    df = spark.createDataFrame(rows, "a array<float>, b array<float>")
    jvm = df.select(
        R._dot_expr(F.col("a"), F.col("b")).alias("dot"),
        F.sqrt(F.aggregate(
            F.transform("a", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x)).alias("norm")).collect()
    # replicate the float32 storage truncation Spark applies on ingest
    a32 = np.asarray([r[0] for r in rows], dtype=np.float32) \
        .astype(np.float64)
    b32 = np.asarray([r[1] for r in rows], dtype=np.float32) \
        .astype(np.float64)
    dots = R._np_seq_dot(a32, b32)
    norms = np.sqrt(R._np_seq_dot(a32, a32))
    for i, r in enumerate(jvm):
        assert dots[i] == r["dot"], f"row {i}: {dots[i]!r} != {r['dot']!r}"
        assert norms[i] == r["norm"]


@pytest.mark.parametrize("lens, found", [
    pytest.param([], None, id="0"),
    pytest.param([64], None, id="1"),
    pytest.param([64] * 5, None, id="5"),
    # a bare reshape(-1, 64) would make 2 rows, row 0 ending in row 1's data
    pytest.param([63, 65], "63, 65", id="ragged"),
    # a narrower model: four rows would become 2
    pytest.param([32] * 4, "32", id="dim32"),
    # a null row drops out of the flatten and shifts every later row
    pytest.param([64, None], "64, None", id="null"),
])
def test_np_embs_shapes(lens, found):
    """(n, 64) float64 for 64-wide rows; any other width is refused with
    the lengths seen, by the kernels' reader and the driver-side one."""
    import pyarrow as pa
    arr = pa.array([None if k is None else [float(i)] * k
                    for i, k in enumerate(lens)], pa.list_(pa.float32()))
    if found is None:
        m = R._np_embs(arr)
        assert m.shape == (len(lens), 64) and m.dtype == np.float64
        return
    with pytest.raises(ValueError, match=f"found lengths {found}$"):
        R._np_embs(arr)
    tbl = pa.table({"vec_id": pa.array(range(len(lens)), pa.int64()),
                    "embedding": arr})
    with pytest.raises(ValueError, match=f"found lengths {found}$"):
        R._emb_rows(tbl)
