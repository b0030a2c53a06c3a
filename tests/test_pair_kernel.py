"""The Arrow-batched pair-scoring kernel (``similarity.cosine_block`` /
``cosine_pairs``) against the JVM ``cosine_pre`` fold, compared at full
precision (``repr``): same pairs, same bits."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from kpipe_spark.functions import similarity as S


def _sum_order_sensitive(dim: int, n: int, seed: int) -> list[list[float]]:
    """Vectors whose elements span 16 orders of magnitude, so a
    reordered dot sum (BLAS, pairwise) changes low bits; row 9 against
    row 10 (all ones) sums to 1.0 only in the fold's order (each
    ``1e16 + 1`` rounds the 1 away); plus a zero vector and an exact
    duplicate."""
    rng = np.random.default_rng(seed)
    v = rng.normal(size=(n, dim)) * 10.0 ** rng.integers(-8, 8, size=(n, dim))
    v[3] = 0.0
    v[7] = v[5]
    v[9] = np.resize([1e16, 1.0, -1e16, 1.0], dim)
    v[10] = 1.0
    return v.tolist()


def _jvm_pairs(spark, rows, schema="id long, v array<double>"):
    """(id_a, id_b) -> raw cosine_pre over every id_a < id_b pair that
    is a pair (non-NULL), computed by the JVM fold."""
    df = spark.createDataFrame(rows, schema).withColumn("n", S.norm(F.col("v")))
    a = df.select(F.col("id").alias("ia"), F.col("v").alias("va"), F.col("n").alias("na"))
    b = df.select(F.col("id").alias("ib"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    sim = S.cosine_pre(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    out = (
        a.crossJoin(b)
        .filter(F.col("ia") < F.col("ib"))
        .select("ia", "ib", sim.alias("sim"))
        .filter(F.col("sim").isNotNull())
        .collect()
    )
    return {(r.ia, r.ib): repr(r.sim) for r in out}


@pytest.mark.parametrize("dim", [4, 64])
def test_cosine_block_is_bit_identical_to_the_jvm_fold(spark, dim):
    # more rows than PAIR_TILE: several tiles, some skipped
    vecs = _sum_order_sensitive(dim, S.PAIR_TILE + 22, seed=dim)
    want = _jvm_pairs(spark, list(enumerate(vecs)))
    ids = np.arange(len(vecs))
    a = np.asarray(vecs)
    ia, ib, sim = S.cosine_block(ids, a, ids, a, -math.inf)
    got = {(int(x), int(y)): repr(float(s)) for x, y, s in zip(ia, ib, sim)}
    # the zero vector pairs with nothing; the duplicates pair
    assert not any(3 in k for k in got)
    assert (5, 7) in got
    assert got == want


def _edge_rows():
    """Length-4 vectors plus every way the JVM fold yields no pair or a
    special value, and one pair whose raw cosine lies in the rounding
    slack: in [0.34995, 0.35), so round(sim, 4) is 0.35."""
    c = 0.34997
    slack = [1.0, 0.0, 0.0, 0.0], [c / math.sqrt(1 - c * c), 1.0, 0.0, 0.0]
    rows = [(i, v) for i, v in enumerate(_sum_order_sensitive(4, 12, seed=9))]
    rows += [
        (100, slack[0]),
        (101, slack[1]),
        (102, None),                      # NULL vector: no pair
        (103, [0.5, None, 0.5, 0.5]),     # NULL element: no pair
        (104, [1.0, 2.0, 3.0]),           # other length: pairs only with 105
        (105, [1.0, 2.0, 3.5]),
        (106, [float("nan"), 1.0, 1.0, 1.0]),  # NaN: a pair, passes any bound
        (None, [1.0, 0.0, 0.0, 0.0]),     # NULL id: no pair
    ]
    return rows


def test_cosine_pairs_keeps_every_pair_the_rounded_filter_keeps(spark):
    rows = _edge_rows()
    raw = _jvm_pairs(spark, rows)
    assert 0.34995 <= float(raw[(100, 101)]) < 0.35
    assert (104, 105) in raw and (103, 104) not in raw

    df = spark.createDataFrame(rows, "id long, v array<double>")
    pairs = S.cosine_pairs(df, "id", "v", min_sim=0.35, places=4)
    got_raw = {(r.id_a, r.id_b): repr(r.sim) for r in pairs.collect()}
    # every pair the kernel returns carries the fold's exact bits
    assert all(raw[k] == v for k, v in got_raw.items())

    def rounded(frame, a, b, s):
        out = frame.select(a, b, F.round(s, 4).alias("r")).filter(F.col("r") >= 0.35)
        return sorted((x, y, repr(r)) for x, y, r in out.collect())

    jvm = spark.createDataFrame(
        [(a, b, float(s)) for (a, b), s in raw.items()], "a long, b long, s double"
    )
    want = rounded(jvm, "a", "b", "s")
    assert (100, 101, "0.35") in want
    assert any(t[:2] == (104, 105) for t in want)
    assert any(106 in t[:2] and t[2] == "nan" for t in want)
    assert rounded(pairs, "id_a", "id_b", "sim") == want


def test_cosine_pairs_int_ids_float_elements_small_batches(spark):
    """The id column keeps its type; float elements widen to double
    exactly as ``as_double_array`` casts them; and with 7-row Arrow
    batches each task's left block spans several batches, the last of
    them shared with the first right-only rows."""
    vecs = _sum_order_sensitive(8, 60, seed=3)
    rows = [(i, [float(np.float32(x)) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "id int, v array<float>")
    want = _jvm_pairs(
        spark,
        [(r.id, r.v) for r in df.select("id", S.as_double_array("v").alias("v")).collect()],
        "id int, v array<double>",
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        pairs = S.cosine_pairs(df, "id", "v", min_sim=-1.0, places=4)
        assert dict(pairs.dtypes)["id_a"] == "int"
        got = {(r.id_a, r.id_b): repr(r.sim) for r in pairs.collect()}
    finally:
        spark.conf.set(key, before)
    assert got == want
