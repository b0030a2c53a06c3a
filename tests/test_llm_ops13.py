"""Semantic tests for the PQ-ANN operators (llm_ops13).

The oracle suite proves Spark == DuckDB on d86/d87; this file proves
the MATH is right against a plain-numpy reference implementation of
Jégou-2011 PQ (deterministic first-k codebooks, fixed-point ADC), plus
the structural invariants: codebook entries self-encode, every (vec,
subspace) gets exactly one code, and recall is exactly
|exact ∩ pq| / 10 recomputed independently.
"""

from __future__ import annotations

import numpy as np
import pytest

from kpipe_spark.queries.llm_ops13 import (
    _FP,
    _PQ_K,
    _PQ_M,
    _PQ_SUB,
    _TOPK,
)

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def vectors():
    import duckdb

    rows = duckdb.sql(
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM "
        f"read_parquet('{SF_SMALL}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    x = np.array([r[1] for r in rows])
    return ids, x


def _numpy_pq(ids: np.ndarray, x: np.ndarray):
    """Reference PQ: returns (codes[n, m], pq_topk dict, exact dict)."""
    n = len(ids)
    subs = x.reshape(n, _PQ_M, _PQ_SUB)
    cb = subs[:_PQ_K]  # [k, m, sub]
    # dq[v, j, c]: fixed-point quantized squared L2, matching the
    # engines' floor(d * 2^24 + 0.5)
    d = ((subs[:, None, :, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
    dq = np.floor(d * _FP + 0.5).astype(np.int64)  # [n, k, m]
    codes = dq.argmin(axis=1)  # ties -> lowest code, matching min_by
    panel = [i for i in range(n) if ids[i] % 25 == 0 and ids[i] < 500]
    pq_topk, exact = {}, {}
    for qi in panel:
        adc = dq[qi]  # [k, m]
        tq = np.array(
            [adc[codes[v], np.arange(_PQ_M)].sum() for v in range(n)]
        )
        order = sorted(
            (int(tq[v]), int(ids[v])) for v in range(n) if v != qi
        )
        pq_topk[int(ids[qi])] = [vid for _, vid in order[:_TOPK]]
        ed = np.floor(((x - x[qi]) ** 2).sum(axis=1) * _FP + 0.5).astype(
            np.int64
        )
        eorder = sorted(
            (int(ed[v]), int(ids[v])) for v in range(n) if v != qi
        )
        exact[int(ids[qi])] = [vid for _, vid in eorder[:_TOPK]]
    return codes, pq_topk, exact


def test_d86_matches_numpy_reference(spark, vectors):
    from kpipe_spark.queries import all_queries

    ids, x = vectors
    _, pq_topk, _ = _numpy_pq(ids, x)
    got = (
        all_queries()["d86_pq_adc_topk"]
        .build(spark, SF_SMALL)
        .orderBy("query_id", "rn")
        .collect()
    )
    by_q: dict[int, list[int]] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
        assert 1 <= r["rn"] <= _TOPK
        assert r["adc_dist"] >= 0.0
    assert by_q == pq_topk


def test_d87_recall_is_exact_overlap(spark, vectors):
    from kpipe_spark.queries import all_queries

    ids, x = vectors
    _, pq_topk, exact = _numpy_pq(ids, x)
    got = {
        r["query_id"]: (r["n_hits"], r["recall"])
        for r in all_queries()["d87_pq_recall"].build(spark, SF_SMALL).collect()
    }
    assert set(got) == set(exact)
    for qid in exact:
        hits = len(set(exact[qid]) & set(pq_topk[qid]))
        assert got[qid][0] == hits
        assert got[qid][1] == round(hits / _TOPK, 4)


def test_codebook_vectors_self_encode(spark):
    """A vector that IS a codebook entry has subspace distance 0 to
    its own codebook row, so it must encode to its own code id (ties
    to the lowest code can only claim identical subvectors)."""
    from kpipe_spark.queries.llm_ops13 import _pq_frames

    enc, _ = _pq_frames(spark, SF_SMALL)
    rows = enc.filter(f"vec_id < {_PQ_K}").collect()
    assert len(rows) == _PQ_K * _PQ_M  # one code per (vec, subspace)
    import duckdb

    subs = duckdb.sql(
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM "
        f"read_parquet('{SF_SMALL}/embeddings.parquet') "
        f"WHERE vec_id < {_PQ_K} ORDER BY vec_id"
    ).fetchall()
    x = np.array([r[1] for r in subs]).reshape(_PQ_K, _PQ_M, _PQ_SUB)
    for r in rows:
        v, j, c = r["vec_id"], r["j"], r["code"]
        if c != v:
            # only legitimate when an earlier codebook entry has the
            # identical subvector (tie broken to the lowest code)
            assert c < v
            assert np.array_equal(x[c, j], x[v, j])


def test_d88_neighbors_come_from_probed_cells_only(spark, vectors):
    """IVFADC's defining property: candidates are drawn ONLY from the
    query's nprobe nearest coarse cells — verified against a numpy
    recomputation of the coarse quantizer (fixed-point, same
    tie-breaks), plus the structural invariants (10 ranked rows per
    panel query, non-negative distances)."""
    from kpipe_spark.queries import all_queries
    from kpipe_spark.queries.llm_ops13 import _NCELL, _NPROBE

    ids, x = vectors
    cents = x[:_NCELL]
    d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    dq = np.floor(d * _FP + 0.5).astype(np.int64)
    cell_of = {int(ids[i]): int(dq[i].argmin()) for i in range(len(ids))}
    probed = {
        int(ids[i]): set(np.argsort(dq[i], kind="stable")[:_NPROBE])
        for i in range(len(ids))
        if ids[i] % 25 == 0 and ids[i] < 500
    }
    rows = (
        all_queries()["d88_ivfpq_topk"].build(spark, SF_SMALL).collect()
    )
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
        assert r["adc_dist"] >= 0.0
        # the reported cell is the neighbor's true coarse cell, and it
        # is one of the query's probed cells
        assert r["cell"] == cell_of[r["neighbor_id"]]
        assert r["cell"] in probed[r["query_id"]]
    assert set(per_q) == set(probed)
    for qid, rs in per_q.items():
        assert sorted(r["rn"] for r in rs) == list(range(1, 11))


@pytest.mark.parametrize("dim", [4, 64])
def test_fixed_point_distance_matches_numpy_on_adversarial_vectors(spark, dim):
    """The cross-engine bridge is floor(sqL2 * 2^24 + 0.5) computed in
    IEEE left-to-right order — check the Spark expression against a
    numpy recomputation on vectors the corpus never exercises:
    near-identical pairs (differences at 1e-9), mixed magnitudes
    (1e-6 vs 1e3), negative zeros, and exact ties. Both widths the PQ
    kernels use: the 4-wide subspace distance (encode, ADC) and the
    64-wide full-vector sum (coarse assignment, probe ranking, refine)."""
    from kpipe_spark.functions.ann_index import _fixed_sq_l2

    rng = np.random.default_rng(20260815)
    pairs = []
    for i in range(200):
        a = rng.normal(0, 1, dim)
        kind = i % 4
        if kind == 0:
            b = a + rng.normal(0, 1e-9, dim)  # near-identical
        elif kind == 1:
            b = a * rng.choice([1e-6, 1e3], dim)  # magnitude mix
        elif kind == 2:
            b = np.where(rng.random(dim) < 0.5, -0.0, a)  # signed zeros
        else:
            b = a.copy()  # exact tie -> distance exactly 0
        pairs.append((i, [float(x) for x in a], [float(x) for x in b]))
    df = spark.createDataFrame(
        pairs, "pair_id long, a array<double>, b array<double>"
    )
    got = {
        r["pair_id"]: r["dq"]
        for r in df.select(
            "pair_id", _fixed_sq_l2("a", "b", dim).alias("dq")
        ).collect()
    }
    for pid, a, b in pairs:
        # numpy reference in the same order: ((t0+t1)+t2)+...
        av, bv = np.array(a), np.array(b)
        t = (av - bv) * (av - bv)
        acc = 0.0
        for x in t:
            acc = acc + x
        want = int(np.floor(acc * float(1 << 24) + 0.5))
        assert got[pid] == want, (pid, got[pid], want)
        if a == b:
            assert got[pid] == 0


def test_d89_codebook_health_invariants(spark):
    """Structural truths of the codebook-health profile: one row per
    subspace, usage bounded by k, the top code's share consistent
    with the usage count, and mean <= max error — plus a numpy
    recomputation of code usage for subspace 0."""
    from kpipe_spark.queries import all_queries

    rows = {
        r["j"]: r
        for r in all_queries()["d89_pq_codebook_health"]
        .build(spark, SF_SMALL)
        .collect()
    }
    assert set(rows) == set(range(_PQ_M))
    for j, r in rows.items():
        assert 1 <= r["codes_used"] <= _PQ_K
        assert 0 <= r["top_code"] < _PQ_K
        # if u codes are used, the most-used one covers >= n/u of n
        assert r["top_code_share"] * r["codes_used"] >= 0.999
        assert r["mean_qerr"] <= r["max_qerr"] + 1e-9
        assert r["n_vectors"] == 500

    import duckdb

    vecs = duckdb.sql(
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM "
        f"read_parquet('{SF_SMALL}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    x = np.array([v for _, v in vecs]).reshape(len(vecs), _PQ_M, _PQ_SUB)
    d0 = ((x[:, 0, None, :] - x[:_PQ_K, None, 0, :].transpose(1, 0, 2)) ** 2).sum(axis=2)
    dq0 = np.floor(d0 * _FP + 0.5).astype(np.int64)
    codes0 = dq0.argmin(axis=1)
    used0 = len(set(codes0.tolist()))
    counts = np.bincount(codes0, minlength=_PQ_K)
    top0 = int(np.flatnonzero(counts == counts.max())[0])
    assert rows[0]["codes_used"] == used0
    assert rows[0]["top_code"] == top0
    assert rows[0]["top_code_share"] == round(counts.max() / 500, 4)
