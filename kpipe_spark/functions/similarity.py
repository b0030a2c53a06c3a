"""Embedding similarity search.

Baseline: brute-force cosine top-k — a broadcast join of the (small)
query set against the corpus, dot products as one codegen'd
``aggregate(zip_with(...))`` expression, top-k via per-query window.
Scale path: LSH bucketing (random hyperplane signs) so each query only
scans its bucket — the 100 TB variant where brute force is a full scan
per query batch.

Per-pair scoring of a frame against itself (``cosine_pairs``) runs in
one Arrow-batched numpy kernel that keeps the JVM fold's IEEE order;
everything else stays JVM-side, with no Python in the scoring loop.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product over two array<double> columns —
    deterministic summation order (left to right)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL (not NaN) for a zero-norm side.

    The guard matters for ranking: 0/0 is NaN, and Spark sorts NaN
    FIRST under desc(), so an all-zeros embedding (a failed embed run)
    would become the #1 neighbor of every query in the top-k windows.
    NULL sorts last under desc() and fails every >= threshold filter —
    a zero vector is similar to nothing.

    PERF: ``aggregate``/``zip_with`` folds evaluate INTERPRETED, and
    this expression pays ~5 of them per row (the norms appear in both
    the guard and the denominator; Catalyst does not CSE interpreted
    HOFs — measured 0.99 s vs 0.39 s over a 40k-pair panel join at
    sf0.1). On any JOINED frame compute ``norm`` per ROW before the
    join and use ``cosine_pre``; keep this form for one-off per-row
    scoring. All pairs within one frame go through ``cosine_pairs``,
    a numpy kernel with the same bits: d11 at sf0.1 went from 9.8-10.0 s
    (one interpreted dot fold per ordered pair) to 0.5-0.7 s. (Unrolling
    the fold into 64 element_at terms was tried and is ~3× SLOWER: the
    generated code blows the janino method limit — codegen fails and
    the giant tree evaluates interpreted.)"""
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d)


def cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine`` with PRE-COMPUTED norms — the pair-join form.

    ``na``/``nb`` must carry exactly ``norm(a)``/``norm(b)`` (same
    fold, computed per row before the join). ``na * nb`` and
    ``dot(a, b) / den`` are then the same IEEE operations in the same
    order as ``cosine``, so results are bit-identical — but per-PAIR
    work drops from ~5 interpreted folds to ONE (the dot). The d11
    norm-precompute lesson applied to every panel/bucket scoring join
    (measured 2.5× on the corpus×panel shape at sf0.1)."""
    den = na * nb
    return F.when(den > 0, dot(a, b) / den)


# Rows per scoring tile, on both sides: the TILE x TILE fold
# accumulator and its term buffer (256 KiB of doubles) stay in L2, and a
# task's scoring memory is fixed at any corpus size. 64 and 256 measured
# 10-25% slower on a d11 sf0.1 block, 512 2.4x slower.
PAIR_TILE = 128


def _fold_dot(x, y):
    """Every ``dot`` of the rows of ``x`` (l x d) with the rows of ``y``
    (t x d), summed as the JVM fold sums: ``acc = acc + x[j] * y[j]``
    for j = 0..d-1, from 0.0. A BLAS ``x @ y.T`` may block or fuse that
    sum and change low bits."""
    import numpy as np

    acc = np.zeros((len(x), len(y)))
    term = np.empty_like(acc)
    for j in range(x.shape[1]):
        np.multiply(x[:, j, None], y[None, :, j], out=term)
        acc += term
    return acc


def _fold_norm(v):
    """``norm`` of each row of ``v`` in the JVM fold's order."""
    import numpy as np

    acc = np.zeros(len(v))
    for j in range(v.shape[1]):
        acc = acc + v[:, j] * v[:, j]
    return np.sqrt(acc)


def cosine_block(ids_a, a, ids_b, b, lo: float):
    """Score a block of left vectors against right vectors: the pairs
    with ``ids_a[i] < ids_b[j]`` whose ``cosine_pre`` is a pair (norm
    product > 0) and not below ``lo``, as arrays ``(id_a, id_b, sim)``.

    Bit-identical to ``cosine_pre(a, b, norm(a), norm(b))``: the same
    folds in the same IEEE order (``_fold_dot``, ``_fold_norm``), then
    ``den = na * nb`` and ``dot / den``. NaN compares as the largest
    double, as in Spark SQL: a NaN norm product is a pair, a NaN
    similarity passes any threshold. Both sides are walked in
    ``PAIR_TILE``-row tiles; a tile pair with no ``id_a < id_b`` entry
    is skipped before any arithmetic."""
    import numpy as np

    na, nb = _fold_norm(a), _fold_norm(b)
    out_a, out_b, out_s = [], [], []
    for i0 in range(0, len(a), PAIR_TILE):
        ta = ids_a[i0 : i0 + PAIR_TILE]
        for j0 in range(0, len(b), PAIR_TILE):
            tb = ids_b[j0 : j0 + PAIR_TILE]
            keep = ta[:, None] < tb[None, :]
            if not keep.any():
                continue
            den = na[i0 : i0 + PAIR_TILE, None] * nb[None, j0 : j0 + PAIR_TILE]
            with np.errstate(divide="ignore", invalid="ignore"):
                sim = _fold_dot(a[i0 : i0 + PAIR_TILE], b[j0 : j0 + PAIR_TILE]) / den
            keep &= ((den > 0) | np.isnan(den)) & ~(sim < lo)
            i, j = np.nonzero(keep)
            out_a.append(ta[i])
            out_b.append(tb[j])
            out_s.append(sim[i, j])
    if not out_a:
        return ids_a[:0], ids_b[:0], np.zeros(0)
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_s)


def _vectors(col) -> dict:
    """An Arrow list column -> ``{length: (rows, float64 matrix)}``.
    Rows the JVM fold scores as no pair are left out: a null vector and
    one with a null element (the fold yields NULL). Vectors of
    different lengths never pair (``zip_with`` pads with NULL), hence
    the grouping by length."""
    import numpy as np
    import pyarrow.compute as pc

    ok = col.is_valid().to_numpy(zero_copy_only=False)
    lens = pc.list_value_length(col).fill_null(0).to_numpy()
    starts = col.offsets.to_numpy()[:-1]
    values = col.values
    vals = values.to_numpy(zero_copy_only=False).astype(np.float64)
    if values.null_count:
        null_at = np.flatnonzero(values.is_null().to_numpy(zero_copy_only=False))
        holder = np.searchsorted(starts, null_at, side="right") - 1
        inside = (holder >= 0) & (null_at < starts[holder] + lens[holder])
        ok[holder[inside]] = False
    groups = {}
    for d in np.unique(lens[ok]):
        rows = np.flatnonzero(ok & (lens == d))
        groups[int(d)] = (rows, vals[starts[rows, None] + np.arange(d)])
    return groups


def _score_partition(batches, lo: float):
    """``mapInArrow`` body of ``cosine_pairs``. A partition streams its
    left block first (``_left`` true), then the rest of the corpus. The
    batches up to the first non-left row are held; the left block is
    taken from them, and every row, left ones included, is then scored
    against it one Arrow batch at a time."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    batches, head = iter(batches), []
    for rb in batches:
        head.append(rb)
        if not pc.all(rb.column("_left")).as_py():
            break
    block: dict = {}  # length -> (left ids, left vectors)
    for rb in head:
        n = int(np.count_nonzero(rb.column("_left").to_numpy(zero_copy_only=False)))
        ids = rb.column("_id").to_numpy()[:n]
        for d, (rows, v) in _vectors(rb.column("_v").slice(0, n)).items():
            prev = block.get(d, (ids[:0], v[:0]))
            block[d] = (
                np.concatenate([prev[0], ids[rows]]),
                np.concatenate([prev[1], v]),
            )
    for rb in itertools.chain(head, batches):
        id_type = rb.schema.field("_id").type
        ids = rb.column("_id").to_numpy()
        for d, (rows, v) in _vectors(rb.column("_v")).items():
            if d not in block:
                continue
            ia, ib, s = cosine_block(*block[d], ids[rows], v, lo)
            if len(s):
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ia, id_type), pa.array(ib, id_type), pa.array(s)],
                    ["id_a", "id_b", "sim"],
                )


def cosine_pairs(
    frame: DataFrame, id_col: str, vec_col: str, min_sim: float, places: int
) -> DataFrame:
    """All pairs ``id_a < id_b`` of ``frame`` rows whose cosine, rounded
    to ``places`` decimals, can reach ``min_sim`` -> (id_a, id_b, sim).

    ``sim`` is the raw double, bit-identical to ``cosine_pre`` (see
    ``cosine_block``); pairs below ``min_sim - 10**-places`` are dropped
    in Python. That slack is two rounding half-steps, so every pair that
    ``round(sim, places) >= min_sim`` keeps is here: the caller applies
    that round and filter in the JVM, whose HALF_UP decimal rounding
    numpy does not reproduce.

    Plan: ``defaultParallelism`` blocks by ``pmod(id, blocks)``. Every
    row is copied once per block, flagged ``_left`` in its own, and
    ``repartitionById`` sends block k to partition k, where its left
    rows sort first. Scoring is then one Arrow-batched Python stage of
    one task per block (one task wave) behind the single exchange; each
    task buffers its left block (1/blocks of the frame) and streams the
    rest in Arrow batches. The right side thus reaches the kernel inside
    the action: no broadcast, no job at build time. Rows with a NULL id
    pair with nothing, as under ``id_a < id_b``."""
    from functools import partial

    blocks = frame.sparkSession.sparkContext.defaultParallelism
    routed = (
        frame.filter(F.col(id_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("_blk"),
        )
        .withColumn("_left", F.pmod("_id", F.lit(blocks)) == F.col("_blk"))
        .repartitionById(blocks, "_blk")
        .sortWithinPartitions(F.col("_left").desc(), "_id")
        .drop("_blk")
    )
    id_type = frame.schema[id_col].dataType.simpleString()
    return routed.mapInArrow(
        partial(_score_partition, lo=min_sim - 10.0**-places),
        f"id_a {id_type}, id_b {id_type}, sim double",
    )


def as_double_array(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.transform(col, lambda x: x.cast("double"))


def top_k(
    df: DataFrame,
    by: str | list[str],
    order: list | tuple,
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """The first ``k`` rows of each ``by`` group under ``order``,
    numbered 1..k in ``rank_col`` — the per-key ranking every search
    and recall query ends with. A ``row_number`` window plus a filter;
    ``order`` must end in a unique key so ranks are deterministic."""
    w = Window.partitionBy(by).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    queries is expected to be small (a batch of probes): it broadcasts,
    so the corpus is scanned once with no shuffle until the final
    per-query window (which shuffles only (query_id, neighbor_id, sim)
    tuples, never the vectors).
    """
    q = queries.select(
        F.col(query_id_col), as_double_array(vec_col).alias("_qvec")
    ).withColumn("_qn", norm(F.col("_qvec")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("_cvec")
    ).withColumn("_cn", norm(F.col("_cvec")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            cosine_pre(
                F.col("_qvec"), F.col("_cvec"), F.col("_qn"), F.col("_cn")
            ).alias("_sim"),
        )
    )
    return top_k(
        scored, query_id_col, [F.col("_sim").desc(), "neighbor_id"], k
    ).select(
        query_id_col, "neighbor_id", F.round("_sim", 4).alias("cosine_sim"), "rn"
    )


def srp_planes(n: int, dim: int) -> list[list[float]]:
    """Exact-rational signed-random-projection hyperplanes.

    ((k*131 + j*17) % 97 - 48) / 48.0 is computed bit-identically by
    Python, the JVM and DuckDB (integer arithmetic + one correctly-
    rounded IEEE division), so the sign of each projection agrees
    across engines and every SRP-bucketed operator is oracle-checkable
    — a ``sin()``- or PRNG-based plane could differ by 1 ulp between
    libm implementations.
    """
    return [
        [((k * 131 + j * 17) % 97 - 48) / 48.0 for j in range(dim)]
        for k in range(n)
    ]


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-of-dot-product LSH bucket id (one bit per hyperplane)."""
    bits = []
    for i, p in enumerate(planes):
        d = dot(vec, F.array(*[F.lit(float(x)) for x in p]))
        bits.append(F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: both sides bucketed by random-hyperplane signs,
    then scored only within the matching bucket. Recall trades off with
    the number of planes; at scale, bucket the corpus ONCE (write
    bucketed parquet) and reuse across query batches."""
    q = (
        queries.select(
            F.col(query_id_col),
            as_double_array(vec_col).alias("_qvec"),
        )
        .withColumn("_bucket", hyperplane_bucket(F.col("_qvec"), planes))
        .withColumn("_qn", norm(F.col("_qvec")))
    )
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            as_double_array(vec_col).alias("_cvec"),
        )
        .withColumn("_bucket", hyperplane_bucket(F.col("_cvec"), planes))
        .withColumn("_cn", norm(F.col("_cvec")))
    )
    scored = (
        c.join(F.broadcast(q), "_bucket")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            cosine_pre(
                F.col("_qvec"), F.col("_cvec"), F.col("_qn"), F.col("_cn")
            ).alias("_sim"),
        )
    )
    return top_k(
        scored, query_id_col, [F.col("_sim").desc(), "neighbor_id"], k
    ).select(
        query_id_col, "neighbor_id", F.round("_sim", 4).alias("cosine_sim"), "rn"
    )


def kmeans_centroids(
    vectors: DataFrame,
    vec_col: str,
    k: int = 16,
    seed: int = 42,
    max_iter: int = 5,
) -> DataFrame:
    """Train IVF cell centroids with MLlib KMeans (distributed Lloyd
    iterations — each round is one aggregate over the corpus, state on
    the driver is k centroids, nothing else) -> (centroid_id, _ce).

    The returned frame is k rows — broadcast it everywhere it's used.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = vectors.sparkSession
    feats = vectors.select(array_to_vector(F.col(vec_col)).alias("features"))
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feats)
    cents = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(
        cents, "centroid_id int, _ce array<double>"
    )


LLOYD_SCALE = 1 << 20  # fixed-point quantization for integer-exact Lloyd


def lloyd_centroids_int(
    vectors: DataFrame,
    vec_col: str = "_e",
    id_col: str = "vec_id",
    k: int = 16,
    iters: int = 5,
    scale: int = LLOYD_SCALE,
) -> DataFrame:
    """Deterministic, integer-exact Lloyd training for IVF centroids —
    the cross-engine-reproducible alternative to MLlib KMeans, whose
    float partial-agg order makes trained centroids bit-unstable (the
    verify-skill float-sum-flicker class applied to training state).

    The fixed-point discipline (same family as the PQ ADC's 2^24
    integers): coordinates quantize to floor(x·2^20) BIGINTs; every
    Lloyd step is then pure integer arithmetic — squared-L2 assignment
    with argmin ties to the lowest centroid_id, per-cell coordinate
    SUMS (exact under ANY partial-agg order — the property float sums
    lack), and floor-division means, so the trained centroids are
    bit-identical run to run AND expressible in oracle SQL. Init is
    the k lowest-id vectors (the d13 convention). Empty cells keep
    their previous centroid. Scale shape: each round is one
    corpus×k-broadcast assignment plus a (cell, dim)-grouped sum; the
    only driver state is k×dim integer sums (the MLlib KMeans shape).

    Returns (centroid_id int, _ce array<double>) with _ce = C/scale —
    exact in doubles (|C| < 2^53), ready for ``ivf_topk``.
    """
    spark = vectors.sparkSession
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x * F.lit(float(scale))).cast("long"),
    )
    qv = vectors.select(F.col(id_col), q.alias("_q")).localCheckpoint(
        eager=True
    )
    cents = [
        list(r["_q"]) for r in qv.orderBy(id_col).limit(k).collect()
    ]
    dim = len(cents[0])

    def round_partials(cents_rows: list[list[int]]):
        """Per-partition (cell, count, coord-sum) partials for one Lloyd
        round — Arrow-batched numpy, ALL integer ops (exact, so the
        partial order can't matter): squared-L2 in int64 (bounded by
        dim·(2·scale)² ≈ 2^48), argmin ties to the FIRST index =
        lowest centroid_id (numpy argmin semantics = the oracle's
        tie rule). The expression-tree form of this (k zip_with folds
        per row) is interpreted, not codegen'd, and measured 2.5-3×
        slower than MLlib; vectorized Arrow batches are the sanctioned
        Python path and land within its envelope."""
        import numpy as np
        import pandas as pd

        cnp = np.asarray(cents_rows, dtype=np.int64)

        def fn(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                qm = np.stack(pdf["_q"].values).astype(np.int64)
                diff = qm[:, None, :] - cnp[None, :, :]
                cell = (diff * diff).sum(axis=2).argmin(axis=1)
                cells, counts, sums = [], [], []
                for c in np.unique(cell):
                    member = qm[cell == c]
                    cells.append(int(c))
                    counts.append(int(member.shape[0]))
                    sums.append(member.sum(axis=0).tolist())
                yield pd.DataFrame(
                    {"_cell": cells, "_n": counts, "_s": sums}
                )

        return fn

    for _ in range(iters):
        # one job per round; the collected frame is <= k × n_partitions
        # partial rows (k centroids on the driver — the MLlib KMeans
        # state shape), merged in exact integer arithmetic
        partials = qv.mapInPandas(
            round_partials([list(c) for c in cents]),
            "_cell int, _n long, _s array<long>",
        ).collect()
        acc: dict[int, tuple[int, list[int]]] = {}
        for r in partials:
            n0, s0 = acc.get(r["_cell"], (0, [0] * dim))
            acc[r["_cell"]] = (
                n0 + int(r["_n"]),
                [a + int(b) for a, b in zip(s0, r["_s"])],
            )
        for cid, (n, s) in acc.items():
            # floor division — python // floors, matching the oracle's
            # divisible-numerator integer division exactly
            cents[cid] = [si // n for si in s]
        # cells absent from the partials (no members) keep their centroid
    # the trained centroids live on the driver; the quantized-vector
    # checkpoint (corpus-sized) is dead — release it (wave-10
    # lifecycle) instead of leaking one per training call
    from kpipe_spark.util import free_local_checkpoint

    free_local_checkpoint(qv)
    return spark.createDataFrame(
        [(i, [c / float(scale) for c in cc]) for i, cc in enumerate(cents)],
        "centroid_id int, _ce array<double>",
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "_e",
    query_id_col: str = "query_id",
    query_vec_col: str = "_qe",
) -> DataFrame:
    """IVF search: corpus rows live in their nearest-centroid cell
    (cosine), probes scan their nprobe closest cells, exact cosine
    top-k within the candidate union. One broadcast of the k-row
    centroid table to both sides; the only corpus-sized shuffle is the
    cell-keyed candidate join.
    """

    # per-ROW norms once (corpus, queries, centroid table); every
    # scored pair below pays ONE interpreted dot fold via cosine_pre
    # instead of ~5 (bit-identical — same fold, same op order)
    corpus = corpus.withColumn("_cpn", norm(F.col(vec_col)))
    queries = queries.withColumn("_qpn", norm(F.col(query_vec_col)))
    cents_n = centroids.withColumn("_cen", norm(F.col("_ce")))

    def nearest_cells(
        side: DataFrame, vcol: str, ncol: str, idcol: str, n: int
    ) -> DataFrame:
        scored = side.crossJoin(F.broadcast(cents_n)).select(
            side["*"],
            "centroid_id",
            cosine_pre(
                F.col(vcol), F.col("_ce"), F.col(ncol), F.col("_cen")
            ).alias("_csim"),
        )
        if n == 1:
            # argmax as an aggregate, not a window: partial (map-side)
            # combine collapses the k-per-row candidates BEFORE the
            # shuffle, so only one row per id moves — vs shuffling and
            # sorting id×k rows for row_number. Tie-break matches the
            # window path: max sim, then lowest centroid_id.
            key = F.struct(F.col("_csim"), (-F.col("centroid_id")).alias("_nc"))
            return scored.groupBy(idcol).agg(
                F.max_by("centroid_id", key).alias("centroid_id"),
                F.any_value(F.col(vcol)).alias(vcol),
                F.any_value(F.col(ncol)).alias(ncol),
            )
        return top_k(
            scored, idcol, [F.col("_csim").desc(), "centroid_id"], n, "_crn"
        ).drop("_csim", "_crn")

    assigned = nearest_cells(corpus, vec_col, "_cpn", id_col, 1)
    probes = nearest_cells(queries, query_vec_col, "_qpn", query_id_col, nprobe)
    scored = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            cosine_pre(
                F.col(query_vec_col),
                F.col(vec_col),
                F.col("_qpn"),
                F.col("_cpn"),
            ).alias("_sim"),
        )
    )
    return top_k(
        scored, query_id_col, [F.col("_sim").desc(), "neighbor_id"], k
    ).select(
        query_id_col, "neighbor_id", F.round("_sim", 4).alias("cosine_sim"), "rn"
    )
