"""LLM-pipeline operators, part 13: product-quantization ANN — the
round-6 additions completing the similarity-search memory-layout
story: d21 (int8 scalar quantization) → d13 (IVF coarse cells) →
d86 (PQ codes + asymmetric-distance scoring) → d87 (PQ recall vs the
exact panel, the companion of d70's IVF recall).

Public literature: Jégou, Douze, Schmid, "Product Quantization for
Nearest Neighbor Search" (TPAMI 2011) — split each vector into m
subvectors, quantize each subspace against its own k-entry codebook,
store only the m code ids (here 64 float dims → 16 bytes/vector, 16×),
and answer queries with an asymmetric distance computation (ADC): a
per-query (m × k) table of query-subvector↔centroid distances, so a
candidate's approximate distance is m table lookups + adds, never a
decode.

Reference parity note: kpipe declares analytics out of scope
(/root/reference/README.md:190-208); this is north-star LLM surface
(SURVEY.md §2.4 similarity search).

Determinism discipline (the d84 rule): every subspace distance is
quantized to 2^24 fixed-point BIGINT the moment it is computed — code
assignment (argmin), ADC sums, and the final ranking are all integer
arithmetic, exact under any partial-agg order in either engine.
Codebook training is deterministic like d13: subspace j's codebook is
the j-th subvector of the first k vectors.

Scale shape: encoding is the one-time corpus pass (|corpus| × m rows
joined against the broadcast m×k codebook, map-side argmin via
min_by) — at 100 TB it materializes as the stored code table the
whole point of PQ is to keep in RAM. Per-query ADC work joins the
code table against a broadcast panel×m×k distance table and ships
(query, vec, BIGINT) partial sums; composing with d13's cell
assignment (probe only nprobe cells' codes) gives IVF-PQ, the
standard 100 TB serving layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kpipe_spark.catalog import load_tables
from kpipe_spark.functions import similarity as S
from kpipe_spark.functions.ann_index import (
    _FP,
    _fixed_sq_l2,
    adc_table,
    adc_topk,
    assign_residual,
    code_distances,
    first_k_cells,
    first_k_codebook,
    nearest_codes,
    nearest_probes,
    subvectors,
)
from kpipe_spark.queries import register
from kpipe_spark.util import ensure_parallelism, ieee_round, materialize

# 64-dim embeddings → m=16 subspaces × 4 dims, k=64 codes per
# subspace (the first-64 vectors' subvectors — deterministic training,
# d13's first-k convention). 16 code bytes per vector = 16×
# compression; measured recall@10 on the synthetic panel: 0.495 at
# (16,64) vs 0.10 at (4,16) and 0.27 at (8,64) — finer subspaces buy
# more than bigger codebooks on this corpus, the tradeoff d87 exists
# to measure.
_PQ_M = 16
_PQ_SUB = 4
_PQ_K = 64
_DIM = _PQ_M * _PQ_SUB

# Eval panel: every 25th of the first 500 vectors — d70's exact-recall
# panel, so d87's PQ recall is directly comparable to d70's IVF recall
_PANEL = "vec_id % 25 = 0 AND vec_id < 500"
_TOPK = 10


def _pq_subvectors(spark: SparkSession, sf_dir: str):
    """(subs, cb): the corpus' raw-vector subvectors (vec_id, j, _sub)
    and the first-k codebook trained on them."""
    emb = load_tables(spark, sf_dir).embeddings
    # the embeddings parquet is one split at test SFs, and the corpus
    # encode expands it x(m*k) through the broadcast codebook join —
    # without a respread the whole k x m x n ADC arithmetic runs on
    # ONE core (the round-13 stage profile that read "genuine
    # arithmetic" was measuring a single-task stage)
    v = ensure_parallelism(emb).select(
        "vec_id", S.as_double_array("embedding").alias("_e")
    )
    subs = subvectors(v, "_e", _PQ_M, _PQ_SUB)
    return subs, first_k_codebook(subs, _PQ_K)


def _pq_frames(spark: SparkSession, sf_dir: str):
    """(enc, adc): the corpus code table (vec_id, j, code) and the
    panel's ADC lookup table (query_id, j, code, _dq)."""
    subs, cb = _pq_subvectors(spark, sf_dir)
    # ADC table: panel subvectors only (20 × m × k rows — bounded by
    # construction, an eval panel), derived separately so the corpus-
    # scaled distance frame is never branch-shared
    adc = code_distances(
        subs.filter(F.expr(_PANEL)), cb, _PQ_SUB
    ).withColumnRenamed("vec_id", "query_id")
    return nearest_codes(subs, cb, _PQ_SUB), adc


def _pq_topk_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return adc_topk(*_pq_frames(spark, sf_dir), _TOPK)


# Shared oracle CTE chain: subvectors -> codebook -> quantized
# subspace distances -> codes + panel ADC table -> per-pair ADC sums.
# Mirrors the Spark frames exactly (same fixed-point quantization,
# same tie-breaks), so a hash match certifies codes AND distances.
_PQ_CTES = f"""
    v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), subs AS (
      SELECT vec_id, CAST(sp.j AS INT) AS j,
             e[(sp.j * {_PQ_SUB} + 1):(sp.j * {_PQ_SUB} + {_PQ_SUB})] AS sub
      FROM v CROSS JOIN range({_PQ_M}) AS sp(j)
    ), cb AS (
      SELECT vec_id AS code, j, sub AS cbv FROM subs
      WHERE vec_id < {_PQ_K}
    ), dist AS (
      SELECT s.vec_id, s.j, cb.code,
             CAST(floor(list_sum(list_transform(range(1, {_PQ_SUB} + 1),
                    i -> (s.sub[i] - cb.cbv[i]) ^ 2)) * {_FP!r} + 0.5)
                  AS BIGINT) AS dq
      FROM subs s JOIN cb ON s.j = cb.j
    ), enc AS (
      SELECT vec_id, j, code FROM (
        SELECT vec_id, j, code,
               row_number() OVER (PARTITION BY vec_id, j
                                  ORDER BY dq, code) AS rn
        FROM dist
      ) WHERE rn = 1
    ), adc AS (
      SELECT vec_id AS query_id, j, code, dq FROM dist
      WHERE {_PANEL}
    ), scored AS (
      SELECT a.query_id, e.vec_id, CAST(sum(a.dq) AS BIGINT) AS tq
      FROM enc e JOIN adc a ON e.j = a.j AND e.code = a.code
      WHERE e.vec_id <> a.query_id
      GROUP BY a.query_id, e.vec_id
    ), pq_topk AS (
      SELECT query_id, vec_id AS neighbor_id, tq, rn FROM (
        SELECT query_id, vec_id, tq,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY tq, vec_id) AS rn
        FROM scored
      ) WHERE rn <= {_TOPK}
    )
"""


@register(
    "d86_pq_adc_topk",
    oracle=f"""
    WITH {_PQ_CTES.strip()}
    SELECT query_id, neighbor_id,
           floor(CAST(tq AS DOUBLE) / {_FP!r} * 10000.0 + 0.5) / 10000.0
             AS adc_dist,
           rn
    FROM pq_topk
    """,
    description="product-quantization ANN (Jégou 2011): 64-dim "
    "embeddings encoded as m=16 subspace codes against deterministic "
    "first-64 codebooks; each panel query scores the whole corpus via "
    "asymmetric distance (per-query m×k lookup table, m adds per "
    "candidate — never a vector decode) and keeps top-10 by "
    "approximate squared L2. All distances 2^24 fixed-point BIGINTs "
    "from birth (d84's rule): assignment, ADC sums and ranking are "
    "integer-exact under any partial-agg order. Scale: encoding is "
    "the one-time corpus pass (broadcast m×k codebook, map-side "
    "min_by argmin) that materializes as the 4-byte/vector code "
    "table; query work joins codes to a broadcast panel×m×k table "
    "and ships (query, vec, BIGINT) partial sums; compose with d13's "
    "cell assignment for IVF-PQ, the standard 100 TB layout.",
    tags=("llm", "similarity", "pq"),
)
def d86_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pq_topk_df(spark, sf_dir)


@register(
    "d87_pq_recall",
    oracle=f"""
    WITH {_PQ_CTES.strip()},
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 CAST(floor(list_sum(list_transform(range(1, 65),
                        i -> (q.e[i] - x.e[i]) ^ 2)) * {_FP!r} + 0.5)
                      AS BIGINT),
                 x.vec_id) AS rn
        FROM v q JOIN v x ON x.vec_id <> q.vec_id
        WHERE q.vec_id % 25 = 0 AND q.vec_id < 500
      ) WHERE rn <= {_TOPK}
    )
    SELECT exact.query_id,
           CAST(count(pq_topk.rn) AS BIGINT) AS n_hits,
           round(count(pq_topk.rn) / {_TOPK}.0, 4) AS recall
    FROM exact
    LEFT JOIN pq_topk USING (query_id, neighbor_id)
    GROUP BY exact.query_id
    """,
    description="PQ index health check: recall@10 of d86's ADC top-10 "
    "against exact squared-L2 top-10 over the same fixed eval panel "
    "d70 uses for IVF — the number that says how much ranking quality "
    "the 64× compression costs, BEFORE pointing a 100 TB serving "
    "layer at the code table. Exact side is one corpus scan × the "
    "broadcast 20-query panel with fixed-point-quantized distances "
    "(deterministic ranking in both engines); the recall join is "
    "per-(query,neighbor) — k rows per query.",
    tags=("llm", "similarity", "pq", "eval"),
)
def d87_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir).embeddings
    # NO respread here (round-14 A/B): d87's exact side is a long
    # pipelined lineage (crossJoin -> 64-dim distance -> window) whose
    # single-task form beat the 64-task respread locally (1.37 vs
    # 1.70 s best); at 100 TB the scan arrives well-split and
    # ensure_parallelism would be a no-op anyway. The PQ side it
    # shares (_pq_subvectors) IS respread — that one measured faster.
    v = emb.select("vec_id", S.as_double_array("embedding").alias("_e"))
    q = v.filter(F.expr(_PANEL)).select(
        F.col("vec_id").alias("query_id"), F.col("_e").alias("_qe")
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _fixed_sq_l2("_qe", "_e", _DIM).alias("_dq"))
    )
    exact = S.top_k(scored, "query_id", ["_dq", "vec_id"], _TOPK).select(
        "query_id", F.col("vec_id").alias("neighbor_id")
    )
    pq = _pq_topk_df(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    return (
        exact.join(pq, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hit").cast("long").alias("n_hits"),
            F.round(F.count("_hit") / F.lit(float(_TOPK)), 4).alias(
                "recall"
            ),
        )
    )


# ---------------------------------------------------------------------------
# d88: IVF-PQ (IVFADC) — the composition d86's docstring promises
# ---------------------------------------------------------------------------

_NCELL = 16   # coarse cells (d13's deterministic first-16 convention)
_NPROBE = 2   # cells probed per query (d13/d70's configuration)

_D88_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), cents AS (
      SELECT vec_id AS cell, e AS ce FROM v WHERE vec_id < {_NCELL}
    ), vdist AS (
      SELECT v.vec_id, c.cell,
             CAST(floor(list_sum(list_transform(range(1, 65),
                    i -> (v.e[i] - c.ce[i]) ^ 2)) * {_FP!r} + 0.5)
                  AS BIGINT) AS cdq
      FROM v CROSS JOIN cents c
    ), assigned AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cdq, cell) AS rn
        FROM vdist
      ) WHERE rn = 1
    ), res AS (
      SELECT v.vec_id, a.cell,
             list_transform(range(1, 65), i -> v.e[i] - c.ce[i]) AS r
      FROM v JOIN assigned a USING (vec_id)
      JOIN cents c ON a.cell = c.cell
    ), rsubs AS (
      SELECT vec_id, cell, CAST(sp.j AS INT) AS j,
             r[(sp.j * {_PQ_SUB} + 1):(sp.j * {_PQ_SUB} + {_PQ_SUB})] AS sub
      FROM res CROSS JOIN range({_PQ_M}) AS sp(j)
    ), cb AS (
      SELECT vec_id AS code, j, sub AS cbv FROM rsubs
      WHERE vec_id < {_PQ_K}
    ), rdist AS (
      SELECT s.vec_id, s.cell, s.j, cb.code,
             CAST(floor(list_sum(list_transform(range(1, {_PQ_SUB} + 1),
                    i -> (s.sub[i] - cb.cbv[i]) ^ 2)) * {_FP!r} + 0.5)
                  AS BIGINT) AS dq
      FROM rsubs s JOIN cb ON s.j = cb.j
    ), enc AS (
      SELECT vec_id, cell, j, code FROM (
        SELECT vec_id, cell, j, code,
               row_number() OVER (PARTITION BY vec_id, j
                                  ORDER BY dq, code) AS rn
        FROM rdist
      ) WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cdq, cell) AS rn
        FROM vdist WHERE {_PANEL}
      ) WHERE rn <= {_NPROBE}
    ), qres AS (
      SELECT p.query_id, p.cell,
             list_transform(range(1, 65), i -> v.e[i] - c.ce[i]) AS qr
      FROM probes p JOIN v ON v.vec_id = p.query_id
      JOIN cents c ON p.cell = c.cell
    ), qsubs AS (
      SELECT query_id, cell, CAST(sp.j AS INT) AS j,
             qr[(sp.j * {_PQ_SUB} + 1):(sp.j * {_PQ_SUB} + {_PQ_SUB})] AS sub
      FROM qres CROSS JOIN range({_PQ_M}) AS sp(j)
    ), adc AS (
      SELECT q.query_id, q.cell, q.j, cb.code,
             CAST(floor(list_sum(list_transform(range(1, {_PQ_SUB} + 1),
                    i -> (q.sub[i] - cb.cbv[i]) ^ 2)) * {_FP!r} + 0.5)
                  AS BIGINT) AS dq
      FROM qsubs q JOIN cb ON q.j = cb.j
    ), cand AS (
      SELECT a.query_id, e.vec_id, CAST(sum(a.dq) AS BIGINT) AS tq,
             any_value(e.cell) AS cell
      FROM enc e
      JOIN adc a ON a.cell = e.cell AND a.j = e.j AND a.code = e.code
      WHERE e.vec_id <> a.query_id
      GROUP BY a.query_id, e.vec_id
    )
    SELECT query_id, vec_id AS neighbor_id,
           floor(CAST(tq AS DOUBLE) / {_FP!r} * 10000.0 + 0.5) / 10000.0
             AS adc_dist,
           CAST(cell AS BIGINT) AS cell, rn
    FROM (
      SELECT query_id, vec_id, tq, cell,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY tq, vec_id) AS rn
      FROM cand
    ) WHERE rn <= {_TOPK}
"""


@register(
    "d88_ivfpq_topk",
    oracle=_D88_ORACLE,
    description="IVF-PQ / IVFADC (Jégou 2011 §IV): the 100 TB serving "
    "layout assembled — squared-L2 coarse quantizer over the "
    "deterministic first-16 cells, RESIDUAL (x − centroid) product "
    "quantization against first-64 residual codebooks, and per-query "
    "ADC restricted to the nprobe=2 nearest cells' candidates, so "
    "query work is nprobe/k_cells of the corpus at 16 bytes per "
    "candidate. All distances 2^24 fixed-point BIGINTs from birth — "
    "coarse assignment, code assignment, ADC sums and ranking are "
    "integer-exact in both engines. Scale: assignment + encoding are "
    "the one-time corpus passes (broadcast 16-row centroid set, then "
    "broadcast m×k residual codebook; both argmins collapse map-side "
    "via min_by), materialized in production as the cell-partitioned "
    "code table; the query side broadcasts a panel×nprobe×m×k lookup "
    "table and ships (query, vec, BIGINT) partial sums.",
    tags=("llm", "similarity", "pq", "ivf"),
)
def d88_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir).embeddings
    # NO respread (round-14 A/B): d88 chains coarse assignment,
    # residual encode and the ADC join — ~10 pipelined stages whose
    # per-stage task overhead at 64 partitions outweighs the
    # parallelism on a 2000-row corpus (1.49 s single-split vs 1.88 s
    # respread, every lap). At 100 TB the scan arrives well-split and
    # the same plan parallelizes by itself.
    v = emb.select("vec_id", S.as_double_array("embedding").alias("_e"))
    cents = first_k_cells(v, _NCELL)
    # corpus side: AnnIndex.build's encode, minus the stored table
    rsubs = subvectors(assign_residual(v, cents, _DIM), "_r", _PQ_M, _PQ_SUB)
    cb = first_k_codebook(rsubs, _PQ_K)
    # query side: AnnIndex.search's fixed-nprobe path
    q = v.filter(F.expr(_PANEL)).withColumnRenamed("vec_id", "query_id")
    probes = nearest_probes(q, cents, _DIM, _NPROBE)
    return adc_topk(
        nearest_codes(rsubs, cb, _PQ_SUB),
        adc_table(probes, cb, _PQ_M, _PQ_SUB),
        _TOPK,
    )


# ---------------------------------------------------------------------------
# d89: PQ codebook health — the monitoring row for the d86/d88 family
# ---------------------------------------------------------------------------


def _pq_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, j, code, _dq): each vector-subspace's chosen code AND
    its quantization error (the min subspace distance d86's argmin
    discards) — the raw material of codebook-health monitoring."""
    subs, cb = _pq_subvectors(spark, sf_dir)
    return nearest_codes(subs, cb, _PQ_SUB, keep_dq=True)


@register(
    "d89_pq_codebook_health",
    oracle=f"""
    WITH {_PQ_CTES.strip()},
    chosen AS (
      SELECT vec_id, j, code, dq FROM (
        SELECT vec_id, j, code, dq,
               row_number() OVER (PARTITION BY vec_id, j
                                  ORDER BY dq, code) AS rn
        FROM dist
      ) WHERE rn = 1
    ), cu AS (
      SELECT j, code, count(*) AS c FROM chosen GROUP BY j, code
    ), top AS (
      SELECT j, code, c FROM (
        SELECT j, code, c,
               row_number() OVER (PARTITION BY j
                                  ORDER BY c DESC, code) AS rn
        FROM cu
      ) WHERE rn = 1
    ), agg AS (
      SELECT j, count(*) AS n, CAST(sum(dq) AS BIGINT) AS sd,
             max(dq) AS md, count(DISTINCT code) AS used
      FROM chosen GROUP BY j
    )
    SELECT agg.j,
           CAST(agg.n AS BIGINT) AS n_vectors,
           floor(CAST(agg.sd AS DOUBLE) / {_FP!r} / agg.n * 1000000.0
                 + 0.5) / 1000000.0 AS mean_qerr,
           floor(CAST(agg.md AS DOUBLE) / {_FP!r} * 10000.0 + 0.5)
             / 10000.0 AS max_qerr,
           CAST(agg.used AS BIGINT) AS codes_used,
           CAST(top.code AS BIGINT) AS top_code,
           floor(top.c * 1.0 / agg.n * 10000.0 + 0.5) / 10000.0
             AS top_code_share
    FROM agg JOIN top ON agg.j = top.j
    """,
    description="PQ codebook health: per subspace, the mean/max "
    "quantization error (the residual d86's ADC distances absorb as "
    "bias) and the code-usage profile — codes_used of k plus the top "
    "code's share, the standard dead-codebook detector: a subspace "
    "whose vectors pile onto few codes has stopped discriminating and "
    "needs retraining (the PQ analogue of d62's IVF cell profile; "
    "d87 measures the recall consequence, this says WHICH subspace "
    "to fix). Integer-exact: errors are d86's fixed-point BIGINTs, "
    "shares are count ratios, tie-breaks to the lowest code in both "
    "engines. Scale: one corpus×m×k distance pass (the same shape as "
    "the d86 encode — at 100 TB this rides the encode job for free), "
    "then everything is m- or m×k-sized.",
    tags=("llm", "similarity", "pq", "monitoring"),
)
def d89_pq_codebook_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    chosen = _pq_assignments(spark, sf_dir)
    cu = chosen.groupBy("j", "code").agg(F.count(F.lit(1)).alias("c"))
    top_key = F.struct(F.col("c"), (-F.col("code")).alias("_nc"))
    top = cu.groupBy("j").agg(
        F.max_by("code", top_key).cast("long").alias("top_code"),
        F.max("c").alias("_topc"),
    )
    agg = chosen.groupBy("j").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("_dq").alias("_sd"),
        F.max("_dq").alias("_md"),
        F.countDistinct("code").alias("codes_used"),
    )
    return (
        agg.join(top, "j")
        .select(
            "j",
            "n_vectors",
            ieee_round(
                F.col("_sd") / F.lit(_FP) / F.col("n_vectors"), 6
            ).alias("mean_qerr"),
            ieee_round(F.col("_md") / F.lit(_FP), 4).alias("max_qerr"),
            F.col("codes_used").cast("long").alias("codes_used"),
            "top_code",
            ieee_round(F.col("_topc") / F.col("n_vectors"), 4).alias(
                "top_code_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# d93/d94: cell-balance-aware (mass-targeted) adaptive nprobe — the
# serving loop's feedback edge. d62 profiles cell balance; these ops
# USE it: instead of a fixed nprobe, each query probes its
# distance-ranked cells until their cumulative vector mass reaches the
# mass a fixed nprobe would get on perfectly balanced cells
# (budget/k_cells of the corpus). A query whose nearest cells are tiny
# probes more cells; one whose nearest cell is fat stops early — the
# standard probe-by-mass refinement of IVF search (the quantity FAISS
# users tune via imbalance_factor, expressed as a per-query rule).
# Deterministic: cell ranking is d13/d70's (cosine desc, centroid_id)
# convention; everything after it — cell counts, cumulative mass, the
# probe gate (cum_prev × k_cells < budget × total, pure integer
# cross-multiplication, no ceil/float threshold) — is BIGINT exact.
# ---------------------------------------------------------------------------

_PROBE_BUDGET = _NPROBE  # same expected mass as the fixed d13/d70 config


def _adaptive_ivf_frames(spark: SparkSession, sf_dir: str):
    """(assigned, probes, probe_stats): the corpus cell assignment
    (d13's max_by shape), each query's mass-adaptive probe set, and
    per-query (n_probed, probed_mass). Panel-bounded frames stay
    broadcast-sized: probes ≤ |panel|×k_cells rows BEFORE the gate and
    typically ~2-3 cells per query after it."""
    emb = load_tables(spark, sf_dir).embeddings
    # per-ROW norms once; every scored pair pays ONE interpreted dot
    # fold instead of ~5 (cosine_pre — bit-identical, similarity.py).
    # NO respread (round-14 A/B: 1.13 vs 1.37 s — task overhead beats
    # parallelism on this lineage locally; a no-op at scale anyway)
    v = emb.select(
        "vec_id", S.as_double_array("embedding").alias("_e")
    ).withColumn("_n", S.norm(F.col("_e")))
    cents = v.filter(F.col("vec_id") < _NCELL).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("_e").alias("_ce"),
        F.col("_n").alias("_cn"),
    )
    # corpus assignment: argmax cell via max_by partial agg (d13).
    # Both the cell-count profile and the candidate join consume this
    # aggregate; Catalyst's ReuseExchange shares the one exchange
    # (verified: an explicit materialize() here moved d94 by <2%)
    key = F.struct(F.col("_csim"), (-F.col("centroid_id")).alias("_nc"))
    assigned = (
        v.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "_e",
            "_n",
            "centroid_id",
            S.cosine_pre(
                F.col("_e"), F.col("_ce"), F.col("_n"), F.col("_cn")
            ).alias("_csim"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by("centroid_id", key).alias("centroid_id"),
            F.any_value("_e").alias("_e"),
            F.any_value("_n").alias("_n"),
        )
    )
    # cell-balance profile (d62's share column, as raw counts): 16
    # rows; LEFT from cents so an empty cell counts 0, not missing
    cellcnt = cents.select("centroid_id").join(
        assigned.groupBy("centroid_id").agg(
            F.count(F.lit(1)).alias("n")
        ),
        "centroid_id",
        "left",
    ).select("centroid_id", F.coalesce("n", F.lit(0)).cast("long").alias("n"))
    tot = cellcnt.agg(F.sum("n").alias("_total"))
    q = v.filter(F.expr(_PANEL)).select(
        F.col("vec_id").alias("query_id"),
        F.col("_e").alias("_qe"),
        F.col("_n").alias("_qn"),
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("_csim").desc(), "centroid_id"
    )
    ranked = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "_qe",
            "_qn",
            "centroid_id",
            S.cosine_pre(
                F.col("_qe"), F.col("_ce"), F.col("_qn"), F.col("_cn")
            ).alias("_csim"),
        )
        .withColumn("_crn", F.row_number().over(wr))
    )
    wm = (
        Window.partitionBy("query_id")
        .orderBy("_crn")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_mass = ranked.join(F.broadcast(cellcnt), "centroid_id").select(
        "query_id",
        "_qe",
        "_qn",
        "centroid_id",
        "_crn",
        "n",
        F.coalesce(F.sum("n").over(wm), F.lit(0).cast("long")).alias(
            "_cum_prev"
        ),
    )
    probes = with_mass.crossJoin(F.broadcast(tot)).filter(
        F.col("_cum_prev") * _NCELL < F.lit(_PROBE_BUDGET) * F.col("_total")
    )
    probe_stats = probes.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_probed"),
        F.sum("n").alias("_probed_mass"),
        F.any_value("_total").alias("_total"),
    )
    return assigned, probes, probe_stats


_ADAPTIVE_CTES = f"""
    v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, e AS qe FROM v WHERE {_PANEL.replace("vec_id", "vec_id")}
    ), cents AS (
      SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < {_NCELL}
    ), assigned AS (
      SELECT vec_id, e, centroid_id FROM (
        SELECT v.vec_id, v.e, c.centroid_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_cosine_similarity(v.e, c.ce) DESC, c.centroid_id
               ) AS crn
        FROM v, cents c
      ) WHERE crn = 1
    ), cellcnt AS (
      SELECT c.centroid_id, CAST(COALESCE(a.n, 0) AS BIGINT) AS n
      FROM cents c LEFT JOIN (
        SELECT centroid_id, count(*) AS n FROM assigned GROUP BY centroid_id
      ) a USING (centroid_id)
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS total FROM cellcnt
    ), ranked AS (
      SELECT q.query_id, q.qe, c.centroid_id,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY list_cosine_similarity(q.qe, c.ce) DESC, c.centroid_id
             ) AS crn
      FROM q, cents c
    ), with_mass AS (
      SELECT r.query_id, r.qe, r.centroid_id, r.crn, cc.n,
             CAST(COALESCE(sum(cc.n) OVER (
               PARTITION BY r.query_id ORDER BY r.crn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_prev
      FROM ranked r JOIN cellcnt cc USING (centroid_id)
    ), probes AS (
      SELECT w.query_id, w.qe, w.centroid_id, w.crn, w.n
      FROM with_mass w, tot
      WHERE w.cum_prev * {_NCELL} < {_PROBE_BUDGET} * tot.total
    ), probe_stats AS (
      SELECT p.query_id, CAST(count(*) AS BIGINT) AS n_probed,
             CAST(sum(p.n) AS BIGINT) AS probed_mass,
             CAST(any_value(tot.total) AS BIGINT) AS total
      FROM probes p, tot GROUP BY p.query_id
    ), cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             list_cosine_similarity(p.qe, a.e) AS sim
      FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id
      WHERE a.vec_id <> p.query_id
    )
"""


@register(
    "d93_adaptive_nprobe_topk",
    oracle=f"""
    WITH {_ADAPTIVE_CTES.strip()}
    SELECT c.query_id, c.neighbor_id,
           round(c.sim, 4) AS cosine_sim, c.rn, ps.n_probed
    FROM (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rn
      FROM cand
    ) c JOIN probe_stats ps USING (query_id)
    WHERE c.rn <= {_TOPK}
    """,
    description="IVF top-k with cell-balance-aware adaptive nprobe: "
    "each query probes its cosine-ranked cells until their cumulative "
    "vector mass reaches budget/k_cells of the corpus (the mass a "
    "fixed nprobe=2 gets on perfectly balanced cells) — probe MORE "
    "cells when the nearest cells are tiny, stop early at a fat one. "
    "The probe gate is pure integer cross-multiplication "
    "(cum_prev×k_cells < budget×total); the returned n_probed makes "
    "the per-query decision auditable (2-3 on this corpus's 20-42 "
    "cell spread). Scale: identical to d13 plus a 16-row cell-count "
    "broadcast — the adaptive gate costs one window over "
    "panel×k_cells rows, nothing corpus-sized.",
    tags=("llm", "similarity", "ivf"),
)
def d93_adaptive_nprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned, probes, probe_stats = _adaptive_ivf_frames(spark, sf_dir)
    scored = (
        assigned.join(
            F.broadcast(
                probes.select("query_id", "_qe", "_qn", "centroid_id")
            ),
            "centroid_id",
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            S.cosine_pre(
                F.col("_qe"), F.col("_e"), F.col("_qn"), F.col("_n")
            ).alias("_sim"),
        )
    )
    return (
        S.top_k(scored, "query_id", [F.col("_sim").desc(), "neighbor_id"], _TOPK)
        .join(F.broadcast(probe_stats.select("query_id", "n_probed")), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round("_sim", 4).alias("cosine_sim"),
            "rn",
            "n_probed",
        )
    )


@register(
    "d94_adaptive_nprobe_recall",
    oracle=f"""
    WITH {_ADAPTIVE_CTES.strip()},
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY list_cosine_similarity(q.qe, v.e) DESC, v.vec_id
               ) AS rn
        FROM q JOIN v ON v.vec_id <> q.query_id
      ) WHERE rn <= {_TOPK}
    ), ncand AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS n_candidates
      FROM cand GROUP BY query_id
    ), ivf AS (
      SELECT query_id, neighbor_id, 1 AS hit FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rn
        FROM cand
      ) WHERE rn <= {_TOPK}
    )
    SELECT exact.query_id,
           CAST(count(ivf.hit) AS BIGINT) AS n_hits,
           round(count(ivf.hit) / {_TOPK}.0, 4) AS recall,
           CAST(any_value(ncand.n_candidates) AS BIGINT) AS n_candidates,
           CAST(any_value(ps.n_probed) AS BIGINT) AS n_probed,
           floor(any_value(ps.probed_mass) * 1.0
                 / any_value(ps.total) * 10000.0 + 0.5)
             / 10000.0 AS probed_share
    FROM exact
    LEFT JOIN ivf USING (query_id, neighbor_id)
    JOIN ncand USING (query_id)
    JOIN probe_stats ps ON ps.query_id = exact.query_id
    GROUP BY exact.query_id
    """,
    description="recall@10 of the adaptive-nprobe IVF against exact "
    "brute-force top-10 on d70's fixed eval panel — the d70 "
    "comparison row: same panel, same centroids, so (recall, "
    "n_candidates) here vs d70 quantifies exactly what probing by "
    "MASS instead of by COUNT buys on imbalanced cells, and "
    "(n_probed, probed_share) shows what it paid. Scale: d70's "
    "shape — exact side broadcasts only the bounded panel against "
    "one corpus scan; the adaptive side adds a 16-row cell-count "
    "broadcast and a panel-sized window.",
    tags=("llm", "similarity", "eval"),
)
def d94_adaptive_nprobe_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_tables(spark, sf_dir).embeddings
    # per-ROW norms once (cosine_pre — bit-identical, similarity.py);
    # NO respread (round-14 A/B: 0.99 vs 1.14 s — see
    # _adaptive_ivf_frames)
    v = emb.select(
        "vec_id", S.as_double_array("embedding").alias("_e")
    ).withColumn("_n", S.norm(F.col("_e")))
    assigned, probes, probe_stats = _adaptive_ivf_frames(spark, sf_dir)
    q = v.filter(F.expr(_PANEL)).select(
        F.col("vec_id").alias("query_id"),
        F.col("_e").alias("_qe"),
        F.col("_n").alias("_qn"),
    )
    by_sim = [F.col("_sim").desc(), "neighbor_id"]
    exact = S.top_k(
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            S.cosine_pre(
                F.col("_qe"), F.col("_e"), F.col("_qn"), F.col("_n")
            ).alias("_sim"),
        ),
        "query_id",
        by_sim,
        _TOPK,
        "_rn",
    ).select("query_id", "neighbor_id")
    # candidate set feeds BOTH the count and the top-k ranking;
    # panel-bounded (|panel| × probed cells' vectors)
    cand = materialize(
        assigned.join(
            F.broadcast(
                probes.select("query_id", "_qe", "_qn", "centroid_id")
            ),
            "centroid_id",
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            S.cosine_pre(
                F.col("_qe"), F.col("_e"), F.col("_qn"), F.col("_n")
            ).alias("_sim"),
        )
    )
    ncand = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    ivf = S.top_k(cand, "query_id", by_sim, _TOPK, "_rn").select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    return (
        exact.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_hit").alias("n_hits"))
        .join(ncand, "query_id")
        .join(
            probe_stats.select(
                "query_id", "n_probed", "_probed_mass", "_total"
            ),
            "query_id",
        )
        .select(
            "query_id",
            F.col("n_hits").cast("long").alias("n_hits"),
            F.round(F.col("n_hits") / _TOPK, 4).alias("recall"),
            "n_candidates",
            "n_probed",
            # integer ratio -> exact-tie risk at other corpus sizes:
            # ieee_round (floor(x*1e4+0.5)/1e4 mirrored in the oracle)
            # per the repo's half-way rule; the transcendental-derived
            # recall (n/10, one decimal digit) can't tie at 4 decimals
            ieee_round(
                F.col("_probed_mass") / F.col("_total"), 4
            ).alias("probed_share"),
        )
    )
