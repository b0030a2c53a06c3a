"""LLM-pipeline operators, part 15: fixed-memory sketch primitives —
count-min heavy-hitters, a Bloom-filter dedup gate, and a HyperLogLog
cardinality estimate. The classic streaming/monitoring sketches
re-expressed as DataFrame ops with DETERMINISTIC md5-lane hashing, so
all are oracle-checkable bit-for-bit (unlike library sketches, whose
seeds/implementations differ across engines).

Public literature: Cormode & Muthukrishnan, "An improved data stream
summary: the count-min sketch and its applications" (J. Algorithms
2005); Bloom, "Space/time trade-offs in hash coding with allowable
errors" (CACM 1970); Flajolet, Fusy, Gandouet & Meunier,
"HyperLogLog: the analysis of a near-optimal cardinality estimation
algorithm" (AofA 2007).

Why these matter at 100 TB: all three sketches are FIXED-SIZE
regardless of corpus size — the CMS table is lanes×width rows, the
Bloom bit table is ≤ m rows, the HLL register table is m rows — so
the "model" side of every join is broadcastable forever, where the
exact alternatives (a vocabulary count table, a corpus fingerprint
set, a corpus-wide distinct) grow with the data. The CMS is the
heavy-hitter monitor a streaming ingest keeps when the vocab table
won't fit; the Bloom gate is the cheap admission pre-filter in front
of CorpusIndex's band join — most NOVEL documents are rejected by a
broadcast bitmap probe without ever touching the stored index, and
only Bloom-positive docs (true dups + the measured false-positive
fraction) pay the join; the HLL registers merge across
shards/micro-batches by pairwise max.

Reference parity note: kpipe declares analytics out of scope
(/root/reference/README.md:190-208); north-star LLM surface
(SURVEY.md §2.4).

Determinism discipline: every hash lane is a substring of the md5
hex digest (identical in Spark/DuckDB/Python for identical UTF-8
bytes) cast through hex→decimal and reduced mod a power of two —
integer arithmetic end to end; counts are integer sums. d96/d97
contain no floating point at all; d98's floats are confined to
dyadic-exact register sums (order-independent by exact
representability) and one final transcendental estimate, ieee_round
-ed under the repo's half-way rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kpipe_spark.catalog import load_tables
from kpipe_spark.functions import text as T

# lane hashing + Bloom geometry live in functions/sketches.py (shared
# with the BloomGate stored artifact — the streaming-maintained form
# of d97); the queries here stay the self-contained oracle-graded
# derivations
from kpipe_spark.functions.sketches import (
    BLOOM_K as _BLOOM_K,
    BLOOM_M as _BLOOM_M,
    CMS_LANES as _CMS_LANES,
    CMS_WIDTH as _CMS_WIDTH,
    bloom_bits,
    md5_lane as _md5_lane,
    md5_lane_sql as _md5_lane_sql,
)
from kpipe_spark.queries import register
from kpipe_spark.util import ieee_round

_CMS_TOPK = 20


@register(
    "d96_cms_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                x -> x <> '')) AS t
      FROM documents
      WHERE text IS NOT NULL AND regexp_matches(text, '\\S')
    ), cells AS (
      SELECT lane,
             CASE lane
               {" ".join(f"WHEN {i} THEN {_md5_lane_sql('t', i, _CMS_WIDTH)}" for i in range(_CMS_LANES))}
             END AS cell
      FROM tok CROSS JOIN range({_CMS_LANES}) AS l(lane)
    ), cms AS (
      SELECT lane, cell, CAST(count(*) AS BIGINT) AS c
      FROM cells GROUP BY lane, cell
    ), exact AS (
      SELECT t, CAST(count(*) AS BIGINT) AS exact_count
      FROM tok GROUP BY t ORDER BY exact_count DESC, t LIMIT {_CMS_TOPK}
    ), probes AS (
      SELECT exact.t, exact.exact_count, l.lane,
             CASE l.lane
               {" ".join(f"WHEN {i} THEN {_md5_lane_sql('exact.t', i, _CMS_WIDTH)}" for i in range(_CMS_LANES))}
             END AS cell
      FROM exact CROSS JOIN range({_CMS_LANES}) AS l(lane)
    )
    SELECT p.t AS token, any_value(p.exact_count) AS exact_count,
           CAST(min(cms.c) AS BIGINT) AS cms_estimate,
           CAST(min(cms.c) - any_value(p.exact_count) AS BIGINT)
             AS overestimate
    FROM probes p JOIN cms USING (lane, cell)
    GROUP BY p.t
    """,
    description="count-min-sketch heavy hitters (Cormode & "
    "Muthukrishnan 2005): every token occurrence increments one cell "
    "per lane (4 md5-derived lanes × 1024 cells — 4096 counters, "
    "FIXED whatever the corpus size), a token's estimate is the min "
    "over its lanes' cells, reported here against the exact top-20 "
    "with the per-token overestimate (≥0 by the CMS guarantee, "
    "pinned in tests). The monitoring primitive for when the exact "
    "vocab table won't fit: at 100 TB the sketch is still 4096 rows "
    "— broadcastable forever — and updates via one map-side-combined "
    "aggregate per micro-batch. Deterministic md5 lanes make it the "
    "rare sketch an oracle can hash-verify. Scale: one corpus token "
    "explode into a 4096-key aggregate (the ONLY corpus-sized "
    "exchange, and far smaller-keyed than a vocab count); the top-20 "
    "exact side compiles to TakeOrderedAndProject.",
    tags=("llm", "monitoring", "sketch"),
)
def d96_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir).documents
    content = F.col("text").isNotNull() & F.col("text").rlike(r"\S")
    tok = docs.filter(content).select(
        F.explode(T.tokens("text")).alias("t")
    )
    lanes = F.array(
        *[
            F.struct(
                F.lit(i).alias("lane"),
                _md5_lane(F.col("t"), i, _CMS_WIDTH).alias("cell"),
            )
            for i in range(_CMS_LANES)
        ]
    )
    cms = (
        tok.select(F.explode(lanes).alias("lc"))
        .select("lc.lane", "lc.cell")
        .groupBy("lane", "cell")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), "t")
        .limit(_CMS_TOPK)
    )
    probes = exact.select(
        "t", "exact_count", F.explode(lanes).alias("lc")
    ).select("t", "exact_count", "lc.lane", "lc.cell")
    # cms is 4096 rows by construction — the broadcastable sketch is
    # the entire point of the op
    return (
        probes.join(F.broadcast(cms), ["lane", "cell"])
        .groupBy("t")
        .agg(
            F.any_value("exact_count").alias("exact_count"),
            F.min("c").alias("cms_estimate"),
            (F.min("c") - F.any_value("exact_count")).alias(
                "overestimate"
            ),
        )
        .select(
            F.col("t").alias("token"),
            "exact_count",
            "cms_estimate",
            "overestimate",
        )
    )


_BLOOM_FP_SQL = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"


@register(
    "d97_bloom_dedup_gate",
    oracle=f"""
    WITH corpus AS (
      SELECT DISTINCT {_BLOOM_FP_SQL} AS fp FROM documents
      WHERE text IS NOT NULL AND doc_id % 4 <> 0
    ), batch AS (
      SELECT doc_id, {_BLOOM_FP_SQL} AS fp FROM documents
      WHERE text IS NOT NULL AND doc_id % 4 = 0
    ), bits AS (
      SELECT DISTINCT
             CASE l.lane
               {" ".join(f"WHEN {i} THEN {_md5_lane_sql('fp', i, _BLOOM_M)}" for i in range(_BLOOM_K))}
             END AS bit
      FROM corpus CROSS JOIN range({_BLOOM_K}) AS l(lane)
    ), probe AS (
      SELECT b.doc_id, b.fp,
             CASE l.lane
               {" ".join(f"WHEN {i} THEN {_md5_lane_sql('fp', i, _BLOOM_M)}" for i in range(_BLOOM_K))}
             END AS bit
      FROM batch b CROSS JOIN range({_BLOOM_K}) AS l(lane)
    ), gated AS (
      SELECT p.doc_id, any_value(p.fp) AS fp,
             CAST(sum(CASE WHEN bits.bit IS NULL THEN 0 ELSE 1 END)
                  = {_BLOOM_K} AS INTEGER) AS bloom_positive
      FROM probe p LEFT JOIN bits ON p.bit = bits.bit
      GROUP BY p.doc_id
    )
    SELECT g.doc_id,
           g.bloom_positive,
           CAST(corpus.fp IS NOT NULL AS INTEGER) AS exact_dup,
           CAST(g.bloom_positive = 1 AND corpus.fp IS NULL AS INTEGER)
             AS false_positive
    FROM gated g LEFT JOIN corpus ON g.fp = corpus.fp
    """,
    description="Bloom-filter admission gate (Bloom 1970): the corpus' "
    "exact-dedup fingerprints set k=3 md5-derived bits in an m=2^14 "
    "bitmap (a ≤16384-row bit table, FIXED whatever the corpus — "
    "broadcastable forever), and an arriving batch probes it: a doc "
    "is Bloom-positive iff all 3 of its bits are set. Per batch doc "
    "the op reports the gate verdict, the exact-dup ground truth, and "
    "the false-positive flag — the measured FP rate (~0.12 at sf0.1's "
    "~50% fill) IS the gate's sizing audit. The 100 TB admission "
    "shape this buys: most NOVEL documents are rejected by the "
    "broadcast bitmap probe and never pay CorpusIndex's band join; "
    "only true dups + the FP fraction proceed. No false negatives by "
    "construction (pinned in tests). Scale: the fingerprint hash is "
    "hashed ONCE per md5 (bits derive from the fp string's own md5 "
    "lanes); the bit table and the probe set are the only joined "
    "frames, both bounded; integer/md5 arithmetic end to end.",
    tags=("llm", "dedup", "sketch"),
)
def d97_bloom_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir).documents
    has_text = F.col("text").isNotNull()
    corpus = (
        docs.filter(has_text & (F.col("doc_id") % 4 != 0))
        .select(T.fingerprint("text").alias("fp"))
        .distinct()
    )
    batch = docs.filter(has_text & (F.col("doc_id") % 4 == 0)).select(
        "doc_id", T.fingerprint("text").alias("fp")
    )

    bits = (
        corpus.select(F.explode(bloom_bits(F.col("fp"))).alias("bit"))
        .distinct()
        .withColumn("_set", F.lit(1))
    )
    probe = batch.select(
        "doc_id", "fp", F.explode(bloom_bits(F.col("fp"))).alias("bit")
    )
    gated = (
        probe.join(F.broadcast(bits), "bit", "left")
        .groupBy("doc_id")
        .agg(
            F.any_value("fp").alias("fp"),
            (F.sum(F.coalesce("_set", F.lit(0))) == _BLOOM_K)
            .cast("int")
            .alias("bloom_positive"),
        )
    )
    return (
        gated.join(
            corpus.withColumn("_dup", F.lit(1)), "fp", "left"
        )
        .select(
            "doc_id",
            "bloom_positive",
            F.coalesce("_dup", F.lit(0)).cast("int").alias("exact_dup"),
            (
                (F.col("bloom_positive") == 1)
                & F.col("_dup").isNull()
            )
            .cast("int")
            .alias("false_positive"),
        )
    )


# HLL geometry: m = 256 registers (8 bucket bits from md5 lane 0); the
# rho source is lane 1's 32-bit value. Standard error 1.04/sqrt(m) ≈
# 6.5% — coarse on purpose so the rel_error column exercises a real
# estimation gap at oracle scale. A production monitor sizes m up
# (2^14 registers ≈ 0.8%); the register table stays broadcast-sized
# through any m that fits a task.
_HLL_M = 256


@register(
    "d98_hll_distinct_tokens",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                         x -> x <> '')) AS t
      FROM documents
      WHERE text IS NOT NULL AND regexp_matches(text, '\\S')
    ), hashed AS (
      SELECT {_md5_lane_sql('t', 0, _HLL_M)} AS bucket,
             {_md5_lane_sql('t', 1, 1 << 32)} AS x
      FROM tok
    ), regs AS (
      SELECT bucket,
             max(CASE WHEN x = 0 THEN 33
                      ELSE 33 - length(bin(x)) END) AS mrho
      FROM hashed GROUP BY bucket
    ), summary AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM tok) AS n_exact,
             CAST(count(*) AS BIGINT) AS n_registers_hit,
             sum(pow(2.0, -mrho)) AS s_hit
      FROM regs
    ), raws AS (
      SELECT n_exact, n_registers_hit,
             0.7213 / (1 + 1.079 / {_HLL_M}.0) * {_HLL_M} * {_HLL_M}
               / (s_hit + ({_HLL_M} - n_registers_hit)) AS raw,
             {_HLL_M} - n_registers_hit AS zeros
      FROM summary
    ), final AS (
      SELECT n_exact, n_registers_hit,
             CASE WHEN raw <= 2.5 * {_HLL_M} AND zeros > 0
                  THEN {_HLL_M} * ln({_HLL_M} * 1.0 / zeros)
                  ELSE raw END AS est
      FROM raws
    )
    SELECT n_exact, n_registers_hit,
           floor(est * 10000.0 + 0.5) / 10000.0 AS hll_estimate,
           floor((est - n_exact) / n_exact * 10000.0 + 0.5) / 10000.0
             AS rel_error
    FROM final
    """,
    description="HyperLogLog distinct-token estimate (Flajolet, Fusy, "
    "Gandouet & Meunier 2007): each distinct token hashes to one of "
    "256 registers (md5 lane 0) which keeps the max leading-zero rank "
    "rho of a second 32-bit lane; the harmonic-mean estimate (with the "
    "standard small-range linear-counting correction) is reported "
    "against the exact distinct count with its relative error. The "
    "distinct-counting member of the fixed-memory monitor family "
    "(d96 CMS = frequencies, d97 Bloom = membership, d98 = "
    "cardinality): at 100 TB the register table is still 256 rows — "
    "mergeable across shards/micro-batches by pairwise max, "
    "broadcastable forever — where the exact count needs a "
    "corpus-wide distinct. Deterministic md5 lanes + integer rho "
    "(33 - length(bin(x)), no float log2) + dyadic-exact register "
    "sums (every 2^-rho term and their 256-term sum is exactly "
    "representable, so partial-agg order cannot flicker) make it "
    "hash-gradeable. Scale: ONE corpus explode into a distinct "
    "(vocab-shaped, the d96 discipline), then a 256-row aggregate; "
    "the exact side shares the same distinct.",
    tags=("llm", "monitoring", "sketch"),
)
def d98_hll_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir).documents
    content = F.col("text").isNotNull() & F.col("text").rlike(r"\S")
    tok = (
        docs.filter(content)
        .select(F.explode(T.tokens("text")).alias("t"))
        .distinct()
    )
    m = _HLL_M
    hashed = tok.select(
        _md5_lane(F.col("t"), 0, m).alias("bucket"),
        _md5_lane(F.col("t"), 1, 1 << 32).alias("x"),
    )
    rho = F.when(F.col("x") == 0, F.lit(33)).otherwise(
        F.lit(33) - F.length(F.bin("x"))
    )
    regs = (
        hashed.select("bucket", rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("mrho"))
    )
    summary = regs.agg(
        F.count(F.lit(1)).cast("long").alias("n_registers_hit"),
        F.sum(F.pow(F.lit(2.0), -F.col("mrho"))).alias("s_hit"),
    )
    n_exact = tok.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    # 1-row × 1-row: broadcast nested loop, never a CartesianProduct
    raw = (
        F.lit(0.7213)
        / (F.lit(1) + F.lit(1.079) / F.lit(float(m)))
        * m
        * m
        / (F.col("s_hit") + (F.lit(m) - F.col("n_registers_hit")))
    )
    zeros = F.lit(m) - F.col("n_registers_hit")
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(m) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return (
        n_exact.crossJoin(F.broadcast(summary))
        .select(
            "n_exact",
            "n_registers_hit",
            ieee_round(est, 4).alias("hll_estimate"),
            ieee_round(
                (est - F.col("n_exact")) / F.col("n_exact"), 4
            ).alias("rel_error"),
        )
    )


from kpipe_spark.queries.llm_ops10 import _QUALITY_SQL as _QUALITY_SQL_D99

# A-ES reservoir size
_RES_K = 100
# key quantizer: 2^20 fixed point on ln(u)/w — the unigram qln rule
# (a 1-ulp libm disagreement flips the BIGINT only on a ~2^-32
# half-integer coincidence; a genuine collision is SAFE, both engines
# compute the same integer and break the tie on doc_id)
_RES_SCALE = 1 << 20


@register(
    "d99_weighted_reservoir_sample",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, source,
             {{quality}} AS quality
      FROM documents
    ), keyed AS (
      SELECT doc_id, source, quality,
             CAST(floor(
               ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 4294967296 + 1) / 4294967296.0)
               / (quality * quality) * {_RES_SCALE}.0) AS BIGINT) AS es_key
      FROM q WHERE quality > 0
    )
    SELECT doc_id, source, quality, es_key
    FROM keyed ORDER BY es_key DESC, doc_id LIMIT {_RES_K}
    """.replace("{quality}", _QUALITY_SQL_D99),
    description="weighted reservoir sample without replacement "
    "(Efraimidis & Spirakis 2006, A-ES): each doc draws a "
    "deterministic uniform u from its id's md5 lane and ranks by "
    "ln(u)/w — the log form of the paper's u^(1/w) key (order-"
    "equivalent by monotonicity; avoids pow(), whose last ulp differs "
    "across libms where d50's docstring already refuses it), with "
    "w = quality² (d50's sharpened weight; zero-weight docs are never "
    "sampled, per the estimator). The top-k by key IS an exact-size-k "
    "sample ∝ weights — the companion to d50's Bernoulli thinning "
    "(which only controls the EXPECTED size). Keys quantize to 2^20 "
    "fixed-point BIGINTs (the unigram qln rule) so the driver hash "
    "compare is integer-exact; ties break on doc_id. Scale: one "
    "projection + TakeOrderedAndProject (per-partition heaps, no "
    "global sort, no shuffle beyond k rows per partition) — the "
    "sample is computable in one pass at any corpus size, and the "
    "A-ES key is mergeable across shards by keeping each shard's "
    "top-k and re-ranking (k·shards rows).",
    tags=("llm", "sampling", "sketch"),
)
def d99_weighted_reservoir_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from kpipe_spark.functions.text import quality_score_from_tokens, tokens

    docs = load_tables(spark, sf_dir).documents
    # tokens projected once per row (quality_score_from_tokens)
    q = (
        docs.select(
            "doc_id", "source", "text", tokens("text").alias("_tk")
        )
        .select(
            "doc_id",
            "source",
            quality_score_from_tokens(F.col("_tk"), F.col("text")).alias(
                "quality"
            ),
        )
        .filter(F.col("quality") > 0)
    )
    x = _md5_lane(F.col("doc_id").cast("string"), 0, 1 << 32)
    u = (x + F.lit(1)) / F.lit(4294967296.0)
    w = F.col("quality") * F.col("quality")
    keyed = q.select(
        "doc_id",
        "source",
        "quality",
        F.floor(F.log(u) / w * F.lit(float(_RES_SCALE)))
        .cast("long")
        .alias("es_key"),
    )
    return keyed.orderBy(F.col("es_key").desc(), "doc_id").limit(_RES_K)
