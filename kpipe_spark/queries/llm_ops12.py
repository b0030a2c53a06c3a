"""LLM-pipeline operators, part 12: block-level dedup retention,
intra-document repetition mass, crawl-shard document stitching,
sequence-length planning, IVF cluster purity, and data-constrained
epoch planning — the round-5 additions.

Reference parity note: kpipe declares analytics out of scope
(/root/reference/README.md:190-208); these extend the north-star LLM
surface (SURVEY.md §2.4) over the synthetic documents/embeddings
tables. All are public-literature methods: passage/block-level
deduplication (the MassiveText / RefinedWeb "remove repeated
passages" rule applied at fixed block granularity), intra-document
duplicate-n-gram mass (the Gopher repetition filters, complementing
d22's top-bigram coverage), boundary-hash document stitching (crawl
shards that split one page into consecutive records), truncation-loss
curves (the max-sequence-length planning table), cluster label purity
/ entropy (the standard external clustering quality check applied to
the d13 IVF cells), and data-constrained epoch allocation (repeat
factors under a token budget with a repeat cap, after Muennighoff et
al. 2023 "Scaling Data-Constrained Language Models").

Scale discipline: every join is keyed on a block/boundary hash or a
cell id (no cartesian anywhere); broadcast hints only carry operands
from the reviewed allowlist (the k-row centroid set, 1-row totals).
Branch-shared corpus-scaled frames route through util.materialize so
clusters can swap block storage for a stored feature table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kpipe_spark.catalog import load_tables
from kpipe_spark.functions import dedup as D
from kpipe_spark.functions import text as T
from kpipe_spark.functions.ann_index import _FP
from kpipe_spark.queries import register
from kpipe_spark.util import ensure_parallelism, ieee_round, materialize

# Shared tokenization CTE — the ''-filtered tokens() contract (the
# d57/dirty-fixture rule: plain regexp_split keeps phantom '' tokens).
_TOKS_CTE = r"""
    toks AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(text, '\s+'),
                         x -> x <> '') AS t
      FROM documents
      WHERE text IS NOT NULL AND regexp_matches(text, '\S')
    )
"""

# Disjoint dedup-block width (tokens). Production corpora use larger
# blocks (and d67's 128/96 overlapping windows for retrieval); 32
# keeps multi-block docs present at the test scales.
_BLOCK = 32

# Boundary width (tokens) for d82 stitching. Real crawl stitching uses
# 16-32-token boundaries; the synthetic corpus' tiny vocabulary makes
# 2 the width where genuine boundary collisions exist at sf0.01.
_BOUND = 2
# Boundary hashes shared by more docs than this are templates
# (d33's boilerplate logic), not split pages — joining them would be
# the quadratic hot-bucket blowup, so both join sides are capped.
_BOUND_DF_CAP = 16

# _FP, the 2^24 fixed-point scale, makes fractional sums order-free
# (d74's trick): per-term doubles are quantized to BIGINTs so the
# cross-partition sum is exact integer arithmetic under any
# partial-aggregation order.

# Candidate max-sequence-lengths for the truncation-loss curve.
_TRUNC_LENS = (16, 32, 64, 96, 128)

# Data-constrained plan parameters: token budget as a multiple of the
# unique corpus, mixture temperature alpha (share ∝ tokens^alpha), and
# the epoch cap beyond which repeated data stops helping (Muennighoff
# et al. 2023 find ~4 epochs is near-free, value decays after).
_BUDGET_MULT = 1.5
_EPOCH_CAP = 4.0


def _content(col: str = "text"):
    return F.col(col).isNotNull() & F.col(col).rlike(r"\S")


@register(
    "d80_block_dedup_retention",
    oracle=rf"""
    WITH {_TOKS_CTE.strip()},
    base AS (
      SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 1
    ), ks AS (
      SELECT doc_id, t,
             unnest(range(0, CAST(ceil(n / {_BLOCK}.0) AS BIGINT))) AS k
      FROM base
    ), blk AS (
      SELECT doc_id, k,
             CAST(len(t[k*{_BLOCK}+1 : k*{_BLOCK}+{_BLOCK}]) AS BIGINT)
               AS bt,
             CAST(concat('0x', substr(md5(array_to_string(
                    t[k*{_BLOCK}+1 : k*{_BLOCK}+{_BLOCK}], ' ')), 1, 15))
                  AS BIGINT) AS h
      FROM ks
    ), tot AS (
      SELECT doc_id, count(*) AS n_blocks, CAST(sum(bt) AS BIGINT) AS tt
      FROM blk GROUP BY doc_id
    ), win AS (
      SELECT doc_id, bt FROM (
        SELECT doc_id, bt,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, k) AS rn
        FROM blk
      ) WHERE rn = 1
    ), ret AS (
      SELECT doc_id, count(*) AS n_ret, CAST(sum(bt) AS BIGINT) AS rt
      FROM win GROUP BY doc_id
    )
    SELECT tot.doc_id,
           CAST(tot.n_blocks AS BIGINT) AS n_blocks,
           CAST(tot.n_blocks - coalesce(ret.n_ret, 0) AS BIGINT)
             AS n_dup_blocks,
           floor(coalesce(ret.rt, 0) * 1.0 / tt * 10000.0 + 0.5)
             / 10000.0 AS retained_token_frac
    FROM tot LEFT JOIN ret ON tot.doc_id = ret.doc_id
    """,
    description="block-level dedup retention: documents are cut into "
    f"disjoint {_BLOCK}-token blocks (tail block short) and a block "
    "is RETAINED iff it is the corpus-wide first occurrence of its "
    "content hash (min (doc_id, position) — ingestion order, the "
    "MassiveText/RefinedWeb repeated-passage rule at fixed block "
    "granularity; d67's overlapping windows serve retrieval, these "
    "disjoint blocks serve dedup). Per document: block count, "
    "duplicate-block count, and the token fraction that survives "
    "passage-level dedup — exact doc dups retain 0.0 of every block "
    "after the first copy, while d61-style partial overlaps lose only "
    "the shared spans. Scale: one block explode; first-occurrence "
    "winners are a hash-keyed min-struct aggregate whose winner rows "
    "are counted per doc (d71's winners-per-doc shape — no join back "
    "on the hash), so nothing after the explode exceeds "
    "one-row-per-block and both aggregates map-side combine.",
    tags=("llm", "dedup", "tokenize"),
)
def d80_block_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir).documents
    base = (
        ensure_parallelism(docs.filter(_content()))
        .select("doc_id", T.tokens("text").alias("t"))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") >= 1)
    )
    nb = F.ceil(F.col("n") / F.lit(float(_BLOCK))).cast("long")
    sl = F.slice("t", (F.col("k") * _BLOCK + 1).cast("int"), _BLOCK)
    blk = materialize(
        base.select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(0).cast("long"), nb - 1)).alias("k"),
        ).select(
            "doc_id",
            "k",
            F.size(sl).cast("long").alias("bt"),
            D.md5_hash60(F.concat_ws(" ", sl)).alias("h"),
        ),
        scale="corpus",
    )
    tot = blk.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum("bt").alias("tt"),
    )
    ret = (
        blk.groupBy("h")
        .agg(F.min(F.struct("doc_id", "k", "bt")).alias("w"))
        .select(F.col("w.doc_id").alias("doc_id"), F.col("w.bt").alias("bt"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_ret"), F.sum("bt").alias("rt"))
    )
    return tot.join(ret, "doc_id", "left").select(
        "doc_id",
        "n_blocks",
        (F.col("n_blocks") - F.coalesce(F.col("n_ret"), F.lit(0))).alias(
            "n_dup_blocks"
        ),
        ieee_round(
            F.coalesce(F.col("rt"), F.lit(0)) / F.col("tt"), 4
        ).alias("retained_token_frac"),
    )


@register(
    "d81_intradoc_dup_grams",
    oracle=rf"""
    WITH {_TOKS_CTE.strip()},
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - 3),
               i -> CAST(concat('0x', substr(md5(
                      array_to_string(t[i : i+4], ' ')), 1, 15)) AS BIGINT)
             )) AS h
      FROM toks WHERE len(t) >= 5
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_grams,
           floor((1 - count(DISTINCT h) * 1.0 / count(*)) * 10000.0 + 0.5)
             / 10000.0 AS dup_gram_frac
    FROM grams GROUP BY doc_id
    """,
    description="intra-document duplicate n-gram mass: per document, "
    "the fraction of its 5-token shingle OCCURRENCES that are repeats "
    "of an earlier shingle in the same document — the Gopher "
    "duplicate-line/paragraph-fraction family of repetition filters "
    "(Rae et al. 2021), complementary to d22 (which measures only the "
    "single most frequent bigram's coverage) and to d61 (which finds "
    "CROSS-document spans). Docs under 5 tokens have no 5-gram and "
    "are excluded rather than scored 0 — same population rule as "
    "d61's gram stage. Scale: a per-doc count + distinct-count over "
    "(doc, gram-hash) — the distinct expands map-side and shuffles "
    "one row per distinct (doc, hash); no joins.",
    tags=("llm", "quality", "tokenize"),
)
def d81_intradoc_dup_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir).documents
    base = (
        ensure_parallelism(docs.filter(_content()))
        .select("doc_id", T.tokens("text").alias("t"))
        .filter(F.size("t") >= 5)
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 4),
                lambda i: D.md5_hash60(
                    F.concat_ws(" ", F.slice("t", i, 5))
                ),
            )
        ).alias("h"),
    )
    return grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.countDistinct("h").alias("n_distinct_grams"),
        ieee_round(
            F.lit(1) - F.countDistinct("h") / F.count(F.lit(1)), 4
        ).alias("dup_gram_frac"),
    )


@register(
    "d82_doc_stitching",
    oracle=rf"""
    WITH {_TOKS_CTE.strip()},
    b AS (
      SELECT doc_id, source,
             md5(array_to_string(t[1 : {_BOUND}], ' ')) AS hh,
             md5(array_to_string(t[-{_BOUND} : ], ' ')) AS th
      FROM toks WHERE len(t) >= {2 * _BOUND}
    ), hok AS (
      SELECT hh FROM b GROUP BY hh HAVING count(*) <= {_BOUND_DF_CAP}
    ), tok2 AS (
      SELECT th FROM b GROUP BY th HAVING count(*) <= {_BOUND_DF_CAP}
    )
    SELECT a.doc_id AS left_doc,
           c.doc_id AS right_doc,
           a.source AS source,
           a.th AS boundary_hash
    FROM b a JOIN b c
      ON a.th = c.hh AND a.source = c.source AND a.doc_id <> c.doc_id
    WHERE a.th IN (SELECT th FROM tok2)
      AND c.hh IN (SELECT hh FROM hok)
    """,
    description="crawl-shard document stitching: candidate (left, "
    "right) pairs where the TAIL boundary of one document equals the "
    f"HEAD boundary of another in the same source ({_BOUND}-token "
    "boundaries here; production uses 16-32 — the synthetic corpus' "
    "tiny vocabulary makes 2 the width with genuine collisions) — the "
    "detector for one page split across consecutive crawl records, "
    "whose halves would otherwise slip past doc-level dedup and "
    "truncate context at a shard seam. Boundary hashes shared by more "
    f"than {_BOUND_DF_CAP} docs are templates (d33's boilerplate "
    "class), excluded from BOTH sides before the join so a hot "
    "boundary cannot go quadratic. Scale: two hash-keyed count "
    "aggregates (map-side combine), two semi-joins on those keys, and "
    "one equi-join on (tail-hash, source) — never a cartesian; AQE "
    "skew-split handles any surviving hot boundary.",
    tags=("llm", "dedup", "tokenize"),
)
def d82_doc_stitching(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir).documents
    b = materialize(
        ensure_parallelism(docs.filter(_content()))
        .select("doc_id", "source", T.tokens("text").alias("t"))
        .filter(F.size("t") >= 2 * _BOUND)
        .select(
            "doc_id",
            "source",
            F.md5(F.concat_ws(" ", F.slice("t", 1, _BOUND))).alias("hh"),
            F.md5(F.concat_ws(" ", F.slice("t", -_BOUND, _BOUND))).alias(
                "th"
            ),
        ),
        scale="corpus",
    )
    hok = (
        b.groupBy("hh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") <= _BOUND_DF_CAP)
        .select("hh")
    )
    tok = (
        b.groupBy("th")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") <= _BOUND_DF_CAP)
        .select("th")
    )
    left = b.join(tok, "th", "left_semi").alias("a")
    right = b.join(hok, "hh", "left_semi").alias("c")
    return left.join(
        right,
        (F.col("a.th") == F.col("c.hh"))
        & (F.col("a.source") == F.col("c.source"))
        & (F.col("a.doc_id") != F.col("c.doc_id")),
    ).select(
        F.col("a.doc_id").alias("left_doc"),
        F.col("c.doc_id").alias("right_doc"),
        F.col("a.source").alias("source"),
        F.col("a.th").alias("boundary_hash"),
    )


@register(
    "d83_truncation_loss_curve",
    oracle=rf"""
    WITH {_TOKS_CTE.strip()},
    lens AS (
      SELECT len(t) AS n FROM toks
    )
    SELECT CAST(v.L AS BIGINT) AS max_len,
           CAST(sum(least(n, v.L)) AS BIGINT) AS kept_tokens,
           CAST(sum(CASE WHEN n > v.L THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_truncated,
           floor((1 - sum(least(n, v.L)) * 1.0 / sum(n)) * 10000.0 + 0.5)
             / 10000.0 AS loss_frac
    FROM lens, (VALUES {", ".join(f"({L})" for L in _TRUNC_LENS)}) v(L)
    GROUP BY v.L
    """,
    description="truncation-loss curve: for each candidate "
    f"max-sequence-length in {_TRUNC_LENS}, the tokens kept when every "
    "document is truncated at that length, the count of documents that "
    "lose tokens, and the lost-token fraction — the planning table "
    "that picks a pretraining max_seq_len (the complement of d39/d51, "
    "which pack SHORT docs; this prices cutting LONG ones). Scale: "
    "one corpus pass computes per-doc token counts; the "
    f"{len(_TRUNC_LENS)}-way candidate explode happens on the "
    "(doc, count) scalar stream, and the final aggregate map-side "
    "combines to |candidates| rows per partition — all-BIGINT sums, "
    "no float accumulation order anywhere.",
    tags=("llm", "packing", "tokenize"),
)
def d83_truncation_loss_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir).documents
    lens = (
        ensure_parallelism(docs.filter(_content()))
        .select(F.size(T.tokens("text")).alias("n"))
    )
    per = lens.select(
        "n",
        F.explode(
            F.array(*[F.lit(L) for L in _TRUNC_LENS])
        ).alias("max_len"),
    )
    return (
        per.groupBy(F.col("max_len").cast("long").alias("max_len"))
        .agg(
            F.sum(F.least(F.col("n"), F.col("max_len"))).alias(
                "kept_tokens"
            ),
            F.sum(
                F.when(F.col("n") > F.col("max_len"), 1).otherwise(0)
            ).alias("docs_truncated"),
            ieee_round(
                F.lit(1)
                - F.sum(F.least(F.col("n"), F.col("max_len")))
                / F.sum("n"),
                4,
            ).alias("loss_frac"),
        )
    )


@register(
    "d84_ivf_cell_purity",
    oracle=f"""
    WITH v AS (
      -- zero-norm vectors are not indexable: excluded on BOTH sides
      -- (S.cosine yields NULL, DuckDB list_cosine_similarity -1.0 —
      -- the d62 divergence rule)
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings
      WHERE list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                    x -> x * x)) > 0
    ), cents AS (
      SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 16
    ), assigned AS (
      SELECT vec_id, label, centroid_id FROM (
        SELECT v.vec_id, v.label, c.centroid_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_cosine_similarity(v.e, c.ce) DESC,
                          c.centroid_id
               ) AS crn
        FROM v, cents c
      ) WHERE crn = 1
    ), cl AS (
      SELECT centroid_id, label, count(*) AS c
      FROM assigned GROUP BY centroid_id, label
    ), cl2 AS (
      SELECT centroid_id, label, c,
             CAST(sum(c) OVER (PARTITION BY centroid_id) AS BIGINT) AS n
      FROM cl
    ), q AS (
      SELECT centroid_id, c, n,
             CAST(floor(-(c * 1.0 / n) * log2(c * 1.0 / n) * {_FP!r}
                        + 0.5) AS BIGINT) AS tq
      FROM cl2
    ), sel AS (
      SELECT centroid_id, label,
             row_number() OVER (
               PARTITION BY centroid_id ORDER BY c DESC, label
             ) AS rn
      FROM cl2
    ), cell AS (
      SELECT centroid_id, max(n) AS n, max(c) AS maxc,
             CAST(sum(tq) AS BIGINT) AS eq
      FROM q GROUP BY centroid_id
    )
    SELECT cell.centroid_id,
           CAST(cell.n AS BIGINT) AS n_vectors,
           CAST(sel.label AS BIGINT) AS majority_label,
           floor(cell.maxc * 1.0 / cell.n * 10000.0 + 0.5) / 10000.0
             AS purity,
           floor(CAST(cell.eq AS DOUBLE) / {_FP!r} * 10000.0 + 0.5)
             / 10000.0 AS entropy_bits
    FROM cell JOIN sel
      ON cell.centroid_id = sel.centroid_id AND sel.rn = 1
    """,
    description="IVF cell label purity: per coarse cell (d13/d62's "
    "deterministic first-16 centroids), the vector count, majority "
    "label (ties to the smallest label id), purity (majority share) "
    "and label entropy in bits — the external clustering-quality "
    "check that says whether the coarse quantizer respects the "
    "semantic partition the labels encode; a low-purity / high-"
    "entropy cell mixes topics, so probing it drags unrelated vectors "
    "into every 100 TB ANN query (d62 profiles cell GEOMETRY, this "
    "profiles cell MEANING; d70 measures the resulting recall). "
    "Determinism: entropy terms are quantized to 2^24 fixed-point "
    "BIGINTs before summing (d74's rule — exact under any partial-agg "
    "order), purity uses count ratios only. Scale: the d13 one-pass "
    "max_by assignment (k candidate rows collapse map-side), then "
    "everything is |cells|x|labels|-sized.",
    tags=("llm", "similarity", "ivf", "monitoring"),
)
def d84_ivf_cell_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kpipe_spark.functions import similarity as S

    emb = load_tables(spark, sf_dir).embeddings
    # _n once per row (same fold as the filter's norm — predicate
    # unchanged); assignment pairs pay ONE dot fold (cosine_pre)
    v = (
        emb.select(
            "vec_id", "label", S.as_double_array("embedding").alias("_e")
        )
        .withColumn("_n", S.norm(F.col("_e")))
        .filter(F.col("_n") > 0)
    )
    cents = v.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("_e").alias("_ce"),
        F.col("_n").alias("_cn"),
    )
    scored = v.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "centroid_id",
        S.cosine_pre(
            F.col("_e"), F.col("_ce"), F.col("_n"), F.col("_cn")
        ).alias("_csim"),
    )
    key = F.struct(
        F.col("_csim").alias("_csim"), (-F.col("centroid_id")).alias("_nc")
    )
    assigned = scored.groupBy("vec_id", "label").agg(
        F.max_by("centroid_id", key).alias("centroid_id")
    )
    cl = assigned.groupBy("centroid_id", "label").agg(
        F.count(F.lit(1)).alias("c")
    )
    cl2 = cl.withColumn(
        "n", F.sum("c").over(Window.partitionBy("centroid_id"))
    )
    p = F.col("c") / F.col("n")
    tq = F.floor(-p * F.log2(p) * F.lit(_FP) + F.lit(0.5)).cast("long")
    return (
        cl2.withColumn("tq", tq)
        .groupBy("centroid_id")
        .agg(
            F.max("n").alias("n_vectors"),
            F.max_by(
                "label",
                F.struct(F.col("c").alias("_c"), (-F.col("label")).alias("_nl")),
            )
            .cast("long")
            .alias("majority_label"),
            F.max("c").alias("_maxc"),
            F.sum("tq").alias("_eq"),
        )
        .select(
            "centroid_id",
            "n_vectors",
            "majority_label",
            ieee_round(F.col("_maxc") / F.col("n_vectors"), 4).alias(
                "purity"
            ),
            ieee_round(F.col("_eq") / F.lit(_FP), 4).alias("entropy_bits"),
        )
    )


@register(
    "d85_data_constrained_epochs",
    oracle=rf"""
    WITH {_TOKS_CTE.strip()},
    s AS (
      SELECT source, CAST(sum(len(t)) AS BIGINT) AS toks
      FROM toks GROUP BY source
    ), sq AS (
      SELECT source, toks,
             CAST(floor(sqrt(toks) * {_FP!r} + 0.5) AS BIGINT) AS wq
      FROM s
    ), tot AS (
      SELECT CAST(sum(toks) AS BIGINT) AS tt,
             CAST(sum(wq) AS BIGINT) AS twq
      FROM sq
    )
    SELECT source,
           toks AS n_tokens,
           floor(wq * 1.0 / twq * 1000000.0 + 0.5) / 1000000.0
             AS target_share,
           floor(least({_EPOCH_CAP!r},
                       {_BUDGET_MULT!r} * tt * (wq * 1.0 / twq) / toks)
                 * 10000.0 + 0.5) / 10000.0 AS epochs,
           CAST(floor({_BUDGET_MULT!r} * tt * (wq * 1.0 / twq) + 0.5)
                AS BIGINT) AS alloc_tokens,
           {_BUDGET_MULT!r} * tt * (wq * 1.0 / twq) / toks
             > {_EPOCH_CAP!r} AS capped
    FROM sq, tot
    """,
    description="data-constrained epoch plan: per source, its unique "
    "token count, temperature-smoothed target share (∝ tokens^0.5 — "
    "d44's alpha), the epoch (repeat) factor needed to fill a budget "
    f"of {_BUDGET_MULT}x the unique corpus at that share, capped at "
    f"{_EPOCH_CAP} epochs (past which repeated data stops paying — "
    "Muennighoff et al. 2023), the allocated token count, and whether "
    "the cap bound it (a capped source is the signal to go find more "
    "of that data rather than re-reading it). Complements d32/d44/d55 "
    "(which set SHARES) by pricing the repeats that realize the "
    "shares. Determinism: the float sqrt weights are quantized to "
    "2^24 fixed-point BIGINTs BEFORE the cross-source sum (d74's "
    "rule), so the normalizing denominator is exact integer "
    "arithmetic; every later op is per-row IEEE arithmetic both "
    "engines compute identically. Scale: one corpus-sized token-count "
    "aggregate (map-side combine), then |sources| rows cross-joined "
    "with a broadcast 1-row total.",
    tags=("llm", "mixing", "tokenize"),
)
def d85_data_constrained_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir).documents
    s = (
        ensure_parallelism(docs.filter(_content()))
        .groupBy("source")
        .agg(F.sum(F.size(T.tokens("text"))).alias("toks"))
    )
    sq = s.select(
        "source",
        "toks",
        F.floor(F.sqrt("toks") * F.lit(_FP) + F.lit(0.5))
        .cast("long")
        .alias("wq"),
    )
    tot = sq.agg(
        F.sum("toks").alias("tt"), F.sum("wq").alias("twq")
    )
    share = F.col("wq") / F.col("twq")
    alloc = F.lit(_BUDGET_MULT) * F.col("tt") * share
    epochs_raw = alloc / F.col("toks")
    return sq.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("toks").alias("n_tokens"),
        ieee_round(share, 6).alias("target_share"),
        ieee_round(F.least(F.lit(_EPOCH_CAP), epochs_raw), 4).alias(
            "epochs"
        ),
        F.floor(alloc + F.lit(0.5)).cast("long").alias("alloc_tokens"),
        (epochs_raw > F.lit(_EPOCH_CAP)).alias("capped"),
    )
