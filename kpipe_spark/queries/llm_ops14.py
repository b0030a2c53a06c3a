"""LLM-pipeline operators, part 14: unigram-LM tokenizer training
(Kudo 2018) — the trainable counterpart of d18's fixed pre-tokenizer
and the unigram twin of d28's BPE merge trainer, with the property
d28 can't offer: a DETERMINISTIC, hash-gradeable training loop.

Public literature: Kudo, "Subword Regularization: Improving Neural
Network Translation Models with Multiple Subword Candidates" (ACL
2018) — seed a vocabulary with frequent substrings, EM-iterate piece
probabilities against the corpus segmentation, prune to budget, and
tokenize with Viterbi under the final model. Implemented as hard EM
(Viterbi E-step), which keeps every corpus-sized aggregate an exact
integer count; see ``functions/unigram.py`` for the fixed-point
log-prob quantization that makes both engines' Viterbi integer-exact.

Reference parity note: kpipe's text surface stops at field surgery
(/root/reference/docs/FORMATS.md:27); this is north-star LLM surface
(SURVEY.md §2.4 text analysis / tokenization).

Oracle strategy: Spark runs the linear one-state-per-position DP
(scale-correct); DuckDB brute-force ENUMERATES every segmentation
path with a recursive CTE and picks the same (score desc, seg asc)
winner — affordable at oracle SF because the synthetic corpus has ~31
distinct words of ≤8 chars (≤2^7 paths each), and exactly equal to
the DP because the ' ' tie-break separator sorts below the piece
alphabet (prefix-stable argmax; functions/unigram.py docstring).

Scale shape (the bpe.py discipline): ONE corpus pass builds the
distinct-word frequency table; both EM rounds, the substring seeding,
and the Viterbi DP run on that vocab-shaped table. The only
corpus-sized consumer is d91's application join — corpus words
against the broadcast word→pieces map (vocab-shaped, the d17 freq
class). Driver-side data is the piece-score table (≤ alphabet +
SEED_MULTI rows per round, the d28 merge-loop bounded-collect class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kpipe_spark.catalog import load_tables
from kpipe_spark.functions import text as T
from kpipe_spark.functions.unigram import (
    MAX_PIECE_LEN,
    QLN_SCALE,
    SEED_MULTI,
    VOCAB_MULTI,
    train_unigram,
)
from kpipe_spark.queries import register
from kpipe_spark.util import ieee_round

# The training chain as oracle CTEs, kept in lockstep with
# functions/unigram.py (same constants, same quantizer, same
# tie-break). Stages: wf (distinct-word freq) -> cand (all substrings
# len 1..MAX, overlap-counted, weighted) -> seed (singles + top
# SEED_MULTI multi) -> seed_scored (quantized ln) -> paths1/best1
# (iteration-1 Viterbi via full path enumeration) -> usage1 ->
# pruned (singles + top VOCAB_MULTI multi by usage) -> vocab
# (Laplace-smoothed re-score) -> paths2/best2 (iteration-2 Viterbi)
# -> usage2 (final corpus-weighted piece occurrences).
_TRAIN_CTES = rf"""
wf AS (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS wcount
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS w
        FROM documents)
  GROUP BY w
),
cand AS (
  SELECT piece, CAST(sum(wcount) AS BIGINT) AS cnt FROM (
    SELECT wf.wcount, substr(wf.word, s.i, l.l) AS piece
    FROM wf,
         LATERAL (SELECT unnest(generate_series(1, len(wf.word))) AS i) s,
         LATERAL (SELECT unnest(generate_series(1,
                    least({MAX_PIECE_LEN}, len(wf.word) - s.i + 1))) AS l) l
  ) GROUP BY piece
),
seed AS (
  SELECT piece, cnt FROM cand WHERE len(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM cand WHERE len(piece) > 1
    ORDER BY cnt DESC, piece LIMIT {SEED_MULTI})
),
seed_scored AS (
  SELECT piece, CAST(len(piece) AS BIGINT) AS plen,
         CAST(floor(ln(cnt / (SELECT CAST(sum(cnt) AS DOUBLE) FROM seed))
                    * {QLN_SCALE}.0 + 0.5) AS BIGINT) AS score
  FROM seed
),
paths1 AS (
  SELECT word, wcount, CAST(0 AS BIGINT) AS pos, '' AS seg,
         CAST(0 AS BIGINT) AS sc
  FROM wf
  UNION ALL
  SELECT p.word, p.wcount, p.pos + v.plen, p.seg || ' ' || v.piece,
         p.sc + v.score
  FROM paths1 p JOIN seed_scored v
    ON substr(p.word, p.pos + 1, CAST(v.plen AS INTEGER)) = v.piece
  WHERE p.pos < len(p.word)
),
best1 AS (
  SELECT word, wcount, ltrim(seg, ' ') AS seg FROM (
    SELECT word, wcount, seg,
           row_number() OVER (PARTITION BY word
                              ORDER BY sc DESC, seg ASC) AS rn
    FROM paths1 WHERE pos = len(word)) WHERE rn = 1
),
usage1 AS (
  SELECT piece, CAST(sum(wcount) AS BIGINT) AS usage
  FROM (SELECT wcount, unnest(string_split(seg, ' ')) AS piece FROM best1)
  GROUP BY piece
),
pruned AS (
  SELECT s.piece, COALESCE(u.usage, CAST(0 AS BIGINT)) AS usage
  FROM seed_scored s LEFT JOIN usage1 u USING (piece) WHERE s.plen = 1
  UNION ALL
  SELECT piece, usage FROM (
    SELECT piece, usage FROM usage1 WHERE len(piece) > 1
    ORDER BY usage DESC, piece LIMIT {VOCAB_MULTI})
),
vocab AS (
  SELECT piece, CAST(len(piece) AS BIGINT) AS plen, usage,
         CAST(floor(ln((usage + 1) /
                       (SELECT CAST(sum(usage + 1) AS DOUBLE) FROM pruned))
                    * {QLN_SCALE}.0 + 0.5) AS BIGINT) AS score
  FROM pruned
),
paths2 AS (
  SELECT word, wcount, CAST(0 AS BIGINT) AS pos, '' AS seg,
         CAST(0 AS BIGINT) AS sc
  FROM wf
  UNION ALL
  SELECT p.word, p.wcount, p.pos + v.plen, p.seg || ' ' || v.piece,
         p.sc + v.score
  FROM paths2 p JOIN vocab v
    ON substr(p.word, p.pos + 1, CAST(v.plen AS INTEGER)) = v.piece
  WHERE p.pos < len(p.word)
),
best2 AS (
  SELECT word, wcount, ltrim(seg, ' ') AS seg FROM (
    SELECT word, wcount, seg,
           row_number() OVER (PARTITION BY word
                              ORDER BY sc DESC, seg ASC) AS rn
    FROM paths2 WHERE pos = len(word)) WHERE rn = 1
),
usage2 AS (
  SELECT piece, CAST(sum(wcount) AS BIGINT) AS usage2
  FROM (SELECT wcount, unnest(string_split(seg, ' ')) AS piece FROM best2)
  GROUP BY piece
)
"""


def _final_usage(model) -> DataFrame:
    """(piece, usage): corpus-weighted piece occurrences under the
    final segmentation — the Spark mirror of the oracle's usage2."""
    return (
        model.seg.select(F.explode("pieces").alias("piece"), "wcount")
        .groupBy("piece")
        .agg(F.sum("wcount").alias("usage"))
    )


@register(
    "d90_unigram_train",
    oracle=f"""
    WITH RECURSIVE {_TRAIN_CTES.strip()}
    SELECT v.piece AS piece, CAST(v.plen AS INTEGER) AS piece_len,
           v.score AS score,
           COALESCE(u.usage2, CAST(0 AS BIGINT)) AS usage
    FROM vocab v LEFT JOIN usage2 u USING (piece)
    """,
    description="unigram-LM tokenizer training (Kudo 2018, hard-EM "
    "variant): substring-seeded vocabulary, two Viterbi-EM rounds "
    "with a prune to budget between them, emitting the final model — "
    "(piece, quantized log-prob score, corpus-weighted usage). The "
    "deterministic, hash-graded twin of d28's rows-only BPE trainer: "
    "piece scores are 2^14 fixed-point BIGINTs (the PQ rule), so "
    "Viterbi path comparison is integer-exact in both engines and "
    "Spark's linear DP provably equals the oracle's full path "
    "enumeration (prefix-stable tie-break). Scale: one corpus pass "
    "builds the word-frequency table; both EM rounds ride that "
    "vocab-shaped table (bpe.py's discipline); the per-round collect "
    "is the piece-score table, bounded by alphabet + seed budget.",
    tags=("llm", "tokenize", "train"),
)
def d90_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir).documents
    model = train_unigram(spark, docs)
    schema = "piece string, piece_len int, score bigint, usage bigint"
    if model is None:  # wordless corpus: empty model on both engines
        return spark.createDataFrame([], schema)
    vocab = spark.createDataFrame(
        [(p, len(p), s) for p, s in sorted(model.scores.items())],
        "piece string, piece_len int, score bigint",
    )
    return vocab.join(_final_usage(model), "piece", "left").select(
        "piece",
        "piece_len",
        "score",
        F.coalesce("usage", F.lit(0).cast("long")).alias("usage"),
    )


@register(
    "d91_unigram_fertility",
    oracle=f"""
    WITH RECURSIVE {_TRAIN_CTES.strip()},
    wseg AS (
      SELECT word, CAST(len(string_split(seg, ' ')) AS BIGINT) AS npieces
      FROM best2
    ),
    docw AS (
      SELECT source,
             unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS word
      FROM documents
    ),
    agg AS (
      SELECT source, CAST(count(*) AS BIGINT) AS total_words,
             CAST(sum(w.npieces) AS BIGINT) AS total_pieces
      FROM docw JOIN wseg w USING (word) GROUP BY source
    ),
    base AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    )
    SELECT base.source AS source, base.n_docs AS n_docs,
           COALESCE(a.total_words, CAST(0 AS BIGINT)) AS total_words,
           COALESCE(a.total_pieces, CAST(0 AS BIGINT)) AS total_pieces,
           CAST(CASE WHEN COALESCE(a.total_words, 0) = 0 THEN NULL
                ELSE floor(a.total_pieces * 1.0 / a.total_words
                           * 10000.0 + 0.5) / 10000.0
                END AS DOUBLE) AS fertility
    FROM base LEFT JOIN agg a USING (source)
    """,
    description="per-source fertility under the TRAINED unigram "
    "tokenizer — pieces emitted per pre-tok word, the learned-model "
    "counterpart of d63's fixed-pre-tok fertility (compare the two "
    "per source: trained-unigram fertility at or under d63's subword "
    "count means the learned vocab is earning its budget). An "
    "all-contentless source reports 0 totals and NULL fertility on "
    "both engines (the d63 ANSI rule). Scale: the corpus-sized work "
    "is ONE token explode joined to the broadcast vocab-shaped "
    "word→pieces map (the d17 freq class) plus a map-side-combined "
    "groupBy(source); training rides the distinct-word table.",
    tags=("llm", "tokenize", "profiling"),
)
def d91_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir).documents
    base = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    model = train_unigram(spark, docs)
    zero = F.lit(0).cast("long")
    if model is None:  # wordless corpus: zero totals everywhere
        return base.select(
            "source",
            "n_docs",
            zero.alias("total_words"),
            zero.alias("total_pieces"),
            F.lit(None).cast("double").alias("fertility"),
        )
    wseg = model.seg.select(
        "word", F.size("pieces").cast("long").alias("npieces")
    )
    docw = docs.select(
        "source", F.explode(T.bpe_ish_tokens("text")).alias("word")
    )
    agg = (
        docw.join(F.broadcast(wseg), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_words"),
            F.sum("npieces").alias("total_pieces"),
        )
    )
    return base.join(agg, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("total_words", zero).alias("total_words"),
        F.coalesce("total_pieces", zero).alias("total_pieces"),
        F.when(
            F.coalesce("total_words", zero) == 0,
            F.lit(None).cast("double"),
        )
        .otherwise(
            ieee_round(F.col("total_pieces") / F.col("total_words"), 4)
        )
        .alias("fertility"),
    )


@register(
    "d92_unigram_piece_coverage",
    oracle=f"""
    WITH RECURSIVE {_TRAIN_CTES.strip()}
    SELECT CAST(len(piece) AS INTEGER) AS piece_len,
           CAST(count(*) AS BIGINT) AS n_pieces,
           CAST(sum(usage2) AS BIGINT) AS occurrences,
           CAST(sum(usage2 * len(piece)) AS BIGINT) AS covered_chars,
           CAST(floor(sum(usage2) * 1.0
                      / (SELECT sum(usage2) FROM usage2)
                      * 10000.0 + 0.5) / 10000.0 AS DOUBLE)
             AS occurrence_share,
           CAST(floor(sum(usage2 * len(piece)) * 1.0
                      / (SELECT sum(usage2 * len(piece)) FROM usage2)
                      * 10000.0 + 0.5) / 10000.0 AS DOUBLE)
             AS char_share
    FROM usage2 GROUP BY len(piece)
    """,
    description="piece-length coverage of the trained unigram "
    "tokenizer: per piece length, the distinct pieces used, their "
    "corpus-weighted occurrences, and the character mass they cover "
    "— the d75-style budget-planning curve for the LEARNED vocab "
    "(char_share at len>=2 is what the multi-char budget actually "
    "bought; a vocabulary whose mass sits at len 1 degenerated to "
    "characters). Scale: the histogram is a groupBy over the "
    "vocab-bounded usage table — after training, this query moves "
    "nothing corpus-sized at all.",
    tags=("llm", "tokenize", "monitoring"),
)
def d92_unigram_piece_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_tables(spark, sf_dir).documents
    model = train_unigram(spark, docs)
    schema = (
        "piece_len int, n_pieces bigint, occurrences bigint, "
        "covered_chars bigint, occurrence_share double, char_share double"
    )
    if model is None:
        return spark.createDataFrame([], schema)
    usage = _final_usage(model).select(
        F.length("piece").cast("int").alias("piece_len"),
        "usage",
        (F.length("piece").cast("long") * F.col("usage")).alias("_chars"),
    )
    bylen = usage.groupBy("piece_len").agg(
        F.count(F.lit(1)).alias("n_pieces"),
        F.sum("usage").alias("occurrences"),
        F.sum("_chars").alias("covered_chars"),
    )
    tot = bylen.agg(
        F.sum("occurrences").alias("_to"),
        F.sum("covered_chars").alias("_tc"),
    )
    return bylen.crossJoin(F.broadcast(tot)).select(
        "piece_len",
        "n_pieces",
        "occurrences",
        "covered_chars",
        ieee_round(F.col("occurrences") / F.col("_to"), 4).alias(
            "occurrence_share"
        ),
        ieee_round(F.col("covered_chars") / F.col("_tc"), 4).alias(
            "char_share"
        ),
    )


# ---------------------------------------------------------------------------
# d95: interpolated Kneser-Ney bigram scoring — the canonical smoothing
# (Kneser & Ney 1995; Chen & Goodman 1998) between d17's raw unigram
# and d69's fixed-weight interpolation. Absolute discount D = 0.75 —
# exactly representable in binary, so the discount subtraction is
# IEEE-identical in both engines; every other model quantity is an
# integer count, and the per-bigram probability is one fixed-order
# arithmetic expression mirrored verbatim in the oracle.
# ---------------------------------------------------------------------------

_KN_D = 0.75


@register(
    "d95_kneser_ney_logprob",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
                                 x -> x <> '') AS t
      FROM documents
      WHERE text IS NOT NULL AND regexp_matches(text, '\S')
    ), bg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
            FROM toks WHERE len(t) >= 2)
    ), cnt AS (
      SELECT doc_id, w1, w2, count(*) AS c FROM bg GROUP BY doc_id, w1, w2
    ), bigf AS (
      SELECT w1, w2, CAST(sum(c) AS BIGINT) AS cbg
      FROM cnt GROUP BY w1, w2
    ), left_ctx AS (
      -- c(w1 .) and N1+(w1, .): the bigram-token denominator and the
      -- distinct-continuation count that sizes the backoff mass
      SELECT w1, CAST(sum(cbg) AS BIGINT) AS cw,
             CAST(count(*) AS BIGINT) AS n1
      FROM bigf GROUP BY w1
    ), cont AS (
      -- N1+(., w2): in how many distinct left contexts w2 continues
      SELECT w2, CAST(count(*) AS BIGINT) AS cc FROM bigf GROUP BY w2
    ), ttypes AS (
      SELECT CAST(count(*) AS BIGINT) AS t FROM bigf
    )
    SELECT cnt.doc_id,
           CAST(sum(cnt.c) AS BIGINT) AS n_bigrams,
           round(sum(cnt.c * log10(
                   (greatest(bigf.cbg - 0.75, 0.0)
                    + 0.75 * left_ctx.n1 * cont.cc / ttypes.t)
                   / left_ctx.cw))
                 / sum(cnt.c), 4) AS avg_logprob
    FROM cnt
    JOIN bigf USING (w1, w2)
    JOIN left_ctx USING (w1)
    JOIN cont USING (w2)
    CROSS JOIN ttypes
    GROUP BY cnt.doc_id
    """,
    description="interpolated Kneser-Ney bigram LM score (Kneser & Ney "
    "1995; Chen & Goodman 1998) — the canonical smoothing between "
    "d17's raw unigram and d69's fixed-weight interpolation: "
    "p = (max(c(w1 w2) - D, 0) + D * N1+(w1,.) * Pcont(w2)) / c(w1 .) "
    "with Pcont(w2) = N1+(.,w2)/|bigram types| — the continuation "
    "probability that scores 'Francisco' low outside 'San', the "
    "property neither d17 nor d69 has. D = 0.75 is exactly binary-"
    "representable, so the discount arithmetic is bit-identical in "
    "both engines; all other model quantities are integer counts and "
    "the probability is one fixed-order expression mirrored verbatim "
    "in the oracle. Per-doc occurrence-weighted mean log10 p, d17's "
    "report shape. Scale: the d69 discipline — per-doc bigram counts "
    "materialized once (corpus-scaled, injectable strategy), the "
    "model tables are bigram-type-sized and join gram-keyed (no "
    "vocabulary-sized broadcast hint), only the 1-row type total "
    "broadcasts.",
    tags=("llm", "quality", "tokenize"),
)
def d95_kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kpipe_spark.util import materialize

    docs = load_tables(spark, sf_dir).documents
    content = F.col("text").isNotNull() & F.col("text").rlike(r"\S")
    toks = docs.filter(content).select(
        "doc_id", T.tokens("text").alias("t")
    )
    n = F.size("t")
    bigrams = F.zip_with(
        F.slice("t", 1, n - 1),
        F.slice("t", 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = toks.select("doc_id", F.explode(bigrams).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    # consumed by the bigram-model aggregate AND the scoring join
    # (d69's measured no-ReuseExchange case); doc_id-keyed =
    # corpus-scaled, so the injectable strategy owns its placement
    cnt = materialize(
        bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("c")),
        scale="corpus",
    )
    # bigram-type-sized; feeds the score join plus THREE model
    # aggregates (left-context, continuation, type total)
    bigf = materialize(cnt.groupBy("w1", "w2").agg(F.sum("c").alias("cbg")))
    left_ctx = bigf.groupBy("w1").agg(
        F.sum("cbg").alias("cw"), F.count(F.lit(1)).alias("n1")
    )
    cont = bigf.groupBy("w2").agg(F.count(F.lit(1)).alias("cc"))
    ttypes = bigf.agg(F.count(F.lit(1)).alias("t"))
    # fixed-order arithmetic, mirrored verbatim in the oracle:
    # (max(cbg - D, 0) + D * n1 * cc / t) / cw
    p = (
        F.greatest(F.col("cbg") - F.lit(_KN_D), F.lit(0.0))
        + F.lit(_KN_D) * F.col("n1") * F.col("cc") / F.col("t")
    ) / F.col("cw")
    return (
        cnt.join(bigf, ["w1", "w2"])
        .join(left_ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(ttypes))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.round(
                F.sum(F.col("c") * F.log10(p)) / F.sum("c"), 4
            ).alias("avg_logprob"),
        )
    )
