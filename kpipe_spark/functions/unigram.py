"""Unigram-LM tokenizer training (Kudo 2018, "Subword Regularization")
as a distributed DataFrame loop — the unigram twin of ``bpe.py``'s
merge trainer, with one extra property BPE training can't give the
oracle contract: DETERMINISTIC, hash-gradeable output.

The public algorithm: seed a candidate vocabulary with frequent
substrings, then iterate EM — segment the corpus under the current
piece probabilities, re-estimate probabilities from the resulting
piece counts, prune the lowest-utility pieces — and tokenize new text
with the Viterbi segmentation under the final model. This module
implements the hard-EM (Viterbi-EM) variant: the E-step takes the
single best segmentation instead of the forward-backward expectation,
which keeps every corpus-sized aggregate an INTEGER count.

Scale shape (the BPE discipline, ``bpe.py:25``): after ONE corpus
pass builds the distinct-word frequency table, every training
iteration runs on that vocabulary-shaped table (Zipf: millions of
rows at 100 TB, not trillions); the only driver-side data is the
piece-score table itself, bounded by the vocabulary budget
(``VOCAB_MULTI`` + alphabet) — the same bounded-collect class as
BPE's 1-row merge-rule collects.

Determinism (what makes this hash-gradeable where ``d28_bpe_train``
is rows-only): piece log-probabilities are quantized to 2^14
fixed-point BIGINTs the moment they exist (llm_ops13's PQ rule), so
Viterbi path scores are exact integer sums — order-independent,
tie-broken by the segmentation string under a separator that sorts
below the piece alphabet (prefix-stable, so the DP argmax equals
full-path enumeration; the DuckDB oracle brute-forces paths with a
recursive CTE and must agree bit-for-bit). The only floating step is
``ln(count/total)`` on exact integer inputs, computed here in Python
(glibc libm, the same library DuckDB calls) and absorbed by the
quantizer: a last-ulp disagreement flips the BIGINT only if
ln(c/N)·2^14 sits within ~2^-30 of a half-integer, which for
transcendental values of rational inputs is a measure-zero
coincidence.

kpipe has no tokenizer-training surface (its text ops stop at field
surgery, /root/reference/docs/FORMATS.md:27); this is north-star
LLM-pipeline surface (SURVEY.md §2.4), the trainable counterpart of
d18's fixed pre-tokenizer.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kpipe_spark.functions.stored_artifact import StoredArtifact
from kpipe_spark.functions.text import bpe_ish_tokens

# fixed-point scale for quantized log-probabilities: coarse enough
# that a 1-ulp ln() disagreement between engines cannot flip the
# floor, fine enough that distinct counts almost never collide (and a
# genuine collision is SAFE — both engines compute the same integer
# and break the tie on the segmentation string)
QLN_SCALE = 1 << 14
# longest candidate piece: substrings of length 1..4 seed the vocab
MAX_PIECE_LEN = 4
# seed keeps the SEED_MULTI most frequent multi-char substrings (all
# single chars are always kept — they guarantee every word segments)
SEED_MULTI = 24
# the EM prune keeps the VOCAB_MULTI highest-usage multi-char pieces
VOCAB_MULTI = 16


def qln(p: float) -> int:
    """floor(ln(p)·2^14 + 0.5) — the quantized log-prob, mirrored in
    oracle SQL as ``CAST(floor(ln(p) * 16384.0 + 0.5) AS BIGINT)``."""
    return math.floor(math.log(p) * QLN_SCALE + 0.5)


def word_freq(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One corpus pass -> (word, wcount) over the BPE-ish pre-tok
    (d18's boundary: maximal [a-z]+/[0-9]+ runs of lowercased text)."""
    return (
        docs.select(F.explode(bpe_ish_tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcount"))
    )


def seed_candidates(wf: DataFrame) -> DataFrame:
    """(piece, cnt): every substring of length 1..MAX_PIECE_LEN of
    every distinct word, occurrence-counted (overlaps included) and
    weighted by word frequency. Vocab-table-sized work: the substring
    explode runs on distinct words, never the corpus."""
    pieces = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(MAX_PIECE_LEN), F.length("word") - i + 1
                    ),
                ),
                lambda l: F.col("word").substr(i, l),
            ),
        )
    )
    return (
        wf.select("wcount", F.explode(pieces).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("wcount").alias("cnt"))
    )


def select_seed(cands: DataFrame) -> DataFrame:
    """All single chars + the top SEED_MULTI multi-char substrings by
    (cnt desc, piece asc). The top-K compiles to
    TakeOrderedAndProject (per-partition heap, no global sort)."""
    singles = cands.filter(F.length("piece") == 1)
    multi = (
        cands.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(SEED_MULTI)
    )
    return singles.unionByName(multi)


def segment_pieces(word: Column, scores: dict[str, int]) -> Column:
    """Viterbi segmentation of ``word`` under quantized piece scores
    -> array<string> of pieces, with the scores inlined as a
    ``create_map`` LITERAL.

    Right for training-sized vocabularies (the d90 family's alphabet +
    VOCAB_MULTI ≈ 52 pieces); at a production vocab budget the literal
    puts 2·|vocab| expressions into the plan and analysis cost grows
    ROUGHLY QUADRATICALLY — measured on this machine (driver-side,
    before a single row moves): 0.6 s at 128 pieces, 1.6 s at 512,
    2.8 s at 1k, 7 s at 2k, 13.7 s at 4k, 29 s at 8k. Past
    ``LITERAL_MAP_CEILING`` use ``segment_pieces_joined``, which feeds
    the identical fold from a broadcast join instead of a literal.
    """
    m = F.create_map(
        *[
            x
            for piece, s in sorted(scores.items())
            for x in (F.lit(piece), F.lit(s).cast("long"))
        ]
    )
    return _viterbi_fold(word, m)


def _viterbi_fold(word: Column, m: Column) -> Column:
    """Viterbi segmentation of ``word`` given ``m``: a map<string,
    bigint> column (or literal) of quantized piece scores -> array
    <string> of pieces, NULL when some position has no known piece.

    Linear DP as a fold: the accumulator is the array of per-prefix
    states ``struct(neg: BIGINT, seg: STRING)`` — ``neg`` the negated
    (integer) path score, ``seg`` the ' '-joined pieces. At position
    i, the MAX_PIECE_LEN candidate extensions (a static Python loop —
    piece length is bounded, word length is not) are compared with
    ``array_min`` over (neg asc, seg asc): maximum score, then the
    lexicographically least segmentation. The ' ' separator sorts
    below the [a-z0-9] piece alphabet, which makes the tie-break
    prefix-stable — the property that lets this one-state-per-
    position DP return exactly what full path enumeration (the DuckDB
    oracle's recursive CTE) returns. Runs on the distinct-word table
    (bpe.py's rule: the interpreted-HOF cost rides vocab-shaped rows,
    never the corpus)."""
    init = F.array(
        F.struct(
            F.lit(0).cast("long").alias("neg"), F.lit("").alias("seg")
        )
    )

    def step(acc: Column, i: Column) -> Column:
        cands = []
        for plen in range(1, MAX_PIECE_LEN + 1):
            piece = word.substr(i - F.lit(plen) + 1, F.lit(plen))
            s = F.try_element_at(m, piece)
            prev = F.element_at(acc, i - F.lit(plen) + 1)
            cands.append(
                F.when(
                    (F.lit(plen) <= i) & s.isNotNull(),
                    F.struct(
                        (prev["neg"] - s).alias("neg"),
                        F.concat(
                            prev["seg"], F.lit(" "), piece
                        ).alias("seg"),
                    ),
                )
            )
        best = F.array_min(
            F.filter(F.array(*cands), lambda c: c.isNotNull())
        )
        return F.concat(acc, F.array(best))

    final = F.aggregate(
        F.sequence(F.lit(1), F.length(word)),
        init,
        step,
        lambda acc: F.element_at(acc, -1)["seg"],
    )
    return F.split(F.ltrim(final), " ")


# Above this many pieces, tokenize() switches from the create_map
# literal to the broadcast-join path: the literal's plan-analysis cost
# grows roughly QUADRATICALLY in the 2·|vocab| literal expressions
# (measured on this machine, driver-side, per query, before any
# execution: 0.6 s at 128 pieces, 1.6 s at 512, 2.8 s at 1k, 7 s at
# 2k, 13.7 s at 4k, 29 s at 8k), while the join path's plan is
# constant-size at any vocab budget.
LITERAL_MAP_CEILING = 512


def segment_pieces_joined(
    words: DataFrame, score_df: DataFrame, word_col: str = "word"
) -> DataFrame:
    """Viterbi segmentation of a distinct-word table against a piece-
    score TABLE — the production-vocab path (a 64k-piece SentencePiece
    budget would put a 128k-element ``create_map`` literal into every
    plan; a 64k-row broadcast JOIN is routine).

    Shape: explode each word's candidate substrings (≤ |word| ×
    MAX_PIECE_LEN, distinct), inner-join the broadcast score table
    (vocab-bounded — broadcastable at any real budget), reassemble a
    PER-WORD score map with map_from_entries, and run the exact same
    fold ``segment_pieces`` runs. The per-word map carries only pieces
    that are substrings of that word, for which ``try_element_at``
    behaves identically to the global map; a word with an untrained
    character yields NULL pieces on both paths (its map misses some
    position entirely — the fold's empty-candidate NULL propagation).

    Returns ``words`` with a ``_pieces array<string>`` column added.
    One shuffle on the distinct-word table (already vocab-shaped),
    zero corpus-scaled work."""
    word = F.col(word_col)
    cands = F.array_distinct(
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.length(word)),
                lambda i: F.transform(
                    F.sequence(
                        F.lit(1),
                        F.least(
                            F.lit(MAX_PIECE_LEN), F.length(word) - i + 1
                        ),
                    ),
                    lambda l: word.substr(i, l),
                ),
            )
        )
    )
    wmap = (
        words.select(word_col, F.explode(cands).alias("piece"))
        .join(F.broadcast(score_df.select("piece", "score")), "piece")
        .groupBy(word_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("piece", "score"))
            ).alias("_m")
        )
    )
    return (
        words.join(wmap, word_col, "left")
        .withColumn("_pieces", _viterbi_fold(word, F.col("_m")))
        .drop("_m")
    )


@dataclass(frozen=True)
class UnigramModel:
    """Trained model: the distinct-word table, the final piece scores
    (post-prune, Laplace-smoothed from iteration-1 usage), and the
    final segmentation of every distinct word under those scores."""

    wf: DataFrame  # (word, wcount) — vocab-shaped, checkpointed
    scores: dict[str, int]  # piece -> quantized log-prob
    usage1: dict[str, int]  # piece -> iter-1 usage (the M-step input)
    usage2: dict[str, int]  # piece -> FINAL-segmentation usage (what
    # d90 reports and the stored artifact persists)
    seg: DataFrame  # (word, wcount, pieces array<string>)


def train_unigram(
    spark: SparkSession, docs: DataFrame, text_col: str = "text"
) -> UnigramModel | None:
    """Two Viterbi-EM rounds: seed substring counts -> segment ->
    prune + re-estimate -> segment. Returns None on a wordless corpus
    (every text NULL/contentless) — callers emit an empty frame.

    Driver-side data per round is ONE vocabulary-budget-sized collect
    (piece, count) — ≤ alphabet + SEED_MULTI rows, the d28 merge-loop
    class — because the Viterbi expression needs the current scores
    as a literal map. Everything corpus-scaled stays distributed.
    """
    from kpipe_spark.util import materialize

    wf = materialize(word_freq(docs, text_col), eager=True)
    # bounded collect #1: the seed vocabulary (≤ alphabet + SEED_MULTI)
    seed_rows = select_seed(seed_candidates(wf)).collect()
    if not seed_rows:
        return None
    total0 = sum(r["cnt"] for r in seed_rows)
    scores = {r["piece"]: qln(r["cnt"] / total0) for r in seed_rows}

    def segment(sc: dict[str, int]) -> DataFrame:
        return wf.select(
            "word",
            "wcount",
            segment_pieces(F.col("word"), sc).alias("pieces"),
        )

    def usage_of(seg: DataFrame) -> dict[str, int]:
        # bounded collect #2/#3: per-piece usage (≤ seed size)
        return {
            r["piece"]: r["usage"]
            for r in seg.select(
                F.explode("pieces").alias("piece"), "wcount"
            )
            .groupBy("piece")
            .agg(F.sum("wcount").alias("usage"))
            .collect()
        }

    usage1 = usage_of(segment(scores))
    # prune: every single char survives (segmentability invariant —
    # Kudo §3.2 keeps all characters); multi-char pieces compete for
    # VOCAB_MULTI slots by (usage desc, piece asc). Laplace +1 so the
    # never-used single chars still carry a finite score.
    kept = {p: usage1.get(p, 0) for p in scores if len(p) == 1}
    kept.update(
        sorted(
            ((p, u) for p, u in usage1.items() if len(p) > 1),
            key=lambda t: (-t[1], t[0]),
        )[:VOCAB_MULTI]
    )
    total1 = sum(u + 1 for u in kept.values())
    final_scores = {p: qln((u + 1) / total1) for p, u in kept.items()}
    seg2 = segment(final_scores)
    return UnigramModel(
        wf=wf,
        scores=final_scores,
        usage1={p: kept[p] for p in kept},
        usage2=usage_of(seg2),
        seg=seg2,
    )


class UnigramTokenizer(StoredArtifact):
    """Stored-artifact form of the trainer — the CorpusIndex/AnnIndex
    lifecycle discipline applied to a tokenizer model: train ONCE,
    persist the piece-score table, tokenize any number of later
    corpora against the stored model without retraining (retraining
    per batch would silently re-key every piece id/score the way
    re-training PQ codebooks would re-key an AnnIndex).

    Storage: one managed table ``(piece, score, usage)`` — vocabulary-
    bounded (≤ alphabet + VOCAB_MULTI rows), trivially broadcast- and
    collect-sized. The quantizer scale and max piece length persist as
    TBLPROPERTIES; ``attach`` validates them against any explicit
    kwargs, because segmenting with a different quantizer family than
    the scores were trained under produces garbage rankings silently
    (the AnnIndex PQ-family rule).

    Reference parity: kpipe has no tokenizer surface
    (/root/reference/docs/FORMATS.md:27); north-star LLM-pipeline
    surface (SURVEY.md §2.4), the artifact form of d90's query shape.
    """

    _PROP_PREFIX = "kpipe.unigram."
    _FAMILY_PROPS = ("qln_scale", "max_piece_len")
    _KIND = "tokenizer"
    _FAMILY_LABEL = "quantizer family"
    _MISMATCH_HINT = (
        "segmenting under a different family than the stored scores "
        "were trained with produces garbage rankings silently"
    )

    def __init__(
        self,
        spark: SparkSession,
        table: str,
        qln_scale: int = QLN_SCALE,
        max_piece_len: int = MAX_PIECE_LEN,
    ) -> None:
        self.spark = spark
        self.table = table
        self.qln_scale = qln_scale
        self.max_piece_len = max_piece_len
        self._scores: dict[str, int] | None = None

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        docs: DataFrame,
        table: str,
        text_col: str = "text",
    ) -> "UnigramTokenizer":
        """Train on a corpus and persist the model. Raises on a
        wordless corpus — an empty tokenizer can't segment anything,
        and persisting one would only defer the error to first use."""
        model = train_unigram(spark, docs, text_col)
        if model is None:
            raise ValueError(
                "cannot train a unigram tokenizer on a wordless corpus "
                "(every document NULL/contentless)"
            )
        tok = cls(spark, table)
        from kpipe_spark.util import reclaim_orphaned_table_location

        reclaim_orphaned_table_location(spark, table)
        # persist FINAL-segmentation usage (usage2) — the same value
        # d90_unigram_train reports under this column name, so auditing
        # the stored table against the oracle-graded d90 output agrees
        # row-for-row (usage1 is the M-step input, not the final usage)
        usage = model.usage2
        spark.createDataFrame(
            [
                (p, s, usage.get(p, 0))
                for p, s in sorted(model.scores.items())
            ],
            "piece string, score bigint, usage bigint",
        ).write.mode("overwrite").saveAsTable(table, format="parquet")
        tok._set_props()
        tok._scores = dict(model.scores)
        return tok

    @property
    def scores(self) -> dict[str, int]:
        """piece -> quantized log-prob, loaded once (vocab-bounded
        collect: ≤ alphabet + VOCAB_MULTI rows by construction)."""
        if self._scores is None:
            self._scores = {
                r["piece"]: r["score"]
                for r in self.spark.table(self.table)
                .select("piece", "score")
                .collect()
            }
        return self._scores

    @property
    def vocab_df(self) -> DataFrame:
        return self.spark.table(self.table)

    def tokenize(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        strategy: str = "auto",
    ) -> DataFrame:
        """(id, pieces array<string>, n_pieces) per document with any
        content; contentless docs tokenize to an empty array.

        Scale shape: the Viterbi HOF runs on the BATCH's DISTINCT
        words (vocab-shaped — bpe.py's rule), results broadcast-join
        back to the corpus explode, and per-doc arrays reassemble in
        word order (apply_bpe's posexplode/array_sort discipline —
        collect_list is arrival-ordered, not position-ordered). Docs
        with unseen CHARACTERS still segment: every single character
        of the training corpus is in the vocab, and a character the
        training corpus never saw segments that word to NULL pieces —
        surfaced as NULL, never a silent drop.

        ``strategy``: how the stored scores reach the Viterbi fold.
        ``'literal'`` inlines them as a create_map literal — fastest
        at training-sized vocabs but plan-ANALYSIS cost grows roughly
        quadratically in the 2·|vocab| literal expressions (measured:
        1.6 s at 512 pieces, 7 s at 2k, 29 s at 8k — driver-side, per
        query; see LITERAL_MAP_CEILING); ``'join'`` assembles per-word
        score maps via a broadcast join against the stored table —
        constant plan size at any vocab budget (the production-vocab
        path); ``'auto'`` (default) picks by the stored vocab size
        against LITERAL_MAP_CEILING."""
        if strategy not in ("auto", "literal", "join"):
            raise ValueError(
                f"unknown tokenize strategy {strategy!r}: expected "
                "'auto', 'literal' or 'join'"
            )
        per_word = docs.select(
            F.col(id_col),
            F.posexplode_outer(bpe_ish_tokens(text_col)).alias(
                "pos", "word"
            ),
        )
        words = (
            per_word.filter(F.col("word").isNotNull())
            .select("word")
            .distinct()
        )
        if strategy == "auto":
            # one cheap vocab-table count beats collecting 64k scores
            # into a plan literal just to discover it was a bad idea
            n_pieces = (
                len(self._scores)
                if self._scores is not None
                else self.vocab_df.count()
            )
            strategy = (
                "literal" if n_pieces <= LITERAL_MAP_CEILING else "join"
            )
        if strategy == "join":
            wseg = segment_pieces_joined(words, self.vocab_df)
        else:
            wseg = words.select(
                "word",
                segment_pieces(F.col("word"), self.scores).alias(
                    "_pieces"
                ),
            )
        joined = per_word.join(F.broadcast(wseg), "word", "left")
        # collect_list ignores NULL inputs, so wrapping the struct in
        # when(word IS NOT NULL, ...) makes a contentless doc (whose
        # posexplode_outer row has NULL word) aggregate to [] — while
        # a word the training corpus couldn't segment keeps its NULL
        # _pieces element and nulls the doc's array via flatten
        return (
            joined.groupBy(id_col)
            .agg(
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("word").isNotNull(),
                                    F.struct("pos", "_pieces"),
                                )
                            )
                        ),
                        lambda s: s["_pieces"],
                    )
                ).alias("pieces")
            )
            .select(
                id_col,
                "pieces",
                # size(NULL) is config-dependent (-1 legacy, NULL ANSI);
                # pin the unsegmentable-doc sentinel to NULL explicitly
                F.when(
                    F.col("pieces").isNotNull(), F.size("pieces")
                )
                .cast("long")
                .alias("n_pieces"),
            )
        )

