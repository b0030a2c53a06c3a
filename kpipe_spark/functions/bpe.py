"""BPE tokenizer training as a distributed DataFrame loop.

The classic byte-pair-encoding trainer (Sennrich et al. 2016, public
algorithm) iterates: count adjacent symbol pairs, merge the most
frequent pair everywhere, repeat. The scale trick that makes this a
100 TB-viable operator: after ONE pass over the corpus, training runs
entirely on the WORD-FREQUENCY TABLE (distinct word -> count), whose
size is vocabulary-shaped (Zipf: millions of rows), not corpus-shaped
(trillions of tokens). Each merge round is one map-side-combined
aggregate over that table plus a 1-row collect of the winning pair —
the only driver-side data is the merge rule itself.

kpipe has no tokenizer-training surface (its text ops stop at field
surgery, docs/FORMATS.md:27); this is a north-star extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kpipe_spark.functions.text import tokens


def word_freq_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One corpus pass -> (symbols array<string>, weight) per distinct
    word: characters plus a '</w>' end-of-word marker, standard BPE."""
    words = df.select(F.explode(tokens(text_col)).alias("word"))
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("weight"))
    return freq.select(
        F.concat(
            F.split(F.col("word"), ""),
            F.array(F.lit("</w>")),
        ).alias("symbols"),
        "weight",
    )


def _adjacent_pairs(symbols: F.Column) -> F.Column:
    """array of 'a b' strings for each adjacent symbol pair."""
    n = F.size(symbols)
    idx = F.sequence(F.lit(1), F.greatest(n - 1, F.lit(0)))
    return F.when(
        n >= 2,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", F.element_at(symbols, i), F.element_at(symbols, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _merge_pair(symbols: F.Column, left: str, right: str) -> F.Column:
    """Replace every adjacent (left, right) with the concatenation.

    Left-fold with a struct accumulator: if the previous kept symbol is
    `left` and the current is `right` (and the previous wasn't itself
    just produced by a merge), rewrite the tail. Words are short, so
    the interpreted-HOF cost is bounded; this runs on the vocab table,
    never the corpus.
    """
    merged = left + right

    def step(acc, x):
        prev_tail = F.element_at(acc["out"], -1)
        can_merge = (
            (F.size(acc["out"]) > 0)
            & (prev_tail == F.lit(left))
            & (x == F.lit(right))
            & ~acc["just_merged_tail"]
        )
        return F.struct(
            F.when(
                can_merge,
                F.concat(
                    F.slice(acc["out"], 1, F.size(acc["out"]) - 1),
                    F.array(F.lit(merged)),
                ),
            )
            .otherwise(F.concat(acc["out"], F.array(x)))
            .alias("out"),
            can_merge.alias("just_merged_tail"),
        )

    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(False).alias("just_merged_tail"),
    )
    return F.aggregate(symbols, init, step, lambda acc: acc["out"])


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
) -> list[tuple[int, str, str, int]]:
    """Learn num_merges BPE merge rules from a corpus.

    Returns [(rank, left, right, pair_weight)] in merge order. Each
    round: one aggregate over the vocab table (pairs explode -> weight
    sum, map-side combined) + a deterministic top-1 (weight desc, pair
    asc) collected to the driver (1 row); the vocab table is then
    rewritten with the merge and materialized (``util.materialize``)
    so the iterative lineage doesn't stack. Each round's superseded
    checkpoint is released immediately — the result
    is a driver-side rule list, so no blocks survive the call
    (wave-10 lifecycle, OPTIMIZATION_r13).
    """
    from kpipe_spark.util import free_local_checkpoint, materialize

    vocab = materialize(word_freq_table(df, text_col), eager=True)
    rules: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        top = (
            vocab.select(
                F.explode(_adjacent_pairs(F.col("symbols"))).alias("pair"),
                "weight",
            )
            .groupBy("pair")
            .agg(F.sum("weight").alias("w"))
            .orderBy(F.col("w").desc(), "pair")
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right = top[0]["pair"].split(" ", 1)
        rules.append((rank, left, right, int(top[0]["w"])))
        merged = materialize(
            vocab.select(
                _merge_pair(F.col("symbols"), left, right).alias("symbols"),
                "weight",
            ),
            eager=True,
        )
        free_local_checkpoint(vocab)
        vocab = merged
    free_local_checkpoint(vocab)
    return rules


def apply_bpe(
    df: DataFrame,
    rules: list[tuple[int, str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize a corpus with learned merge rules -> (id, bpe_tokens).

    Pure projection (rules fold into the expression tree in merge
    order), fully distributed, no shuffle.
    """
    sym = F.concat(F.split(F.col("word"), ""), F.array(F.lit("</w>")))
    for _, left, right, _ in rules:
        sym = _merge_pair(sym, left, right)
    per_word = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "word")
    ).select(F.col(id_col), "pos", sym.alias("word_tokens"))
    # collect_list is arrival-ordered, not position-ordered: carry the
    # word position and sort before flattening
    return per_word.groupBy(id_col).agg(
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "word_tokens"))
                ),
                lambda s: s["word_tokens"],
            )
        ).alias("bpe_tokens")
    )
