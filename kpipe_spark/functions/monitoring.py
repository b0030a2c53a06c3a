"""Corpus-distribution monitoring primitives.

The drift monitor's state is a hashed-bigram occurrence-count table
``(source, bucket, c)`` — and counts are ADDITIVE, which is the whole
production story: a streaming ingest maintains the table incrementally
(sum the per-batch counts into the stored table, d54-style) and the
KL report recomputes from the accumulated counts alone, never from
the corpus. ``d72_source_kl_drift`` is the batch/oracle-checked form;
``tests/test_file_ingestion.py::test_streaming_drift_monitoring``
pins that batch-accumulated counts converge to the identical report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kpipe_spark.util import materialize

#: hashed-bigram feature buckets shared with the DSIR scorer (d68):
#: fixed and small, so the monitor's whole state is <= |sources| x
#: this many rows regardless of corpus size.
DRIFT_BUCKETS_DEFAULT = 4096


def bigram_bucket_counts(
    docs: DataFrame,
    n_buckets: int = DRIFT_BUCKETS_DEFAULT,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Hashed-bigram occurrence counts per (source, bucket): the
    accumulable state of the drift monitor. One corpus-sized explode
    feeding a partial aggregate; output is bounded by
    |sources| x n_buckets. Buckets are ``md5_hash60(bigram) %
    n_buckets`` — cross-engine exact, and identical to d68's DSIR
    feature space so the two reports describe the same geometry."""
    from kpipe_spark.functions.dedup import md5_hash60
    from kpipe_spark.functions.text import tokens

    content = F.col(text_col).isNotNull() & F.col(text_col).rlike(r"\S")
    # tokens projected ONCE per row: the inline form re-ran the
    # split+filter HOF per reference (the shingles_from_tokens lesson)
    t = F.col("_tk")
    n = F.size(t)
    bigrams = F.zip_with(
        F.slice(t, 1, n - 1),
        F.slice(t, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        docs.filter(content)
        .select(source_col, tokens(text_col).alias("_tk"))
        .select(source_col, F.explode(bigrams).alias("g"))
        .withColumn("bucket", md5_hash60(F.col("g")) % n_buckets)
        .groupBy(source_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def source_kl_bits(cnt: DataFrame, source_col: str = "source") -> DataFrame:
    """Per-source KL divergence (bits) from the corpus marginal, given
    a ``(source, bucket, c)`` counts frame (``bigram_bucket_counts``
    output, or any batch-accumulated sum of such frames). No smoothing
    needed: the marginal dominates every source (q[b] >= c_s[b]/N > 0
    wherever p_s[b] > 0), so the sum runs over the source's own
    support. Everything here is bucket-table-sized — the corpus never
    appears."""
    # the counts frame fans out to four branches (stot/corp/tot
    # broadcasts + the score join); materialize it once so a
    # corpus-derived input doesn't recompute its explode per branch.
    # Bounded by contract: <= |sources| x n_buckets rows.
    cnt = materialize(cnt)
    stot = cnt.groupBy(source_col).agg(F.sum("c").alias("ns"))
    corp = cnt.groupBy("bucket").agg(F.sum("c").alias("cq"))
    tot = corp.agg(F.sum("cq").alias("n"))
    ps = F.col("c") / F.col("ns")
    q = F.col("cq") / F.col("n")
    return (
        cnt.join(F.broadcast(stot), source_col)
        .join(F.broadcast(corp), "bucket")
        .crossJoin(F.broadcast(tot))
        .groupBy(source_col)
        .agg(
            F.any_value("ns").cast("long").alias("n_bigrams"),
            F.round(F.sum(ps * F.log2(ps / q)), 4).alias("kl_bits"),
        )
    )
