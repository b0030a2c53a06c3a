"""Outcome-column model of kpipe's sealed Result type.

Result.java:31-103 defines Passed(value) / Filtered / Failed(cause).
We carry it as two columns:

- ``_status``: 'passed' | 'filtered' | 'failed'
- ``_error`` : error message, non-null only when failed

Rows are never dropped mid-pipeline — terminals split on status, which
preserves kpipe's outcome accounting (docs/OBSERVABILITY.md:20-42:
pipeline.processed.{passed,filtered,failed}).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

STATUS_COL = "_status"
ERROR_COL = "_error"
ATTEMPTS_COL = "_attempts"

PASSED = "passed"
FILTERED = "filtered"
FAILED = "failed"


def ensure_outcome(df: DataFrame) -> DataFrame:
    """Attach the outcome columns if absent (all rows start passed)."""
    out = df
    if STATUS_COL not in df.columns:
        out = out.withColumn(STATUS_COL, F.lit(PASSED))
    if ERROR_COL not in out.columns:
        out = out.withColumn(ERROR_COL, F.lit(None).cast("string"))
    return out


def is_passed(df: DataFrame) -> Column:
    return F.col(STATUS_COL) == PASSED


def outcome_counts(df: DataFrame) -> dict[str, int]:
    """Eager passed/filtered/failed counts (one job, map-side combined)."""
    rows = (
        ensure_outcome(df)
        .groupBy(STATUS_COL)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    counts = {PASSED: 0, FILTERED: 0, FAILED: 0}
    for r in rows:
        counts[r[STATUS_COL]] = r["n"]
    return counts


def observe_outcomes(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Lazy passed/filtered/failed counts: the returned frame carries an
    ``observe()`` whose counts ride on its first action (no job of their
    own); read them with ``observation.get`` once that action is done."""
    observation = Observation()
    counted = df.observe(
        observation,
        *(F.count_if(F.col(STATUS_COL) == s).alias(s) for s in (PASSED, FILTERED, FAILED)),
    )
    return counted, observation
