"""Processing modes (ProcessingMode.java:30-45) as micro-batch shapers.

kpipe dispatches records three ways (SequentialDispatcher.java,
ParallelDispatcher.java, KeyOrderedDispatcher.java:66-474); in Spark the
mode is a transformation applied to each micro-batch before the sink:

- PARALLEL: partition-parallel execution, no ordering; an under-split
  batch (one file per trigger, one Kafka partition) is respread to the
  session's parallelism first.
- SEQUENTIAL: one partition, sorted by (topic, partition, offset). This
  is the honest strict-mode mapping: a true global order cannot be
  parallel in either system (kpipe processes one record at a time here
  too). Per-source-partition order (what Kafka actually guarantees,
  docs/GUARANTEES.md:60-66) is the default shape of the Kafka source.
- KEY_ORDERED: repartition by key + sort within partitions by
  (key, offset): every key's records land in one task, in offset order
  — the shuffle gives per-key serialization natively, replacing kpipe's
  640-line per-key queue dispatcher (key cap/eviction machinery is
  obsolete; skew is AQE's job).

Null keys: kpipe routes all null keys to one sentinel queue
(KeyOrderedDispatcher.java:75-78); a hash shuffle likewise sends all
nulls to one partition — same semantics, no special case.
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kpipe_spark.util import ensure_parallelism


class ProcessingMode(Enum):
    PARALLEL = "parallel"
    SEQUENTIAL = "sequential"
    KEY_ORDERED = "key_ordered"


def shape_batch(
    batch: DataFrame, mode: ProcessingMode, key_col: str = "key"
) -> DataFrame:
    if mode is ProcessingMode.PARALLEL:
        return ensure_parallelism(batch)
    cols = batch.columns
    order = [c for c in ("topic", "partition", "offset") if c in cols]
    if mode is ProcessingMode.SEQUENTIAL:
        return batch.coalesce(1).sortWithinPartitions(*order) if order else batch.coalesce(1)
    # KEY_ORDERED: the hash exchange already spreads the batch
    sort_cols = [key_col] + [c for c in ("offset",) if c in cols]
    return batch.repartition(F.col(key_col)).sortWithinPartitions(*sort_cols)
