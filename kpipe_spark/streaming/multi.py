"""Heterogeneous multi-topic routing (SURVEY §2.1 S7).

kpipe's MultiBuilder: ONE consumer / one group / one offset manager
with per-topic typed pipelines; records on unrouted topics are dropped
at WARNING with their offsets still committed (MultiBuilder.java:209-346,
docs/API.md:118-119, RecordProcessor.java:239-249). Spark mapping: one
Kafka source subscribed to every routed topic, one checkpoint; inside
foreachBatch each route filters its topic and runs its own pipeline +
terminals. Offsets for unrouted rows advance automatically — the batch
commit covers the whole offset range.

MultiRunner holds no circuit breaker of its own. The reference's
consumer-wide breaker (docs/API.md:117) is ONE ``CircuitBreaker``
instance passed to every route's StreamRunner: it then records the
terminal outcomes of all routes. Unrouted rows never reach a route, so
they never enter it.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kpipe_spark.streaming.runner import Metrics, StreamRunner

log = logging.getLogger(__name__)


@dataclass
class MultiRunner:
    """Route map topic -> StreamRunner. Each route keeps its own
    pipeline/sink/DLQ/breaker; the checkpoint and the metrics totals are
    shared. A consumer-wide breaker is one CircuitBreaker passed to
    every route (module docstring)."""

    routes: dict[str, StreamRunner]
    topic_col: str = "topic"
    metrics: Metrics = field(default_factory=Metrics)
    _warned_topics: set = field(default_factory=set)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            # unrouted topics: drop at WARNING, offsets still commit
            # (they're inside the batch's offset range regardless)
            unrouted = (
                batch.filter(~F.col(self.topic_col).isin(*self.routes))
                .groupBy(self.topic_col)
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            for r in unrouted:
                t = r[self.topic_col]
                self.metrics.add("records.dropped.unrouted", r["n"])
                if t not in self._warned_topics:
                    log.warning("no route for topic %r — %d records dropped", t, r["n"])
                    self._warned_topics.add(t)

            # route metrics stay per-route; totals() aggregates on read
            for topic, runner in self.routes.items():
                branch = batch.filter(F.col(self.topic_col) == topic)
                runner.process_batch(branch, batch_id)
            self.metrics.add("batches.completed")
        finally:
            batch.unpersist()

    def totals(self) -> dict[str, int]:
        out = dict(self.metrics.counters)
        for name, runner in self.routes.items():
            for k, v in runner.metrics.counters.items():
                out[f"route.{name}.{k}"] = v
        return out

    def start(self, stream_df: DataFrame, checkpoint_dir: str,
              query_name: str = "kpipe-multi"):
        from kpipe_spark.streaming.runner import Handle

        query = (
            stream_df.writeStream.queryName(query_name)
            .foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )
        return Handle(query, self.metrics)
