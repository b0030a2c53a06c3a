"""StreamRunner per-batch checkpoint lifecycle.

Each micro-batch's terminal-bound rows (passed and failed; filtered
rows are dropped) are local-checkpointed once, and both terminals read
those blocks. The checkpoint must be released when the batch ends,
whether it committed or raised, or a long-lived stream holds one dead
batch-sized RDD per micro-batch until session shutdown. And because a
local checkpoint cuts lineage, losing its blocks mid-batch (the
executor holding them died) cannot be recomputed by Spark: the runner
redoes the batch once from its source instead of failing the query.
"""

from __future__ import annotations

import pytest

from kpipe_spark.streaming import StreamRunner
from kpipe_spark.streaming.runner import CircuitBreaker
from kpipe_spark.streaming.sources import file_source
from kpipe_spark.util import free_local_checkpoint
from tests.test_streaming import SCHEMA, demo_pipeline, rows_batch, write_batch_file

FIELDS = ("event_id", "key", "event_type", "value", "offset")


def _persistent_rdd_count(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _batch(spark, start: int, n: int):
    rows = [tuple(r[f] for f in FIELDS) for r in rows_batch(start, n)]
    return spark.createDataFrame(rows, SCHEMA)


def _passed_ids(rows: list[dict]) -> list[int]:
    return [r["event_id"] for r in rows if r["event_type"] != "error" and r["value"] > 50.0]


def test_batches_release_their_checkpoint(spark):
    base = _persistent_rdd_count(spark)
    delivered: list = []

    def sink(df, batch_id):
        if batch_id == 1:
            raise RuntimeError("sink down")
        delivered.extend(df.collect())

    runner = StreamRunner(
        pipeline=demo_pipeline(),
        sink=sink,
        dlq_writer=lambda df, batch_id: df.collect(),
    )
    for batch_id in range(4):
        batch = _batch(spark, 20 * batch_id, 20)
        if batch_id == 1:
            with pytest.raises(RuntimeError, match="sink down"):
                runner.process_batch(batch, batch_id)
        else:
            runner.process_batch(batch, batch_id)
        # committed or not, the batch keeps no blocks once it returns
        assert _persistent_rdd_count(spark) == base
    expected = [i for b in (0, 2, 3) for i in _passed_ids(rows_batch(20 * b, 20))]
    assert sorted(r["event_id"] for r in delivered) == expected


def test_sink_freeing_its_own_checkpoint_keeps_the_batch(spark):
    """A sink may checkpoint a frame derived from its input and free it
    through another derived frame once superseded (ClusterIndex.update_batch
    does). That lineage walk reaches the batch's checkpoint too; it is
    pinned, so the sink's later reads of its input still work."""
    base = _persistent_rdd_count(spark)
    delivered: list = []

    def sink(df, batch_id):
        staged = df.select("event_id").localCheckpoint(eager=True)
        assert free_local_checkpoint(df.join(staged, "event_id")) is True
        delivered.extend(df.collect())

    StreamRunner(pipeline=demo_pipeline(), sink=sink).process_batch(_batch(spark, 0, 20), 0)
    assert sorted(r["event_id"] for r in delivered) == _passed_ids(rows_batch(0, 20))
    assert _persistent_rdd_count(spark) == base


def test_lost_checkpoint_redoes_the_batch(spark, tmp_path):
    """A sink that frees the checkpoint on its first call stands in for
    a lost executor: its read fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
    The batch is redone from the source, every passed row is delivered
    once, and counters and breaker see the batch once."""
    src = str(tmp_path / "src")
    data = rows_batch(0, 40)
    write_batch_file(src, data[:20], "a.json")
    write_batch_file(src, data[20:], "b.json")

    freed: list[bool] = []
    delivered: list = []
    parked: dict[int, list] = {}

    def sink(df, batch_id):
        if not freed:
            freed.append(free_local_checkpoint(df, pinned=True))
        delivered.extend(df.collect())

    breaker = CircuitBreaker(failure_threshold=0.5, window=10, open_duration_s=0.0)
    runner = StreamRunner(
        pipeline=demo_pipeline(),
        sink=sink,
        # batch-id keyed, as an idempotent DLQ is: the redo re-parks
        dlq_writer=lambda df, batch_id: parked.__setitem__(batch_id, df.collect()),
        circuit_breaker=breaker,
    )
    h = runner.start(file_source(spark, src, SCHEMA), str(tmp_path / "ckpt"), query_name="lost")
    h.process_all_available()
    assert h.query.isActive and h.query.exception() is None
    h.close()

    assert freed == [True]
    assert sorted(r["event_id"] for r in delivered) == _passed_ids(data)
    failed_ids = [r["event_id"] for r in data if r["event_type"] == "error"]
    # rows_batch sets offset = event_id
    assert sorted(r["offset"] for rows in parked.values() for r in rows) == failed_ids
    m = h.metrics()
    assert m["records.received"] == len(data)
    assert m["pipeline.processed.passed"] == len(_passed_ids(data))
    assert m["pipeline.processed.failed"] == len(failed_ids)
    assert m["dlq.sent"] == len(failed_ids)
    assert m["batches.completed"] == 2
    assert m["sink.errors"] == 0
    # the lost attempt's undelivered rows never reached the breaker
    assert breaker.trips == 0 and breaker.state == "CLOSED"
