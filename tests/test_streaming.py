"""Streaming semantics: delivery contract, DLQ-before-commit ordering,
processing modes, crash-restart replay, circuit breaker — the pytest
rebuild of kpipe's guarantees suite (SURVEY §5: CrashRestartHarness,
DlqTerminalContractTest) on file sources + checkpoints."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from kpipe_spark.pipeline import Pipeline
from kpipe_spark.streaming import ProcessingMode, StreamRunner
from kpipe_spark.streaming.runner import CircuitBreaker
from kpipe_spark.streaming.sources import file_source

# Round-14 suite tiering: this module is in the SLOW tier (excluded from
# the driver's default `pytest tests/ -q` run by addopts; run with -m slow).
# See pyproject.toml [tool.pytest.ini_options] for the rationale.
pytestmark = pytest.mark.slow


SCHEMA = "event_id bigint, key string, event_type string, value double, offset bigint"


def write_batch_file(path: str, rows: list[dict], name: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def demo_pipeline() -> Pipeline:
    return (
        Pipeline()
        .fail_when(F.col("event_type") == "error", "boom")
        .filter(F.col("value") > 50.0)
        .add_field("stage", "v1")
    )


def rows_batch(start: int, n: int, key_cycle: int = 3) -> list[dict]:
    out = []
    for i in range(start, start + n):
        out.append(
            {
                "event_id": i,
                "key": f"k{i % key_cycle}",
                "event_type": "error" if i % 10 == 7 else "ok",
                "value": float((i * 37) % 100),
                "offset": i,
            }
        )
    return out


def test_end_to_end_outcomes_and_dlq(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    data = rows_batch(0, 40)
    write_batch_file(src, data[:20], "a.json")
    write_batch_file(src, data[20:], "b.json")

    delivered, dlq = [], []
    runner = StreamRunner(
        pipeline=demo_pipeline(),
        sink=lambda df, bid: delivered.extend(df.collect()),
        dlq_writer=lambda df, bid: dlq.extend(df.collect()),
    )
    h = runner.start(file_source(spark, src, SCHEMA), ckpt, query_name="e2e")
    h.process_all_available()
    h.close()

    exp_failed = [r for r in data if r["event_type"] == "error"]
    exp_passed = [
        r for r in data if r["event_type"] != "error" and r["value"] > 50.0
    ]
    assert sorted(r["event_id"] for r in delivered) == [r["event_id"] for r in exp_passed]
    assert len(dlq) == len(exp_failed)
    # delivered rows carry the added field and no outcome columns
    assert all(r["stage"] == "v1" for r in delivered)
    assert "_status" not in delivered[0].asDict()
    # metrics counters match exactly (docs/OBSERVABILITY.md names); the
    # outcome counts are observed on the batch's checkpoint job, and the
    # filtered rows the checkpoint drops are still counted
    expected = {
        "records.received": len(data),
        "pipeline.processed.passed": len(exp_passed),
        "pipeline.processed.filtered": len(data) - len(exp_passed) - len(exp_failed),
        "pipeline.processed.failed": len(exp_failed),
        "dlq.sent": len(exp_failed),
        "dlq.send.failures": 0,
        "sink.errors": 0,
        "batches.completed": 2,
    }
    m = h.metrics()
    assert {k: m[k] for k in expected} == expected
    # DLQ envelope columns present (FIXTURES.md F5)
    hdr_keys = {h["key"] for h in dlq[0]["headers"]}
    assert "x-dlq-exception-class" in hdr_keys
    assert "x-dlq-exception-message" in hdr_keys


def test_dlq_failure_holds_commit_and_replays(spark, tmp_path):
    """DLQ park failure ⇒ batch uncommitted ⇒ restart replays the batch
    (docs/OFFSET-INVARIANTS.md:79-90: offset held, redelivery)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    data = rows_batch(0, 10)
    write_batch_file(src, data, "a.json")

    delivered, dlq = [], []

    def broken_dlq(df, bid):
        raise RuntimeError("dlq broker down")

    runner = StreamRunner(
        pipeline=demo_pipeline(),
        sink=lambda df, bid: delivered.extend(df.collect()),
        dlq_writer=broken_dlq,
    )
    h = runner.start(file_source(spark, src, SCHEMA), ckpt, query_name="dlqfail")
    with pytest.raises(Exception):
        h.process_all_available()
    h.close()
    assert delivered == []  # sink ran after DLQ, so nothing delivered

    # restart with a healthy DLQ writer and the SAME checkpoint: the
    # uncommitted batch replays in full
    runner2 = StreamRunner(
        pipeline=demo_pipeline(),
        sink=lambda df, bid: delivered.extend(df.collect()),
        dlq_writer=lambda df, bid: dlq.extend(df.collect()),
    )
    h2 = runner2.start(file_source(spark, src, SCHEMA), ckpt, query_name="dlqfail2")
    h2.process_all_available()
    h2.close()

    exp_failed = [r for r in data if r["event_type"] == "error"]
    exp_passed = [r for r in data if r["event_type"] != "error" and r["value"] > 50.0]
    assert len(dlq) == len(exp_failed)
    assert len(delivered) == len(exp_passed)


def test_crash_restart_at_least_once(spark, tmp_path):
    """At-least-once across a crash, via the exported test kit
    (kpipe_spark.testkit.CrashRestartHarness — the public analogue of
    CrashRestartHarness.java:24-63): consumer A processes [0, 20) but
    commits only [0, 10); consumer B resumes over [10, 30)."""
    from kpipe_spark.testkit import CrashRestartHarness

    all_rows = rows_batch(0, 30, key_cycle=5)
    result = (
        CrashRestartHarness(spark, SCHEMA, str(tmp_path))
        .with_pipeline(Pipeline().add_field("stage", "v1"))
        .seed(all_rows)
        .commit_up_to(10)
        .crash_after(20)
        .restart()
    )
    # the uncommitted tail [10, 20) is REDELIVERED to B (at-least-once)
    assert result.tail_ids("event_id") <= result.second_run_ids("event_id")
    # committed prefix [0, 10) NOT redelivered (checkpoint, not rebalance)
    assert result.second_run_ids("event_id") == set(range(10, 30))
    # nothing lost across the crash
    first_ids = {r["event_id"] for r in result.first_run}
    assert first_ids | result.second_run_ids("event_id") == set(range(30))


def test_key_ordered_mode(spark, tmp_path):
    """KEY_ORDERED: per-key offset order preserved; keys in one
    partition (KeyOrderedDispatcher semantics via hash shuffle)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    data = rows_batch(0, 60, key_cycle=4)
    write_batch_file(src, data, "a.json")

    ordered: list = []
    runner = StreamRunner(
        pipeline=Pipeline().add_field("stage", "v1"),
        sink=lambda df, bid: ordered.extend(df.collect()),
        mode=ProcessingMode.KEY_ORDERED,
        key_col="key",
    )
    h = runner.start(file_source(spark, src, SCHEMA), ckpt, query_name="keyord")
    h.process_all_available()
    h.close()

    assert len(ordered) == len(data)
    per_key: dict[str, list[int]] = {}
    for r in ordered:
        per_key.setdefault(r["key"], []).append(r["offset"])
    for key, offsets in per_key.items():
        assert offsets == sorted(offsets), f"key {key} out of order: {offsets}"


def test_sequential_mode(spark, tmp_path):
    """SEQUENTIAL: strict global (partition, offset) order in the sink."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    data = rows_batch(0, 25, key_cycle=3)
    write_batch_file(src, data, "a.json")

    ordered: list = []
    runner = StreamRunner(
        pipeline=Pipeline(),
        sink=lambda df, bid: ordered.extend(df.collect()),
        mode=ProcessingMode.SEQUENTIAL,
    )
    h = runner.start(file_source(spark, src, SCHEMA), ckpt, query_name="seq")
    h.process_all_available()
    h.close()
    offsets = [r["offset"] for r in ordered]
    assert offsets == sorted(offsets)


def test_sink_retry(spark, tmp_path):
    """withRetry at terminal granularity: transient sink failure is
    retried with backoff; record not lost (Stream.java:83-92)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    write_batch_file(src, rows_batch(0, 5), "a.json")

    calls = {"n": 0}
    delivered: list = []

    def flaky_sink(df, bid):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")
        delivered.extend(df.collect())

    runner = StreamRunner(
        pipeline=Pipeline(),
        sink=flaky_sink,
        sink_retries=2,
        sink_retry_backoff_s=0.05,
    )
    h = runner.start(file_source(spark, src, SCHEMA), ckpt, query_name="retry")
    h.process_all_available()
    h.close()
    assert calls["n"] == 2
    assert len(delivered) == 5
    assert h.metrics()["sink.errors"] == 1


def test_observers_swallow_exceptions(spark, tmp_path):
    """Result observers are observe-only; a throwing observer never
    affects the pipeline (DefaultStream.java:307-369)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    write_batch_file(src, rows_batch(0, 10), "a.json")

    seen = {"filtered": 0, "failed": 0}

    def bad_observer(n):
        seen["filtered"] += n
        raise RuntimeError("observer bug")

    delivered: list = []
    runner = StreamRunner(
        pipeline=demo_pipeline(),
        sink=lambda df, bid: delivered.extend(df.collect()),
        dlq_writer=lambda df, bid: None,
        on_filtered=bad_observer,
        on_failed=lambda n: seen.__setitem__("failed", seen["failed"] + n),
    )
    h = runner.start(file_source(spark, src, SCHEMA), ckpt, query_name="obs")
    h.process_all_available()
    h.close()
    assert seen["failed"] == 1  # i=7 is the error row in 0..9
    assert seen["filtered"] > 0
    assert len(delivered) > 0


def test_kafka_source_requires_exactly_one_subscription(spark):
    """subscribe vs subscribePattern are mutually exclusive — the
    validation runs before any connector lookup, so it's testable
    without a broker or the kafka package."""
    import pytest as _pytest

    from kpipe_spark.streaming.sources import kafka_source

    with _pytest.raises(ValueError, match="exactly one"):
        kafka_source(spark, "localhost:9092")
    with _pytest.raises(ValueError, match="exactly one"):
        kafka_source(
            spark, "localhost:9092", topics="t", subscribe_pattern="t-.*"
        )


def test_sink_outage_feeds_and_trips_the_breaker(spark, tmp_path):
    """Round-10 review: the classic breaker trigger is a DEAD SINK —
    a sink failure after retries must land in the breaker window (the
    reference's CB sees terminal produce failures,
    CircuitBreakerController.java:34-60), not bypass it because the
    batch aborted before the success-path record() call."""
    src = str(tmp_path / "src")
    write_batch_file(src, rows_batch(0, 20), "a.json")

    def dead_sink(df, batch_id):
        raise RuntimeError("sink down")

    cb = CircuitBreaker(failure_threshold=0.5, window=10, open_duration_s=0.0)
    runner = StreamRunner(
        pipeline=Pipeline().require_field("event_id"),
        sink=dead_sink,
        circuit_breaker=cb,
    )
    batch = spark.read.schema(
        "event_id long, key string, event_type string, "
        "value double, offset long"
    ).json(src)
    with pytest.raises(RuntimeError, match="sink down"):
        runner.process_batch(batch, 0)
    # the 20 undelivered records filled the window and tripped it
    assert cb.state == "OPEN" and cb.trips == 1
    assert runner.metrics.counters["circuitbreaker.trips"] == 1
