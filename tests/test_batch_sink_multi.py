"""Batch-sink coverage contract (FIXTURES.md F6 cases a-g) and
multi-topic routing semantics."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from kpipe_spark.pipeline import FAILED, PASSED, Pipeline
from kpipe_spark.pipeline.result import ERROR_COL, STATUS_COL
from kpipe_spark.streaming import StreamRunner
from kpipe_spark.streaming.batch_sink import apply_batch_sink, batch_sink_terminal
from kpipe_spark.streaming.multi import MultiRunner
from kpipe_spark.streaming.runner import CircuitBreaker
from kpipe_spark.streaming.sources import file_source


def _df(spark, n=10):
    return spark.createDataFrame(
        [(i, f"v{i}") for i in range(n)], "id int, val string"
    )


def _outcomes(df):
    rows = df.collect()
    return {r["id"]: (r[STATUS_COL], r[ERROR_COL]) for r in rows}


def test_batch_all_succeeded(spark):
    out = _outcomes(
        apply_batch_sink(
            _df(spark), lambda recs: {i: None for i in range(len(recs))}, max_size=4
        )
    )
    assert all(s == PASSED for s, _ in out.values())


def test_batch_all_failed(spark):
    out = _outcomes(
        apply_batch_sink(
            _df(spark), lambda recs: {i: "down" for i in range(len(recs))}, max_size=4
        )
    )
    assert all(s == FAILED and e == "down" for s, e in out.values())


def test_batch_mixed_and_unaccounted(spark):
    """(c) mixed per-index failures + (d) missing indexes ⇒ synthetic
    failures (BatchPipelineWrapper coverage contract)."""

    def sink(recs):
        # fail index 1, succeed 0, never mention the rest
        return {0: None, 1: "bad record"}

    out = _outcomes(apply_batch_sink(_df(spark, 4).coalesce(1), sink, max_size=4))
    assert out[0] == (PASSED, None)
    assert out[1] == (FAILED, "bad record")
    assert out[2][0] == FAILED and "unaccounted" in out[2][1]
    assert out[3][0] == FAILED and "unaccounted" in out[3][1]


def test_batch_out_of_range_ignored(spark):
    def sink(recs):
        res = {i: None for i in range(len(recs))}
        res[999] = "phantom"
        res[-1] = "phantom"
        return res

    out = _outcomes(apply_batch_sink(_df(spark, 4).coalesce(1), sink, max_size=10))
    assert all(s == PASSED for s, _ in out.values())


def test_batch_sink_throw_fails_whole_batch(spark):
    def sink(recs):
        raise ConnectionError("broker gone")

    out = _outcomes(apply_batch_sink(_df(spark, 6).coalesce(1), sink, max_size=3))
    assert all(s == FAILED and "broker gone" in e for s, e in out.values())


def test_batch_null_result_fails_whole_batch(spark):
    out = _outcomes(apply_batch_sink(_df(spark, 4).coalesce(1), lambda r: None, max_size=10))
    assert all(s == FAILED and "null result" in e for s, e in out.values())


def test_batch_chunking_respects_max_size(spark):
    # the sink runs in an executor Python worker: report each chunk's
    # size through the outcome errors so the driver can observe it
    def sink(recs):
        return {i: f"chunk:{len(recs)}" for i in range(len(recs))}

    out = apply_batch_sink(_df(spark, 10).coalesce(1), sink, max_size=4).collect()
    sizes = [int(r[ERROR_COL].split(":")[1]) for r in out]
    assert max(sizes) <= 4
    assert len(out) == 10


def test_batch_terminal_routes_failures_to_dlq(spark):
    dlq: list = []

    def sink(recs):
        return {i: ("flaky" if recs[i]["id"] % 2 else None) for i in range(len(recs))}

    terminal = batch_sink_terminal(sink, dlq_writer=lambda df, bid: dlq.extend(df.collect()), max_size=5)
    terminal(_df(spark, 10), batch_id=0)
    assert {r["id"] for r in dlq} == {1, 3, 5, 7, 9}


def test_multi_topic_routing(spark, tmp_path):
    """One source, per-topic pipelines, unrouted dropped at warning with
    offsets committed (MultiBuilder semantics)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    rows = []
    for i in range(30):
        topic = ["orders", "users", "mystery"][i % 3]
        rows.append({"topic": topic, "id": i, "value": float(i)})
    with open(os.path.join(src, "a.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    orders_sink, users_sink = [], []
    multi = MultiRunner(
        routes={
            "orders": StreamRunner(
                pipeline=Pipeline().filter(F.col("value") >= 3).add_field("route", "orders"),
                sink=lambda df, bid: orders_sink.extend(df.collect()),
            ),
            "users": StreamRunner(
                pipeline=Pipeline().add_field("route", "users"),
                sink=lambda df, bid: users_sink.extend(df.collect()),
            ),
        }
    )
    h = multi.start(
        file_source(spark, src, "topic string, id int, value double"), ckpt
    )
    h.process_all_available()
    h.close()

    assert all(r["route"] == "orders" for r in orders_sink)
    assert len(orders_sink) == 9  # ids 3..29 step 3, value>=3
    assert len(users_sink) == 10
    totals = multi.totals()
    assert totals["records.dropped.unrouted"] == 10  # mystery topic
    assert totals["route.orders.pipeline.processed.filtered"] == 1  # id=0


def test_shared_breaker_sees_every_route(spark):
    """MultiRunner has no breaker of its own: one CircuitBreaker passed
    to every route is the consumer-wide breaker, and it records both
    routes' terminal outcomes. Unrouted rows never enter it. Each
    route alone fills half the window, so only the shared window
    trips."""
    batch = spark.createDataFrame(
        [(["orders", "users", "mystery"][i % 3], i) for i in range(30)],
        "topic string, id int",
    )
    cb = CircuitBreaker(failure_threshold=0.5, window=20, open_duration_s=0.0)
    multi = MultiRunner(
        routes={
            "orders": StreamRunner(
                pipeline=Pipeline().fail_when(F.lit(True), "boom"),
                sink=lambda df, bid: None,
                circuit_breaker=cb,
            ),
            "users": StreamRunner(
                pipeline=Pipeline(),
                sink=lambda df, bid: None,
                circuit_breaker=cb,
            ),
        }
    )
    multi.process_batch(batch, 0)

    # 10 orders failed + 10 users passed; the 10 mystery rows are absent
    assert (cb._size, cb._failed) == (20, 10.0)
    assert cb.state == "OPEN" and cb.trips == 1
    totals = multi.totals()
    assert totals["route.orders.pipeline.processed.failed"] == 10
    assert totals["route.users.pipeline.processed.passed"] == 10
    assert totals["records.dropped.unrouted"] == 10


def test_batch_terminal_dlq_tombstone_and_envelope(spark):
    """The batch terminal honors the idempotent-park discipline
    (round-10 review): the DLQ writer runs on EVERY batch — the empty
    write is the tombstone that clears a pre-crash attempt's parks
    when a replay's transient failures succeed — and parked rows go
    through dlq_frame, carrying the x-dlq-* envelope plus the
    original payload columns (a non-Kafka frame has no serialized
    'value'; its columns ARE the record)."""
    calls: list = []
    ok = batch_sink_terminal(
        lambda recs: {i: None for i in range(len(recs))},
        dlq_writer=lambda df, bid: calls.append((bid, df.collect())),
    )
    ok(_df(spark, 4), batch_id=7)
    assert [bid for bid, _ in calls] == [7]
    assert calls[0][1] == []  # tombstone: invoked, empty

    failing = batch_sink_terminal(
        lambda recs: dict.fromkeys(range(len(recs)), "boom"),
        dlq_writer=lambda df, bid: calls.append((bid, df.collect())),
    )
    failing(_df(spark, 2), batch_id=8)
    rows = calls[-1][1]
    assert len(rows) == 2
    hdrs = {h["key"] for h in rows[0]["headers"]}
    assert "x-dlq-exception-class" in hdrs
    assert rows[0]["error"] == "boom"
    assert "id" in rows[0].asDict()  # original payload parked
