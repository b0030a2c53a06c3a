"""Outcome-aware streaming terminals: foreachBatch with kpipe's
delivery contract.

The contract being reproduced (docs/GUARANTEES.md:39-58,
docs/OFFSET-INVARIANTS.md:79-90): a record's offset may only advance
when the record reached a durable terminal state — sink-ok, filtered,
or DLQ-parked. In Structured Streaming the checkpoint commit-log entry
for a micro-batch IS the offset advance, and it is written only after
foreachBatch returns. So the runner orders terminals inside
foreachBatch as: DLQ park FIRST, then the passed-record sink; any
failure raises, the batch is not committed, and restart replays it —
at-least-once, exactly like kpipe redelivering uncommitted offsets.
(Replays mean possible DLQ duplicates; dedupe downstream on
(topic, partition, offset) — same advice as the reference,
docs/GUARANTEES.md "duplicates are possible".)

Also here: per-batch outcome metrics (ConsumerMetricKeys counters),
result observers (Stream.onFiltered/onFailed/peekResult,
Stream.java:187-240), the error handler (R2), a sink retry loop (R1 at
terminal granularity), and the circuit breaker (R5) as a
failure-rate gate that pauses consumption while OPEN.
"""

from __future__ import annotations

import logging
import time
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kpipe_spark.pipeline.pipeline import Pipeline
from kpipe_spark.pipeline.result import (
    ERROR_COL,
    FAILED,
    FILTERED,
    PASSED,
    STATUS_COL,
    observe_outcomes,
)
from kpipe_spark.pipeline.sinks import dlq_frame
from kpipe_spark.streaming.backpressure import BackpressureGovernor, kafka_lag
from kpipe_spark.streaming.modes import ProcessingMode, shape_batch
from kpipe_spark.util import free_local_checkpoint, pin_local_checkpoint

log = logging.getLogger(__name__)


def _checkpoint_lost(exc: BaseException | None) -> bool:
    """True when ``exc``, or an exception it wraps, is a read of local
    checkpoint blocks that are gone (their executor was lost)."""
    seen: set[int] = set()
    while exc is not None and id(exc) not in seen:
        seen.add(id(exc))
        if "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" in str(exc):
            return True
        exc = exc.__cause__ or exc.__context__
    return False


class Metrics:
    """Counter set mirroring kpipe's consumer metrics
    (docs/OBSERVABILITY.md:20-42)."""

    def __init__(self) -> None:
        self.counters: dict[str, int] = {
            "records.received": 0,
            "pipeline.processed.passed": 0,
            "pipeline.processed.filtered": 0,
            "pipeline.processed.failed": 0,
            "dlq.sent": 0,
            "dlq.send.failures": 0,
            "sink.errors": 0,
            "batches.completed": 0,
            "circuitbreaker.trips": 0,
            "backpressure.pauses": 0,
        }

    def add(self, key: str, n: int = 1) -> None:
        self.counters[key] = self.counters.get(key, 0) + n


class CircuitOpen(Exception):
    pass


@dataclass
class CircuitBreaker:
    """Count-window failure-rate breaker (Stream.withCircuitBreaker,
    Stream.java:161-185; state machine ConsumerHealthController.java:292-451).

    CLOSED -> OPEN when the rolling window is full and failure-rate >=
    threshold; OPEN pauses consumption (the runner sleeps — Spark's
    analogue of kpipe pausing the consumer while keeping group
    membership); after open_duration_s the next batch is the HALF_OPEN
    probe: success closes, failure re-opens.
    """

    failure_threshold: float = 0.5
    window: int = 100
    open_duration_s: float = 5.0
    # the rolling window as counts: how many outcomes it holds, and how
    # many of those are failures (fractional once batches are spread)
    _size: int = 0
    _failed: float = 0.0
    state: str = "CLOSED"
    _opened_at: float = 0.0
    trips: int = 0

    def record(self, passed: int, filtered: int, failed: int) -> None:
        # one terminal outcome per record, after retries (CB sees terminal
        # outcomes only, CircuitBreakerController.java:34-60). A batch's
        # outcomes have no order among themselves, so the batch enters
        # the window spread in proportion: the newest min(n, window)
        # outcomes carry its failure rate, and the outcomes they push
        # out leave the older window in its own proportion. O(1) per
        # batch, whatever its size.
        n = passed + filtered + failed
        if n:
            take = min(n, self.window)
            kept = min(self._size, self.window - take)
            kept_failed = self._failed * kept / self._size if self._size else 0.0
            self._failed = kept_failed + failed * take / n
            self._size = kept + take
        if self.state == "HALF_OPEN":
            # probe decided by this batch: any failure re-opens
            if failed > 0:
                self._open()
            else:
                self.state = "CLOSED"
                # fresh window on recovery: the outage's failures must
                # not re-trip the breaker off all-success batches
                # (without this, a 50%+-failure residue re-opens on
                # the first healthy batch, stalling a recovered
                # stream open_duration at a time for several cycles)
                self._size, self._failed = 0, 0.0
        elif self.state == "CLOSED" and self._size >= self.window:
            if self._failed / self._size >= self.failure_threshold:
                self._open()

    def _open(self) -> None:
        self.state = "OPEN"
        self._opened_at = time.monotonic()
        self.trips += 1

    def gate(self) -> None:
        """Called before processing a batch: while OPEN, block (paused
        consumption) until open_duration elapses, then go HALF_OPEN."""
        if self.state == "OPEN":
            remaining = self.open_duration_s - (time.monotonic() - self._opened_at)
            if remaining > 0:
                log.warning("circuit OPEN — pausing consumption %.1fs", remaining)
                time.sleep(remaining)
            self.state = "HALF_OPEN"


@dataclass
class StreamRunner:
    """Compile a Pipeline onto a streaming frame with terminal routing.

    sink(df, batch_id) receives PASSED rows only. dlq_writer(df,
    batch_id), when set, receives the DLQ-enveloped failed rows and runs
    BEFORE the sink; its failure aborts the batch (commit withheld ⇒
    replay), reproducing "DLQ-send-failure holds the offset"
    (docs/OFFSET-INVARIANTS.md:79-90). Both frames read the batch's
    local checkpoint, which is freed when process_batch returns: consume
    them inside the call.
    """

    pipeline: Pipeline
    sink: Callable[[DataFrame, int], None]
    dlq_writer: Callable[[DataFrame, int], None] | None = None
    error_handler: Callable[[list], None] | None = None
    on_filtered: Callable[[int], None] | None = None
    on_failed: Callable[[int], None] | None = None
    mode: ProcessingMode = ProcessingMode.PARALLEL
    key_col: str = "key"
    sink_retries: int = 0
    sink_retry_backoff_s: float = 0.5
    circuit_breaker: CircuitBreaker | None = None
    metrics: Metrics = field(default_factory=Metrics)
    # Error-handler sample cap: during an outage the failed set can be
    # the whole batch; an unbounded collect() is a driver OOM at scale.
    # The handler gets at most this many rows; the TRUE failed count is
    # always in metrics["pipeline.processed.failed"] (and is passed to
    # on_failed). Mirrors the reference's per-record callback contract
    # (RecordProcessor.java:437-448) without the reference's
    # one-record-at-a-time memory profile.
    error_sample_limit: int = 1000

    def _write_with_retry(
        self, write: Callable[[], None], what: str, tally: Counter
    ) -> None:
        """Fixed-backoff retry (Stream.withRetry semantics: maxRetries
        counts retries AFTER the first attempt, KPipeConsumerBuilder.java:52-53)."""
        attempts = self.sink_retries + 1
        for attempt in range(1, attempts + 1):
            try:
                write()
                return
            except Exception as e:
                # lost checkpoint blocks do not come back on retry; the
                # batch is redone from its source instead (process_batch)
                if _checkpoint_lost(e):
                    raise
                tally["sink.errors"] += 1
                if attempt == attempts:
                    raise
                log.warning("%s failed (attempt %d/%d) — backing off", what, attempt, attempts)
                time.sleep(self.sink_retry_backoff_s)

    def _breaker_observe_failure(self, n: int) -> None:
        """Feed ``n`` terminal failures into the breaker window after a
        sink/DLQ write exhausted its retries: the batch replays (offset
        held), but the outage must be OBSERVABLE — a breaker that only
        sees pipeline outcomes can never trip on the downstream-dead
        failure mode it exists for. On a HALF_OPEN probe this re-opens
        immediately (probe failed), matching the state machine."""
        if self.circuit_breaker:
            self.circuit_breaker.record(0, 0, n)
            self.metrics.counters["circuitbreaker.trips"] = (
                self.circuit_breaker.trips
            )

    def _account(self, tally: Counter) -> None:
        """Fold one attempt's counters into the metrics and notify the
        result observers."""
        for key, n in tally.items():
            self.metrics.add(key, n)
        # observers are observe-only; a throwing observer is swallowed
        # (DefaultStream.java:307-369)
        for cb, key in (
            (self.on_filtered, "pipeline.processed.filtered"),
            (self.on_failed, "pipeline.processed.failed"),
        ):
            if cb and tally[key]:
                try:
                    cb(tally[key])
                except Exception:  # noqa: BLE001
                    log.exception("result observer raised — swallowed")

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self.circuit_breaker:
            self.circuit_breaker.gate()

        shaped = shape_batch(batch, self.mode, key_col=self.key_col)
        applied = self.pipeline.apply(shaped)
        try:
            self._deliver(applied, batch_id)
        except Exception as e:
            if not _checkpoint_lost(e):
                raise
            # an executor holding the checkpoint's blocks was lost. The
            # checkpoint cut lineage, so Spark cannot recompute them, but
            # `applied` still reaches the source: redo the batch once.
            # The DLQ writer is batch-id idempotent and the sink
            # at-least-once, so this is an ordinary replay.
            log.warning("batch %d lost checkpoint blocks — redoing it from source", batch_id)
            self._deliver(applied, batch_id)

    def _deliver(self, applied: DataFrame, batch_id: int) -> None:
        """One attempt at a batch: materialize its terminal-bound rows,
        run the terminals over them, account for the outcomes.

        One eager job does the materializing: the outcome counts ride on
        it through ``observe()``, FILTERED rows (no terminal reads them)
        are dropped, and the rest is local-checkpointed at the serialized
        level (the deserialized default holds the same rows in more
        memory). Both terminals then read those blocks, not the source.

        Counters, observers and the breaker are fed from the attempt
        that completes — succeeded, or failed for any reason but lost
        checkpoint blocks (that attempt is redone by process_batch)."""
        counted, observation = observe_outcomes(applied)
        # not util.materialize: a micro-batch is batch-bounded scratch,
        # and its strategies checkpoint bounded frames deserialized.
        # Pinned: a sink freeing its own checkpoints must not free ours.
        frozen = pin_local_checkpoint(
            counted.filter(F.col(STATUS_COL) != FILTERED).localCheckpoint(
                eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
            )
        )
        try:
            counts = observation.get
            n_passed, n_filtered, n_failed = counts[PASSED], counts[FILTERED], counts[FAILED]
            tally: Counter = Counter(
                {
                    "records.received": n_passed + n_filtered + n_failed,
                    "pipeline.processed.passed": n_passed,
                    "pipeline.processed.filtered": n_filtered,
                    "pipeline.processed.failed": n_failed,
                }
            )
            try:
                self._terminals(frozen, batch_id, n_passed, n_failed, tally)
            except Exception as e:
                if not _checkpoint_lost(e):
                    self._account(tally)
                raise
            tally["batches.completed"] += 1
            self._account(tally)
            if self.circuit_breaker:
                self.circuit_breaker.record(n_passed, n_filtered, n_failed)
                self.metrics.counters["circuitbreaker.trips"] = self.circuit_breaker.trips
        finally:
            free_local_checkpoint(frozen, pinned=True)

    def _terminals(
        self, frozen: DataFrame, batch_id: int, n_passed: int, n_failed: int, tally: Counter
    ) -> None:
        # 1. DLQ park FIRST — before anything that could commit.
        # The writer runs on EVERY batch (an empty frame when
        # nothing failed): an idempotent batch-keyed sink needs the
        # empty write as a tombstone — a replay whose transient
        # failures succeeded must CLEAR the pre-crash attempt's
        # parks, not leave them stranded (IdempotentDlqParquet).
        if self.dlq_writer is not None:
            try:
                self.dlq_writer(dlq_frame(frozen), batch_id)
            except Exception as e:
                if not _checkpoint_lost(e):
                    tally["dlq.send.failures"] += 1
                    # the park failure IS a terminal-outcome failure
                    # for breaker purposes: a dead DLQ broker must be
                    # able to trip the breaker, not just hot-replay
                    self._breaker_observe_failure(n_failed or 1)
                raise  # batch not committed ⇒ replay (offset held)
            if n_failed:
                tally["dlq.sent"] += n_failed
        if n_failed and self.error_handler is not None:
            # invoked with terminally-failed records, after
            # retries; a throwing handler is contained
            # (RecordProcessor.java:437-448). Bounded sample —
            # never collect a whole failed batch to the driver.
            try:
                failed_rows = (
                    frozen.filter(F.col(STATUS_COL) == FAILED)
                    .limit(self.error_sample_limit)
                    .collect()
                )
                if n_failed > len(failed_rows):
                    log.warning(
                        "error handler sampled %d of %d failed records",
                        len(failed_rows),
                        n_failed,
                    )
                self.error_handler(failed_rows)
            except Exception:  # noqa: BLE001
                log.exception("error handler raised — contained")

        # 2. deliver passed records. A sink that fails AFTER
        # retries is the classic breaker trigger (the reference's
        # CB sees terminal produce failures too,
        # CircuitBreakerController.java:34-60) — without the
        # except-hook the breaker would only ever see
        # pipeline-level outcomes and a persistent sink outage
        # could never trip it.
        passed_df = frozen.filter(F.col(STATUS_COL) == PASSED).drop(
            STATUS_COL, ERROR_COL
        )
        try:
            self._write_with_retry(
                lambda: self.sink(passed_df, batch_id), "sink", tally
            )
        except Exception as e:
            if not _checkpoint_lost(e):
                self._breaker_observe_failure(n_passed or 1)
            raise  # batch not committed ⇒ replay

    def start(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        query_name: str = "kpipe-stream",
        trigger: dict[str, Any] | None = None,
        backpressure: BackpressureGovernor | None = None,
    ):
        """writeStream.foreachBatch(...).start() -> Handle."""
        writer = (
            stream_df.writeStream.queryName(query_name)
            .foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return Handle(writer.start(), self.metrics, governor=backpressure)


class Handle:
    """Lifecycle handle (kpipe-api Handle.java / docs/API.md:76-94):
    await / close (graceful drain) / health / metrics / backpressure
    over a StreamingQuery."""

    def __init__(
        self,
        query,
        metrics: Metrics,
        governor: BackpressureGovernor | None = None,
    ) -> None:
        self.query = query
        self._metrics = metrics
        self.governor = governor
        self._health_probes: dict[str, Callable[[], Any]] = {}

    def add_health_probe(self, name: str, probe: Callable[[], Any]) -> None:
        """Attach a named artifact health probe — e.g. a CmsSketch the
        stream maintains (``sketch.health`` reports its delta-partition
        growth and compaction advisory). ``health()`` surfaces every
        probe under ``artifacts.<name>``; a throwing probe is contained
        as an error entry (the health endpoint must not 503 because a
        maintenance-side DESCRIBE failed)."""
        self._health_probes[name] = probe

    def lag(self) -> int:
        """Total source lag from the last progress report
        (calculateTotalLag analogue, BackpressureController.java:164-186)."""
        return kafka_lag(self.query.lastProgress)

    def govern(self) -> int | None:
        """Fold the current lag into the backpressure governor and
        return the recommended next-trigger admission (None when no
        governor is attached). Poll this between progress updates; when
        the recommendation changes materially, roll the query with the
        new ``max_offsets_per_trigger`` — Spark fixes source options at
        start, so admission changes apply at the next (re)start."""
        if self.governor is None:
            return None
        was_paused = self.governor.paused
        admission = self.governor.observe(self.lag())
        if self.governor.paused and not was_paused:
            # same wiring as circuitbreaker.trips: the counter the OTel
            # bridge exports as kpipe.consumer.backpressure.pauses
            self._metrics.add("backpressure.pauses")
        return admission

    def await_shutdown(self, timeout_s: float | None = None) -> bool:
        return self.query.awaitTermination(timeout_s)

    def process_all_available(self) -> None:
        """Deterministic flush (TestStream.flush analogue,
        TestStream.java:65-120)."""
        self.query.processAllAvailable()

    def close(self) -> None:
        """Graceful: Spark finishes or abandons the in-flight batch; an
        uncommitted batch replays on restart (KPipeConsumer.java:877-1054's
        bounded drain + final commit, minus the hand-rolled machinery)."""
        self.query.stop()

    def metrics(self) -> dict[str, int]:
        return dict(self._metrics.counters)

    def health(self) -> dict[str, Any]:
        """Health snapshot (ConsumerHealthController.java:167-202 /
        HttpHealthServer.java:18-75). Registered artifact probes
        (``add_health_probe``) report under ``artifacts``."""
        doc: dict[str, Any] = {
            "running": self.query.isActive,
            "status": self.query.status,
            "last_progress": self.query.lastProgress,
        }
        if self._health_probes:
            arts: dict[str, Any] = {}
            for name, probe in self._health_probes.items():
                try:
                    arts[name] = probe()
                except Exception as e:  # noqa: BLE001 — probe contained
                    arts[name] = {"error": repr(e)}
            doc["artifacts"] = arts
        return doc
