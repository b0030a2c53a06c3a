"""Circuit breaker state machine (Stream.withCircuitBreaker,
Stream.java:161-185; ConsumerHealthController.java:292-451) and its
count window. No Spark: these run in the default tier. The breaker
wired into a live runner (sink outage feeding the window) is in
tests/test_streaming.py."""

from __future__ import annotations

import time

from kpipe_spark.streaming.runner import CircuitBreaker


def test_circuit_breaker_state_machine():
    """CLOSED->OPEN at threshold with full window; OPEN pauses; HALF_OPEN
    probe decides (ConsumerHealthController.java:292-451)."""
    cb = CircuitBreaker(failure_threshold=0.5, window=10, open_duration_s=0.05)
    cb.record(passed=10, filtered=0, failed=0)
    assert cb.state == "CLOSED"
    cb.record(passed=0, filtered=0, failed=6)  # window now 40% old pass + 60% fail
    assert cb.state == "OPEN"
    assert cb.trips == 1
    t0 = time.monotonic()
    cb.gate()  # blocks for the remaining open duration
    assert time.monotonic() - t0 <= 0.06 + 0.05
    assert cb.state == "HALF_OPEN"
    cb.record(passed=1, filtered=0, failed=0)  # successful probe
    assert cb.state == "CLOSED"
    # failing probe re-opens
    cb2 = CircuitBreaker(failure_threshold=0.5, window=4, open_duration_s=0.01)
    cb2.record(0, 0, 4)
    assert cb2.state == "OPEN"
    cb2.gate()
    cb2.record(0, 0, 1)
    assert cb2.state == "OPEN"
    assert cb2.trips == 2


def test_circuit_breaker_recovery_clears_window():
    """Round-10 review: a recovered breaker must not re-trip off the
    OUTAGE's residue — the CLOSED transition clears the rolling
    window, so all-success batches after recovery stay CLOSED."""
    cb = CircuitBreaker(failure_threshold=0.5, window=10, open_duration_s=0.0)
    cb.record(0, 0, 10)  # outage fills the window
    assert cb.state == "OPEN" and cb.trips == 1
    cb.gate()
    cb.record(passed=2, filtered=0, failed=0)  # successful probe
    assert cb.state == "CLOSED"
    # pre-fix: window still held >=50% failures, so ANY further
    # success batch that refilled it re-tripped a healthy stream
    for _ in range(10):
        cb.record(passed=3, filtered=0, failed=0)
        assert cb.state == "CLOSED"
    assert cb.trips == 1


def test_healthy_large_batch_keeps_default_breaker_closed():
    """A 500k-record batch at a 5% failure rate is a healthy batch: it
    enters the window in proportion (5 failures per 100 outcomes), not
    successes first and failures last (which left a window of 100
    failures and opened the breaker on every batch with >= 50)."""
    cb = CircuitBreaker()
    for _ in range(3):
        cb.record(passed=237_500, filtered=237_500, failed=25_000)
        assert cb.state == "CLOSED"
    assert cb.trips == 0


def test_failing_large_batch_opens_default_breaker():
    cb = CircuitBreaker()
    cb.record(passed=100_000, filtered=100_000, failed=300_000)  # 60% failed
    assert cb.state == "OPEN" and cb.trips == 1


def test_small_batches_roll_the_window():
    """Batches smaller than the window push out the oldest outcomes in
    the window's own proportion."""
    cb = CircuitBreaker(failure_threshold=0.5, window=10, open_duration_s=0.0)
    cb.record(passed=6, filtered=0, failed=4)  # 40% failed: full, closed
    assert cb.state == "CLOSED"
    cb.record(passed=0, filtered=0, failed=2)  # 8 old (3.2 failed) + 2 failed
    assert cb.state == "OPEN"  # 5.2 of 10


def test_batch_size_does_not_move_the_trip_point():
    """A batch at or above the window trips on its failure rate alone,
    whatever its size."""
    for n in (100, 1_000, 1_000_000):
        below, above = CircuitBreaker(), CircuitBreaker()
        below.record(passed=n - n * 49 // 100, filtered=0, failed=n * 49 // 100)
        above.record(passed=n - n * 51 // 100, filtered=0, failed=n * 51 // 100)
        assert below.state == "CLOSED" and above.state == "OPEN", n
