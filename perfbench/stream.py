"""The ``stream_outcome`` workload: kpipe's own consumer path.

A seeded generator writes events-shaped parquet files; ``StreamRunner``
consumes them in KEY_ORDERED mode (key ``user_id``) through the outcome
pipeline (JSON extract, fail on ``error``, require ``k``, keep
``value > 50``). Passed rows go to a durable parquet sink keyed by batch
id, failed rows to ``IdempotentDlqParquet``; a default
``CircuitBreaker`` is attached.

Two phases, each its own streaming query:

- live (open loop): one generator thread drops ``LIVE_ROWS``-row files
  at ``LIVE_RATE`` files/s regardless of how the consumer keeps up; each
  trigger takes every file present. A file's latency is its batch's
  sink-write completion minus the file's due time.
- drain (closed loop): a pre-staged backlog of ``DRAIN_FILES`` files of
  ``DRAIN_ROWS`` rows, one file per trigger;

A traced run adds a third phase after those two: the same drain again,
with the query-planning listener attached. Its time against the
untraced drain is the tracing overhead, and the planning, job and
builder split comes from it.

Outputs are checked after the timed phases against the counts the
generator computed in numpy, reading the sink and DLQ parquet back with
pyarrow and mapping files to batches from the checkpoint's file-source
log.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import threading
import time
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow.parquet as pq

from datagen import STREAM_SCHEMA, stream_batch, write_stream_file
from layers import PlanPhases, StatusStore, geomean, stage_totals, union_s

# three files, so the drain rate spans two batch intervals; large ones,
# so rows rather than the fixed per-batch cost set the rate
DRAIN_FILES = 3
DRAIN_ROWS = 500_000
# 100 rec/s: far below what the consumer sustains, so each live batch
# stays under the 50 failed records that trip the default breaker and
# the latency is the per-batch cost, not a growing backlog
LIVE_RATE = 10.0  # files per second
LIVE_ROWS = 10
LIVE_MIN_FILES = 100  # so p90 has ten file samples beyond it
# the first 5 s of the live phase (query start, the first micro-batches
# of a new query, which are the slowest) are run but not timed
LIVE_WARMUP_FILES = 50


def _pipeline():
    """The outcome chain of the repository's streaming bench rows."""
    from pyspark.sql import functions as F

    from kpipe_spark.pipeline import Pipeline

    return (
        Pipeline()
        .pipe("k_val", F.get_json_object("props", "$.k").cast("int"))
        .fail_when(F.col("event_type") == "error", "DeserializationException")
        .require_field("k_val")
        .filter(F.col("value") > 50.0)
    )


class _TimedPipeline:
    """Delegates ``apply`` to the pipeline and records how long it took."""

    def __init__(self, inner, log: list) -> None:
        self._inner, self._log = inner, log

    def apply(self, df):
        t0 = time.time()
        out = self._inner.apply(df)
        self._log.append((t0, time.time()))
        return out


class _Phase:
    """One streaming query: its directories, runner and timings."""

    def __init__(self, spark, root: str, name: str, max_files: int | None) -> None:
        from kpipe_spark.pipeline.sinks import IdempotentDlqParquet
        from kpipe_spark.streaming import StreamRunner
        from kpipe_spark.streaming.modes import ProcessingMode
        from kpipe_spark.streaming.runner import CircuitBreaker

        self.spark, self.name, self.max_files = spark, name, max_files
        self.dir = os.path.join(root, name)
        self.src = os.path.join(self.dir, "src")
        self.sink_dir = os.path.join(self.dir, "sink")
        self.ckpt = os.path.join(self.dir, "ckpt")
        os.makedirs(self.src)
        self.files: dict[str, dict] = {}  # basename -> rows, expected, due
        self.batch_t: dict[int, tuple[float, float]] = {}
        self.sink_t: dict[int, tuple[float, float]] = {}
        self.dlq_t: dict[int, tuple[float, float]] = {}
        self.apply_t: list[tuple[float, float]] = []
        self.pause_s: list[float] = []
        self.batch_pause: dict[int, float] = {}  # breaker gate wait inside each batch
        dlq = IdempotentDlqParquet(os.path.join(self.dir, "dlq"))

        def sink(df, batch_id):
            t0 = time.time()
            df.write.mode("overwrite").parquet(f"{self.sink_dir}/batch_id={int(batch_id)}")
            self.sink_t[batch_id] = (t0, time.time())

        def dlq_writer(df, batch_id):
            t0 = time.time()
            dlq(df, batch_id)
            self.dlq_t[batch_id] = (t0, time.time())

        breaker = CircuitBreaker()
        gate = breaker.gate

        def timed_gate():
            t0 = time.time()
            gate()
            self.pause_s.append(time.time() - t0)

        breaker.gate = timed_gate
        self.runner = StreamRunner(
            pipeline=_TimedPipeline(_pipeline(), self.apply_t),
            sink=sink,
            dlq_writer=dlq_writer,
            mode=ProcessingMode.KEY_ORDERED,
            key_col="user_id",
            circuit_breaker=breaker,
        )
        process = self.runner.process_batch

        def timed_process(batch, batch_id):
            n = len(self.pause_s)
            t0 = time.time()
            process(batch, batch_id)
            self.batch_t[batch_id] = (t0, time.time())
            self.batch_pause[batch_id] = sum(self.pause_s[n:])

        self.runner.process_batch = timed_process

    def add_file(self, rng, first_id: int, rows: int, due: float | None = None) -> float:
        cols, expected = stream_batch(rng, first_id, rows)
        name = f"{first_id:012d}.parquet"
        write_stream_file(os.path.join(self.src, name), cols)
        self.files[name] = {"rows": rows, "expected": expected, "due": due}
        return time.time()

    def start(self):
        reader = self.spark.readStream.schema(STREAM_SCHEMA)
        if self.max_files:
            reader = reader.option("maxFilesPerTrigger", self.max_files)
        self.t_start = time.time()
        self.handle = self.runner.start(reader.parquet(self.src), self.ckpt, f"perfbench-{self.name}")
        return self.handle

    def finish(self) -> None:
        q = self.handle.query
        try:
            self.handle.process_all_available()
        finally:
            self.t_end = time.time()
            self.progress = [json.loads(p.json) for p in q.recentProgress]
            self.run_id = str(q.runId)
            self.error = q.exception()
            self.handle.close()

    def file_batches(self) -> dict[str, int]:
        """File -> batch id, from the checkpoint's file-source log."""
        out = {}
        for path in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            if path.endswith(".crc") or os.path.basename(path).startswith("."):
                continue
            with open(path) as f:
                for line in f.read().splitlines()[1:]:
                    entry = json.loads(line)
                    name = os.path.basename(unquote(urlparse(entry["path"]).path))
                    out[name] = entry["batchId"]
        return out

    def wall_s(self) -> float:
        """Query wall time, less the breaker's pauses."""
        return self.t_end - self.t_start - sum(self.pause_s)

    def batch_s(self) -> dict[int, float]:
        """Each micro-batch's time, less its breaker pause."""
        return {b: e - s - self.batch_pause.get(b, 0.0) for b, (s, e) in self.batch_t.items()}

    def completion_span(self) -> tuple[float, int]:
        """Seconds from the first to the last batch completion, less the
        breaker pauses in between, and the input rows of the batches
        completed in that span."""
        rows_of: dict[int, int] = {}
        for name, b in self.file_batches().items():
            rows_of[b] = rows_of.get(b, 0) + self.files[name]["rows"]
        done = sorted((end, b) for b, (_start, end) in self.batch_t.items())
        if len(done) < 2:
            return 0.0, 0
        paused = sum(self.batch_pause.get(b, 0.0) for _, b in done[1:])
        return done[-1][0] - done[0][0] - paused, sum(rows_of.get(b, 0) for _, b in done[1:])


def _read_ids(root: str, cols: list[str]) -> dict[int, list[dict]]:
    """batch id -> one column dict per parquet part file."""
    out: dict[int, list[dict]] = {}
    for part in glob.glob(os.path.join(root, "batch_id=*", "*.parquet")):
        b = int(os.path.basename(os.path.dirname(part)).split("=", 1)[1])
        t = pq.read_table(part, columns=cols)
        out.setdefault(b, []).append({c: t.column(c).to_numpy() for c in cols})
    return out


def _order_breaks(part: dict) -> int:
    """Per-key offset order breaks inside one sink file."""
    users, offs = part["user_id"], part["offset"]
    if len(users) < 2:
        return 0
    idx = np.lexsort((np.arange(len(users)), users))  # stable group by key
    u, o = users[idx], offs[idx]
    same = u[1:] == u[:-1]
    return int(np.sum(same & (o[1:] <= o[:-1])))


def _check(phase: _Phase, fb: dict[str, int]) -> dict[str, int]:
    sink = _read_ids(phase.sink_dir, ["event_id", "offset", "user_id"])
    # the DLQ envelope keeps the source position (offset == event_id)
    dlq = _read_ids(os.path.join(phase.dir, "dlq"), ["offset"])
    exp_pass: dict[int, list] = {}
    exp_fail: dict[int, list] = {}
    out = {"missing": 0, "extra": 0, "duplicated": 0, "order_violations": 0, "unbatched_files": 0}
    for name, f in phase.files.items():
        b = fb.get(name)
        if b is None:
            out["unbatched_files"] += 1
            out["missing"] += f["rows"] - len(f["expected"]["filtered"])
            continue
        exp_pass.setdefault(b, []).append(f["expected"]["passed"])
        exp_fail.setdefault(b, []).append(f["expected"]["failed"])
    for got_by_batch, exp_by_batch in ((sink, exp_pass), (dlq, exp_fail)):
        for b in set(got_by_batch) | set(exp_by_batch):
            got = np.concatenate([p.get("event_id", p["offset"]) for p in got_by_batch.get(b, [])] or [np.array([], np.int64)])
            exp = np.concatenate(exp_by_batch.get(b, []) or [np.array([], np.int64)])
            uniq = np.unique(got)
            out["duplicated"] += len(got) - len(uniq)
            out["missing"] += len(np.setdiff1d(exp, uniq))
            out["extra"] += len(np.setdiff1d(uniq, exp))
    out["order_violations"] = sum(_order_breaks(p) for parts in sink.values() for p in parts)
    return out


def _weighted_quantile(values: list[float], weights: list[float], q: float) -> float:
    order = sorted(range(len(values)), key=values.__getitem__)
    total, acc = sum(weights), 0.0
    for i in order:
        acc += weights[i]
        if acc >= q * total:
            return values[i]
    return values[order[-1]]


def _live_generator(phase: _Phase, rng, first_id: int, n_files: int, t0: float, late: list) -> None:
    for i in range(n_files):
        due = t0 + i / LIVE_RATE
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        done = phase.add_file(rng, first_id + i * LIVE_ROWS, LIVE_ROWS, due)
        late.append(done - due)


def run(spark, seed: int, seconds: float, trace: bool, work: str, smoke: bool):
    rng = np.random.default_rng(seed)
    drain_files, drain_rows = (2, 2_000) if smoke else (DRAIN_FILES, DRAIN_ROWS)
    warmup_files = 0 if smoke else LIVE_WARMUP_FILES
    live_files = 10 if smoke else warmup_files + max(LIVE_MIN_FILES, round(LIVE_RATE * seconds))
    next_id = 0

    def drain_phase(name: str) -> _Phase:
        nonlocal next_id
        ph = _Phase(spark, work, name, max_files=1)
        for _ in range(drain_files):
            ph.add_file(rng, next_id, drain_rows)
            next_id += drain_rows
        ph.start()
        ph.finish()
        return ph

    # live first: its micro-batches run the same per-batch code as the
    # drain's, so the drain that follows measures a warmed path rather
    # than how far the JIT compiler got in its first two batches
    live = _Phase(spark, work, "live", max_files=None)
    late: list[float] = []
    live.start()
    live_t0 = time.time() + 0.5
    gen = threading.Thread(
        target=_live_generator,
        args=(live, rng, next_id, live_files, live_t0, late),
    )
    gen.start()
    gen.join()
    live.finish()
    next_id += live_files * LIVE_ROWS

    drain = drain_phase("drain")
    phases = [live, drain]

    traced = plans = None
    if trace:
        plans = PlanPhases(spark)
        traced = drain_phase("drain_traced")
        phases.append(traced)

    # ---- checks and metrics, outside the timed phases ----
    fbs = {ph.name: ph.file_batches() for ph in phases}
    chk = {k: 0 for k in ("missing", "extra", "duplicated", "order_violations", "unbatched_files")}
    for ph in phases:
        for k, v in _check(ph, fbs[ph.name]).items():
            chk[k] += v
    counters: dict[str, int] = {}
    for ph in phases:
        for k, v in ph.runner.metrics.counters.items():
            counters[k] = counters.get(k, 0) + v
    exp_filtered = sum(len(f["expected"]["filtered"]) for ph in phases for f in ph.files.values())
    generated = sum(f["rows"] for ph in phases for f in ph.files.values())
    filtered_diff = abs(counters.get("pipeline.processed.filtered", 0) - exp_filtered)
    failed_records = chk["missing"] + chk["extra"] + chk["duplicated"] + filtered_diff + chk["order_violations"]
    failures = [(f"stream.{ph.name}", str(ph.error)[:300]) for ph in phases if ph.error is not None]
    if failed_records:
        failures.append(("stream.outputs", json.dumps({**chk, "filtered_diff": filtered_diff})))

    # drain: input records/s from the first to the last batch completion;
    # the breaker's open-state sleeps are taken out of every drain time
    # (each drain batch trips the default breaker, so each later batch
    # first waits about 5 s) and reported as
    # runner.breaker_pause_s instead
    span, rows = drain.completion_span()
    # live: latency per file from its due time to its batch's sink write
    lat, weights = [], []
    timed_from = live_t0 + warmup_files / LIVE_RATE
    for name, f in live.files.items():
        b = fbs["live"].get(name)
        if f["due"] >= timed_from and b is not None and b in live.sink_t:
            lat.append(1000.0 * (live.sink_t[b][1] - f["due"]))
            weights.append(f["rows"])
    metrics = {
        "pass_s": drain.wall_s(),
        "query_geomean_s": geomean(drain.batch_s().values()),
        "drain_rps": rows / span if span > 0 else 0.0,
    }
    # the live latencies spread too widely from run to run to gate on
    # (see README.md); every artifact records them, a traced run
    # reports them
    latency = {
        "live.latency_p50_ms": _weighted_quantile(lat, weights, 0.5) if lat else 0.0,
        "live.latency_p90_ms": _weighted_quantile(lat, weights, 0.9) if lat else 0.0,
    }
    counts = {**latency, "latency_file_samples": len(lat), "live_files": live_files, "live_warmup_files": warmup_files,
              "live_rate_files_per_s": LIVE_RATE, "live_rows_per_file": LIVE_ROWS,
              "drain_files": drain_files, "drain_rows_per_file": drain_rows, "checks": chk,
              "runner_counters": counters,
              "batches": {ph.name: [(s - ph.t_start, e - s, ph.batch_pause.get(b, 0.0))
                                    for b, (s, e) in sorted(ph.batch_t.items())]
                          for ph in phases}}

    layer = {}
    if trace:
        layer = {**latency, **_layers(spark, phases, traced, plans, fbs["live"], counters, chk, late)}
        traced_span, _ = traced.completion_span()
        layer["trace.overhead_s"] = traced_span - span
    return metrics, layer, counts, failures, generated, failed_records


def _layers(spark, phases, traced, plans, fb_live, counters, chk, late) -> dict:
    prog = [
        {"batch": p["batchId"], "phase": ph, **p.get("durationMs", {})}
        for ph in phases for p in ph.progress if p.get("numInputRows", 0) > 0
    ]

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def ms(pair):
        return 1000.0 * (pair[1] - pair[0])

    sink_ms = [ms(t) for ph in phases for t in ph.sink_t.values()]
    dlq_ms = [ms(t) for ph in phases for t in ph.dlq_t.values()]
    self_ms = [
        p.get("addBatch", 0) - ms(p["phase"].sink_t.get(p["batch"], (0, 0)))
        - ms(p["phase"].dlq_t.get(p["batch"], (0, 0)))
        for p in prog
    ]
    status = StatusStore(spark)
    status.drain_listener_bus()
    jobs = status.jobs({ph.run_id for ph in phases})
    stages = [s for j in jobs for sid in j["stages"] if (s := status.stage(sid)) is not None]
    n_batches = len(prog)
    received = counters.get("records.received", 0)

    # the traced drain splits into builder (Pipeline.apply), planning,
    # job and residue time the way a traced batch pass does
    t_jobs = [(j["start"], j["end"]) for j in jobs if j["group"] == traced.run_id and j["end"]]
    t_batch_s = sum(traced.batch_s().values())
    build_s = sum(e - s for s, e in traced.apply_t)
    jobs_s = union_s(t_jobs)
    plan_s = sum(plans.events)

    live = next(ph for ph in phases if ph.name == "live")
    # backlog at each live batch start: files already due but not yet
    # taken by an earlier batch
    backlog = [
        sum(1 for name, f in live.files.items() if f["due"] <= start and fb_live.get(name, math.inf) >= b)
        for b, (start, _end) in live.batch_t.items()
    ]
    out = {
        "build.s": build_s,
        "build.jobs": sum(1 for s, _ in t_jobs if any(a <= s <= b for a, b in traced.apply_t)),
        "plan.s": plan_s,
        "exec.jobs_s": jobs_s,
        "residue_s": max(0.0, t_batch_s - build_s - plan_s - jobs_s),
        "source.latest_offset_ms": med([p.get("latestOffset", 0) for p in prog]),
        "source.get_batch_ms": med([p.get("getBatch", 0) for p in prog]),
        "plan.query_planning_ms": med([p.get("queryPlanning", 0) for p in prog]),
        "checkpoint.commit_ms": med([p.get("walCommit", 0) + p.get("commitOffsets", 0) for p in prog]),
        "runner.add_batch_ms": med([p.get("addBatch", 0) for p in prog]),
        "sink.write_ms": med(sink_ms),
        "dlq.write_ms": med(dlq_ms),
        "runner.self_ms": med(self_ms),
        "runner.jobs_per_batch": len(jobs) / n_batches if n_batches else 0.0,
        "runner.breaker_trips": counters.get("circuitbreaker.trips", 0),
        "runner.breaker_pause_s": sum(sum(ph.pause_s) for ph in phases),
        "records.passed": counters.get("pipeline.processed.passed", 0),
        "records.filtered": counters.get("pipeline.processed.filtered", 0),
        "records.failed": counters.get("pipeline.processed.failed", 0),
        "dlq.sent": counters.get("dlq.sent", 0),
        "batches": n_batches,
        "records_per_batch": received / n_batches if n_batches else 0.0,
        "source.backlog_files_max": max(backlog) if backlog else 0,
        "stream.order_violations": chk["order_violations"],
        "generator.late_ms": 1000.0 * max(late) if late else 0.0,
    }
    out.update(stage_totals(stages))
    return out
