#!/usr/bin/env python
"""Headline benchmark: run the flagship queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
compact JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}. The full artifact (per-row
measurements, streaming stats) is written to --out (default
BENCH_HEADLINE_c{cores}.json, named after the session's core count);
the stdout line is sized to fit the driver's bounded 2000-char tail
capture (see _compact_headline_line). ``--sweep`` times every
registered query once instead (default --out SWEEP.json).

Each query is timed end-to-end (plan + execute + noop-sink write) after
one warm-up query primes the JVM/session. Queries are the oracle-graded
headliners spanning scan-agg, multi-join, window, dedup and similarity.
Every headline and sweep row records what was measured and nothing
else: the best wall time, the external cores other processes burned
during the capture, and the best run's Spark task CPU, task count and
single-task stage share. Performance claims are decided by the paired
runs of ``perfbench/``, not here.

Methodology: the noop sink forces FULL materialization of every output
column. A count() would let Catalyst prune the measured work away — a
pure-projection query (q12's window columns, d12's md5 shingles) would
"benchmark" a parquet row-count instead of the query (CLAUDE.md
benchmark discipline).
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from kpipe_spark.queries import all_queries  # noqa: E402
from kpipe_spark.session import get_spark  # noqa: E402
from kpipe_spark.util import free_local_checkpoint  # noqa: E402
from perfbench.layers import StatusStore, environment, stage_totals  # noqa: E402

HEADLINE = [
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q06_revenue_forecast",
    "q11_window_topk_per_customer",
    "q12_window_running_total",
    "q22_events_hourly",
    "p01_outcome_accounting",
    "d01_dedup_exact",
    "d05_minhash_neardup",
    "d08_similarity_topk",
    "d12_doc_fingerprint",
    "d13_ivf_topk",
    "d17_unigram_logprob",
    "m03_media_features",
    # round 4: the two flagship compositions join the headline — the
    # incremental-admission shape (the single most scale-important op)
    # and the end-to-end curation ledger. The headline TOTAL therefore
    # grows by their cost vs rounds <=3; per-query timings stay
    # comparable.
    "d54_incremental_dedup",
    "p04_curation_composition",
    # round 4b: the DSIR selection scorer — the heaviest of the new
    # selection/monitoring ops (corpus explode + bucket model + score
    # join), worth tracking round-over-round like d05/d17
    "d68_dsir_importance",
    # round 4c: the Arrow-batched pandas-UDF scan path (NFC
    # normalization) — the Python-boundary throughput number, the
    # companion to m03's decode cost
    "d79_text_normalization",
    # round 6: the PQ-ANN family's corpus encode + ADC pass (d86) and
    # the assembled IVF-PQ serving shape (d88) — tracked like d13.
    # The headline TOTAL grows by their cost vs rounds <=5;
    # legacy16_subtotal keeps the rounds-1-3 comparison intact.
    "d86_pq_adc_topk",
    "d88_ivfpq_topk",
    # round 7: the unigram-LM tokenizer trainer (two Viterbi-EM rounds
    # on the distinct-word table — the driver-coordinated-loop cost)
    # and its corpus application (the corpus-sized token explode +
    # broadcast segmentation join). The headline TOTAL grows by their
    # cost vs rounds <=6; legacy16_subtotal stays comparable.
    "d90_unigram_train",
    "d91_unigram_fertility",
]


def _bench_pipeline():
    """The outcome pipeline every streaming/pipeline bench row drives
    (JSON extract -> fail_when -> require_field -> filter) — one
    definition so the delivered-fraction math and the streaming rates
    measure the same work."""
    from pyspark.sql import functions as F  # noqa: F811

    from kpipe_spark.pipeline import Pipeline

    return (
        Pipeline()
        .pipe("k_val", F.get_json_object("props", "$.k").cast("int"))
        .fail_when(F.col("event_type") == "error", "DeserializationException")
        .require_field("k_val")
        .filter(F.col("value") > 50.0)
    )


def _streaming_pipeline_rate(
    spark,
    sf_dir: str,
    n_batches: int = 10,
    mode=None,
    key_col: str = "user_id",
    work_ms: float = 0.0,
) -> tuple[int, int]:
    """End-to-end Structured-Streaming throughput through the full
    outcome pipeline (decode -> operators -> DLQ split -> sink), the
    closest apples-to-apples number to the reference's consumer rec/s
    benchmarks (BASELINE.md): n_batches micro-batches of the events
    table driven through StreamRunner on a file source.

    Returns (whole_run_rps, steady_state_rps): the first includes
    query startup + first-trigger warmup (the metric rounds 1-4 have
    always reported, kept for continuity); the second is measured
    between the completion of the FIRST batch and the last — the
    sustained number the reference's long-running consumer benchmarks
    correspond to (their rec/s excludes consumer-group startup by
    construction of a minutes-long run).

    ``work_ms`` > 0 injects that much BLOCKING wait per record at the
    sink (blocking_enrich thread-pool overlap — the reference's
    workMicros rows). Rates are then computed over DELIVERED records
    (the ~29% of events that pass the pipeline and actually PAY the
    wait), not input records — an input basis would count ~3 ms of
    effective work as 10 and overstate the comparison ~3×."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F  # noqa: F811

    from kpipe_spark.streaming import StreamRunner

    workdir = tempfile.mkdtemp(prefix="kpipe-bench-stream-")
    src = os.path.join(workdir, "src")
    os.makedirs(src)
    events_path = os.path.join(sf_dir, "events.parquet")
    for i in range(n_batches):
        shutil.copy(events_path, os.path.join(src, f"b{i}.parquet"))
    schema = spark.read.parquet(events_path).schema
    rows_per_batch = spark.read.parquet(events_path).count()

    batch_done: list[float] = []

    def sink(df, batch_id):
        if work_ms:
            # the reference's workMicros rows (BASELINE.md: PARALLEL
            # 57,563 rec/s @ 10 ms, KEY_ORDERED 34,465): every record
            # costs work_ms of BLOCKING wait, overlapped the Spark way
            # (per-partition thread pool; functions/blocking.py) the
            # way kpipe overlaps it on virtual threads
            from kpipe_spark.functions.blocking import blocking_enrich

            wait = work_ms / 1000.0
            df = blocking_enrich(
                df,
                lambda r: time.sleep(wait) or 1,
                "io_result",
                "int",
                concurrency=128,
            )
        df.write.format("noop").mode("overwrite").save()
        batch_done.append(time.perf_counter())

    from kpipe_spark.streaming.modes import ProcessingMode

    runner = StreamRunner(
        pipeline=_bench_pipeline(),
        sink=sink,
        dlq_writer=lambda df, batch_id: df.write.format("noop").mode("overwrite").save(),
        mode=mode or ProcessingMode.PARALLEL,
        key_col=key_col,
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    rate_basis = rows_per_batch
    if work_ms:
        # delivered-records basis (docstring): only PASSED rows reach
        # the sink and pay the wait — count them once, statically
        from kpipe_spark.pipeline.result import PASSED, STATUS_COL

        rate_basis = (
            runner.pipeline.apply(spark.read.parquet(events_path))
            .filter(F.col(STATUS_COL) == PASSED)
            .count()
        )
    t0 = time.perf_counter()
    handle = runner.start(stream, os.path.join(workdir, "ckpt"), "bench-stream")
    handle.process_all_available()
    handle.close()
    elapsed = time.perf_counter() - t0
    shutil.rmtree(workdir, ignore_errors=True)
    steady = 0
    if len(batch_done) >= 2:
        span = batch_done[-1] - batch_done[0]
        if span > 0:
            steady = int(rate_basis * (len(batch_done) - 1) / span)
    return int(rate_basis * n_batches / elapsed), steady


def _pipeline_throughput(build, n_events: int, runs: int = 5) -> dict:
    """pipeline_records_per_sec, measurement-grade: rounds ≤7 derived
    it from p01's single best-of-3 timing, and a sub-second query's
    timing flaps ±1.6× with session/GC state (official r7: 271 k rec/s
    from a 0.369 s p01; the judge's quiet same-day run: 167 k from a
    0.60 s p01 — same code, no explanation in the artifact). The
    streaming fix's recipe, applied: one UNCOUNTED warm-up run, then
    ``runs`` timed runs, report best/median/spread so a swing is
    visible inside one artifact instead of across two."""
    build().write.format("noop").mode("overwrite").save()
    rates = []
    for _ in range(runs):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        rates.append(n_events / (time.perf_counter() - t0))
    rates.sort()
    median = rates[len(rates) // 2]
    return {
        "best": int(rates[-1]),
        "median": int(median),
        "spread": int(rates[-1] - rates[0]),
        "spread_over_median": round((rates[-1] - rates[0]) / median, 3),
        "runs": runs,
    }


# ---------------------------------------------------------------------------
# Per-row measurement.
#
# External CPU: /proc/stat's machine-wide busy jiffies minus the jiffies
# of our own process tree (python driver + Spark JVM + pyspark workers),
# over exactly the capture window, in cores — the CPU the neighbours
# burned while we measured. Raw getloadavg() cannot say this: the bench's
# own executor threads dominate the 1-min average, which also lags by its
# 60 s decay constant. Task CPU: the executor CPU time, task count and
# single-task stage share Spark's status store records for the capture's
# own jobs. Together with wall time they say whether a slow row did more
# work, waited, or ran while the machine was busy; nothing here waits,
# retries or compares against older artifacts.
# ---------------------------------------------------------------------------

_HZ = os.sysconf("SC_CLK_TCK")


def _total_busy_jiffies() -> int:
    """Machine-wide non-idle jiffies (user+nice+system+irq+softirq+
    steal+guest) from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    idle = vals[3] + vals[4]  # idle + iowait
    return sum(vals) - idle


def _tree_cpu_jiffies() -> int:
    """utime+stime+cutime+cstime jiffies summed over THIS process and
    all its live descendants (the Spark JVM and its pyspark
    daemon/workers are children of the driver). cutime/cstime matter:
    a pyspark worker that idle-times-out mid-window is REAPED, and its
    whole lifetime burn vanishes from the live tree — without the
    reaped-children counters the delta goes negative by that lifetime
    and the 'external' residue reads impossible values (round 11
    shipped a physically impossible 80-core ambient on a 32-vCPU box
    exactly this way). POSIX accrues a reaped child's utime+stime AND
    its own cutime/cstime into the parent's cutime/cstime at wait(),
    and only at reap time, so live descendants are never
    double-counted."""
    me = os.getpid()
    stats: dict[int, tuple[int, int]] = {}
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue  # raced a process exit
        rp = raw.rfind(")")
        fields = raw[rp + 2 :].split()
        # post-comm fields: [0]=state [1]=ppid ... [11]=utime [12]=stime
        # [13]=cutime [14]=cstime (reaped descendants)
        stats[int(ent)] = (
            int(fields[1]),
            int(fields[11])
            + int(fields[12])
            + int(fields[13])
            + int(fields[14]),
        )
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total = 0
    stack = [me]
    while stack:
        pid = stack.pop()
        if pid in stats:
            total += stats[pid][1]
            stack.extend(children.get(pid, ()))
    return total


def _timer_health(
    nominal_ms: float = 10.0, threads: int = 64, sleeps: int = 20
) -> dict:
    """Sleep-timer fidelity under thread load, recorded next to the
    10 ms streaming rows: those rows dispatch time.sleep(0.010) across
    128-thread pools, so their rec/s is inversely proportional to the
    ACTUAL sleep latency (stall episodes on a VM guest have measured
    p90 24-94 ms under 64 threads, halving the 10 ms rows while
    CPU-bound queries stay flat). ``threads`` concurrent sleepers ×
    ``sleeps`` samples each ≈ 0.25 s total."""
    import threading

    results: list[float] = []
    lock = threading.Lock()
    wait = nominal_ms / 1000.0

    def worker() -> None:
        local = []
        for _ in range(sleeps):
            t0 = time.perf_counter()
            time.sleep(wait)
            local.append((time.perf_counter() - t0) * 1000.0)
        with lock:
            results.extend(local)

    ts = [threading.Thread(target=worker) for _ in range(threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    results.sort()
    return {
        "nominal_ms": nominal_ms,
        "p50_ms": round(results[len(results) // 2], 2),
        "p90_ms": round(results[int(len(results) * 0.9)], 2),
        "p99_ms": round(results[int(len(results) * 0.99)], 2),
        "samples": len(results),
        "threads": threads,
    }


# External-cores value of a REAP-CORRUPTED window: a reaped descendant's
# PRE-window lifetime burn lands in the parent's cutime inside the
# window it is reaped in, so tree-delta can exceed busy-delta and the
# honest external residue is unknowable for that window. Rather than
# fail silently toward 0 (which would read as "quiet"), such a window
# reads as this sentinel: "attribution corrupted".
AMBIENT_REAP_CORRUPTED = 99.0


def _ext_cores(busy_delta: int, tree_delta: int, wall: float) -> float:
    """External cores over a window, or the corrupted-window sentinel
    when the tree out-counts the machine (a reap folded pre-window
    burn into this window — small jitter tolerated)."""
    if tree_delta > busy_delta + int(0.25 * _HZ * max(wall, 0.1)):
        return AMBIENT_REAP_CORRUPTED
    return max(0, busy_delta - tree_delta) / _HZ / max(wall, 1e-9)


def _ambient_during(fn):
    """(fn(), external cores burned during fn's wall window, rounded
    to 0.01) — the external-CPU reading of every query, streaming and
    pipeline capture."""
    b0, t0 = _total_busy_jiffies(), _tree_cpu_jiffies()
    w0 = time.perf_counter()
    out = fn()
    wall = max(time.perf_counter() - w0, 1e-9)
    ext = _ext_cores(
        _total_busy_jiffies() - b0, _tree_cpu_jiffies() - t0, wall
    )
    return out, round(ext, 2)


def _compiles(spark) -> int:
    """Classes the JVM's code generator has compiled since the JVM
    started: the count of Spark's codegen compilation-time histogram,
    read over py4j (it starts no Spark job). Under local[N] the tasks
    run in the driver JVM, so their compiles count too."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _noop_write(df):
    """Force every output column of ``df`` through the noop sink.
    Returns ``df``, whose local checkpoints the caller frees with
    ``free_local_checkpoint`` once the run is over."""
    df.write.format("noop").mode("overwrite").save()
    return df


def _timed_capture(spark, build, runs: int = 3) -> dict:
    """One row: best-of-``runs`` wall seconds of ``build()`` plus a
    noop write (which forces every output column), the external cores
    over the whole capture window, the classes the JVM compiled during
    the best run (``_compiles``), and the best run's task metrics from
    the JVM status store — executor CPU seconds summed over its
    completed stages, their task count, the share of those stages
    that ran as a single task, and the Python-worker seconds (task run
    time minus JVM CPU on mapInPandas and pandas-UDF stages). Each run
    tags its jobs with its own job group, so eager jobs inside
    ``build()`` count toward the row. After each run the local
    checkpoints its frame reads are freed, so no later run or row is
    timed under this run's blocks (catalog tables are parquet scans,
    and pinned checkpoints are skipped)."""
    sc = spark.sparkContext

    def best_run() -> tuple[float, str, int]:
        best, best_group, best_compiles = float("inf"), "", 0
        for _ in range(runs):
            group = f"bench-capture-{uuid.uuid4().hex}"
            sc.setJobGroup(group, group)
            c0 = _compiles(spark)
            t0 = time.perf_counter()
            df = _noop_write(build())
            sec = time.perf_counter() - t0
            compiles = _compiles(spark) - c0
            free_local_checkpoint(df)
            if sec < best:
                best, best_group, best_compiles = sec, group, compiles
        # later jobs stay out of the last run's group
        sc.setJobGroup("bench", "bench")
        return best, best_group, best_compiles

    (best, best_group, compiles), ext = _ambient_during(best_run)
    status = StatusStore(spark)
    status.drain_listener_bus()
    totals = stage_totals([
        s
        for j in status.jobs({best_group})
        for sid in j["stages"]
        if (s := status.stage(sid)) is not None
    ])
    return {
        "wall_s": round(best, 3),
        "ext_cores": ext,
        "compiles": compiles,
        "task_cpu_s": round(totals["stage.cpu_s"], 3),
        "tasks": totals["stage.tasks"],
        "single_task_share": round(totals["stage.single_task_share"], 3),
        "pyworker_s": round(totals["pyworker.s"], 3),
    }


def _compact_headline_line(doc: dict, limit: int = 1900) -> str:
    """The ONE stdout JSON line, sized for the driver's bounded tail
    capture (2000 chars: BENCH_r06.json shipped `parsed: null` because
    the full doc overflowed it and the line got beheaded). The full doc
    goes to the --out file; stdout carries the contract fields
    (metric/value/unit/queries/sf), the rates and compact summaries of
    the per-row readings, dropping optional fields lowest-value-first
    if the line would still overflow."""
    compact = {
        k: doc[k]
        for k in (
            "metric",
            "value",
            "unit",
            "queries",
            "task_cpu_s",
            "legacy16_subtotal",
            "pipeline_records_per_sec",
            "pipeline_rps_median",
            "pipeline_rps_spread",
            "streaming_records_per_sec",
            "streaming_steady_state_rps",
            "streaming_rps_best",
            "streaming_rps_median",
            "streaming_rps_spread",
            "streaming_key_ordered_rps",
            "streaming_rps_10ms_work",
            "streaming_key_ordered_rps_10ms_work",
            "streaming_rps_10ms_work_input_basis",
            "streaming_key_ordered_rps_10ms_work_input_basis",
            "sf",
            "loadavg_start",
        )
        if k in doc
    }
    # per-row external cores collapse to their max + the nonzero rows —
    # on a quiet run that is "0.0" + {}
    amb = {n: r["ext_cores"] for n, r in doc.get("rows", {}).items()}
    compact["ambient_max"] = max(amb.values(), default=0.0)
    hot = {k: v for k, v in amb.items() if v > 0}
    if hot:
        compact["ambient_hot"] = hot
    th = doc.get("timer_health")
    if th:
        compact["timer_p90_ms"] = th.get("p90_ms")
    samb = doc.get("streaming_ambient")
    if samb:
        compact["streaming_ambient_max"] = max(
            (v for vs in samb.values() for v in vs), default=0.0
        )
    compact["detail"] = doc.get("detail_artifact")
    # drop order: evidence summaries first, never the contract fields
    droppable = (
        "ambient_hot",
        "streaming_ambient_max",
        "streaming_rps_spread",
        "streaming_rps_median",
        "streaming_rps_best",
        "pipeline_rps_spread",
        "pipeline_rps_median",
        "loadavg_start",
    )
    line = json.dumps(compact, separators=(",", ":"))
    for k in droppable:
        if len(line) <= limit:
            break
        compact.pop(k, None)
        line = json.dumps(compact, separators=(",", ":"))
    return line


def _warm_session(spark, sf_dir: str):
    """Load every table once and run one query, so the captures that
    follow measure per-query work, not one-time session costs (JVM JIT
    and codegen classes, parquet footer caches). Returns the
    registry."""
    from kpipe_spark.catalog import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).count()
    queries = all_queries()
    queries["q01_pricing_summary"].build(spark, sf_dir).count()
    return queries


def sweep(out_path: str | None = None) -> None:
    """Time EVERY registry query (warm, noop sink) and write the full
    per-row table to a JSON artifact (--out, default SWEEP.json), so
    outliers are diffable round-over-round instead of living in prose.
    The headline list is a curated subset; this is the blind-spot
    catcher — round 4's run found a query at 77 s (d11) that three
    rounds of headline benches never saw. Each query gets one warm-up
    run, then one timed capture (``_timed_capture`` with runs=1): a
    single capture can eat a GC pause, so read a slow row's task CPU
    and external cores before believing its wall time."""
    out_path = out_path or "SWEEP.json"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    loadavg_start = round(os.getloadavg()[0], 2)
    spark = get_spark(app_name="kpipe-spark-bench-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    queries = _warm_session(spark, sf_dir)
    rows: dict[str, dict] = {}
    for name, q in queries.items():
        free_local_checkpoint(_noop_write(q.build(spark, sf_dir)))
        rows[name] = _timed_capture(
            spark, lambda: q.build(spark, sf_dir), runs=1
        )
    times = {n: r["wall_s"] for n, r in rows.items()}
    for name, t in sorted(times.items(), key=lambda kv: -kv[1]):
        print(f"{t:8.3f}  {name}")
    doc = {
        "metric": "full_registry_sweep_runtime",
        "value": round(sum(times.values()), 1),
        "unit": "sec",
        "n_queries": len(times),
        "queries": dict(sorted(times.items())),
        "task_cpu_s": round(sum(r["task_cpu_s"] for r in rows.values()), 1),
        "compiles": sum(r["compiles"] for r in rows.values()),
        "rows": dict(sorted(rows.items())),
        "slowest": dict(sorted(times.items(), key=lambda kv: -kv[1])[:10]),
        "sf": sf_dir,
        "loadavg_start": loadavg_start,
        "environment": environment(spark, _REPO),
    }
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=False)
        f.write("\n")
    print(json.dumps({k: doc[k] for k in (
        "metric", "value", "unit", "n_queries", "task_cpu_s", "compiles",
        "slowest", "sf",
    )}))


def main(out_path: str | None = None) -> None:
    # ambient load BEFORE the workload: the bench itself saturates the
    # machine, so an at-exit sample mostly measures its own footprint
    loadavg_start = round(os.getloadavg()[0], 2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="kpipe-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = _warm_session(spark, sf_dir)

    def _warm_workers(it):
        # the libs the media/text pandas-UDFs import per worker
        # PROCESS — an identity mapInPandas primes the Arrow channel
        # but leaves these imports to the first timed query
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from it

    spark.range(0, 64).repartition(32).mapInPandas(
        _warm_workers, "id long"
    ).count()
    # one UNCOUNTED run of the first pandas-UDF headline query: three
    # consecutive official artifacts carried a ~0.9 s m03 cold cost
    # (1.62 s official vs 0.72-0.90 s quiet/sweep) that the identity
    # warm-up above never removed — the residue is m03's own first
    # execution (decode-module imports per worker + the documents
    # media BINARY column, which every count()-based table warm-up
    # column-prunes away, entering the page cache)
    free_local_checkpoint(
        _noop_write(queries["m03_media_features"].build(spark, sf_dir))
    )

    # best-of-3: the first run includes codegen compilation, and any
    # single run can eat a GC pause worth ±30% on the heavy queries
    # (measured: the same d05 plan ranged 1.0-4.3 s across sessions at
    # load); min-of-3 keeps the steady-state number
    rows = {
        name: _timed_capture(spark, lambda: queries[name].build(spark, sf_dir))
        for name in HEADLINE
    }
    timings = {n: r["wall_s"] for n, r in rows.items()}

    # 3 fresh runs (each its own checkpoint dir) × 10 micro-batches.
    # The spread statistics come from the STEADY-STATE rates (batch 1
    # completion → last batch completion, 9 measured intervals per
    # run), the shape the reference's minutes-long consumer benchmarks
    # report by construction; whole-run best is kept for continuity
    # with rounds 1-5 (whose whole-run spread was first-trigger
    # checkpoint-dir I/O, not the pipeline).
    # one UNCOUNTED warm-up run per mode first: the session's first
    # streaming query pays one-time costs the headline warmup never
    # touches (file-source listing + streaming codegen JIT).
    # PARALLEL and KEY_ORDERED captures are INTERLEAVED (P,K,P,K,...),
    # not block-ordered: two blocks minutes apart run under different
    # host/JIT state (r8 read KEY_ORDERED faster than PARALLEL that
    # way; interleaved, PARALLEL leads by ~7% — the per-key
    # shuffle+sort costs, it doesn't pay). KEY_ORDERED is BASELINE.md's
    # last throughput row (KPipe KEY_ORDERED 285,750 rec/s @ 0 µs sink
    # / 34,465 @ 10 ms); the noop sink matches the 0 µs row. Every run
    # records the external cores over its own window.
    from kpipe_spark.streaming.modes import ProcessingMode

    def interleaved(**kw) -> tuple[list, list, list, list]:
        p_runs, k_runs, p_amb, k_amb = [], [], [], []
        for _ in range(3):
            r, ext = _ambient_during(
                lambda: _streaming_pipeline_rate(spark, sf_dir, **kw)
            )
            p_runs.append(r)
            p_amb.append(ext)
            r, ext = _ambient_during(
                lambda: _streaming_pipeline_rate(
                    spark, sf_dir, mode=ProcessingMode.KEY_ORDERED, **kw
                )
            )
            k_runs.append(r)
            k_amb.append(ext)
        return p_runs, k_runs, p_amb, k_amb

    _streaming_pipeline_rate(spark, sf_dir, n_batches=3)
    _streaming_pipeline_rate(
        spark, sf_dir, n_batches=3, mode=ProcessingMode.KEY_ORDERED
    )
    stream_runs, ko_runs, stream_amb, ko_amb = interleaved()
    whole_rates = sorted(r for r, _ in stream_runs)
    steady_rates = sorted(s for _, s in stream_runs)
    ko_steady = sorted(s for _, s in ko_runs)
    # work-injected rows: BASELINE.md's 10 ms sweep points (PARALLEL
    # 57,563 / KEY_ORDERED 34,465 rec/s). Every DELIVERED record costs
    # 10 ms of blocking wait at the sink, overlapped via
    # blocking_enrich's per-partition thread pool — the honest Spark
    # counterpart of kpipe's virtual-thread dispatch — and the rate is
    # over delivered records (the ones that pay). Each micro-batch also
    # runs the full pipeline + DLQ + accounting that the reference's
    # dispatch benchmark doesn't. 5 batches per run (4 steady
    # intervals; a 2-batch warm-up), interleaved P/K. These rows
    # measure sleep(0.010) fidelity as much as engine throughput, so
    # the timer probe is recorded beside them.
    timer_probe = _timer_health()
    _streaming_pipeline_rate(spark, sf_dir, n_batches=2, work_ms=10.0)
    w_runs, wko_runs, w_amb, wko_amb = interleaved(n_batches=5, work_ms=10.0)
    work_steady = sorted(s for _, s in w_runs)
    work_ko_steady = sorted(s for _, s in wko_runs)
    # input-basis companions for the 10 ms rows: the delivered basis is
    # the honest per-payer rate, but BASELINE.md's 57,563 counts every
    # CONSUMED record — publish both so the comparison reads off the
    # artifact without re-deriving the ~29% delivered fraction
    from kpipe_spark.catalog import load_table
    from kpipe_spark.pipeline.result import PASSED, STATUS_COL

    ev = load_table(spark, sf_dir, "events")  # never raw-read events
    delivered_fraction = (
        _bench_pipeline()
        .apply(ev)
        .filter(F.col(STATUS_COL) == PASSED)
        .count()
        / max(ev.count(), 1)
    )

    def input_basis(delivered_rps: int) -> int | None:
        # None (artifact-visible), not a ZeroDivisionError that kills
        # the run after every timing was captured, if a regenerated
        # dataset ever passes zero rows through the bench pipeline
        if delivered_fraction <= 0:
            return None
        return int(delivered_rps / delivered_fraction)

    # the reference's yardstick is consumer rec/s (BASELINE.md): p01 runs
    # the full outcome pipeline (JSON extract + 4 operators + accounting)
    # over the events table, so rows/elapsed is our comparable number —
    # measured with its OWN warmed multi-run capture (_pipeline_throughput),
    # not derived from the flagship loop's p01 timing
    n_events = queries["p01_outcome_accounting"].build(spark, sf_dir) \
        .agg(F.sum("n").alias("t")).collect()[0]["t"]
    pipe_stats, pipe_ext = _ambient_during(
        lambda: _pipeline_throughput(
            lambda: queries["p01_outcome_accounting"].build(spark, sf_dir),
            n_events,
        )
    )
    # named after the session's core count, so runs on differently
    # sized hosts never overwrite each other's artifact
    out_path = (
        out_path
        or f"BENCH_HEADLINE_c{spark.sparkContext.defaultParallelism}.json"
    )
    # full artifact; methodology prose lives in ARCHITECTURE.md §6.5
    # (keeping it out of the JSON is half of what keeps the stdout line
    # under the driver's 2000-char tail window)
    doc = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        # summed over the rows' best runs — read beside "value"
        "task_cpu_s": round(sum(r["task_cpu_s"] for r in rows.values()), 3),
        # rounds 1-3 comparability: the original 16 headline
        # queries, before d54/p04/d68/d79 joined the list
        "legacy16_subtotal": round(
            sum(timings[n] for n in HEADLINE[:16]), 3
        ),
        # per row: wall_s, ext_cores (external cores over the capture
        # window), compiles, task_cpu_s, tasks, single_task_share,
        # pyworker_s
        "rows": rows,
        # headline value keeps the streaming convention (best); median/
        # spread make a host-state swing visible inside ONE artifact
        "pipeline_records_per_sec": pipe_stats["best"],
        "pipeline_rps_method": "best-of-5-warmed (r8+; rounds<=7 single-capture — not comparable)",
        "pipeline_rps_best": pipe_stats["best"],
        "pipeline_rps_median": pipe_stats["median"],
        "pipeline_rps_spread": pipe_stats["spread"],
        "pipeline_rps_spread_over_median": pipe_stats[
            "spread_over_median"
        ],
        "pipeline_rps_runs": pipe_stats["runs"],
        "pipeline_rps_ambient": pipe_ext,
        "streaming_records_per_sec": whole_rates[-1],
        # steady-state = batch-1 completion -> last-batch completion
        # (startup excluded); spread stats over the 3 runs' steady rates
        "streaming_steady_state_rps": steady_rates[-1],
        "streaming_rps_best": steady_rates[-1],
        "streaming_rps_median": steady_rates[1],
        "streaming_rps_spread": steady_rates[-1] - steady_rates[0],
        # per-key ordered mode (reference: 285,750 rec/s @ 0 µs sink)
        "streaming_key_ordered_rps": ko_steady[-1],
        "streaming_key_ordered_rps_median": ko_steady[1],
        # external cores during each streaming run's wall window; the
        # rate lists and these align positionally
        "streaming_ambient": {
            "zero_us": stream_amb,
            "zero_us_ko": ko_amb,
            "ten_ms": w_amb,
            "ten_ms_ko": wko_amb,
        },
        # 10 ms blocking work per record, overlapped (reference:
        # PARALLEL 57,563 / KEY_ORDERED 34,465 rec/s @ 10 ms), on both
        # the delivered and the input (reference) basis; timer_health
        # is the sleep(10 ms) p50/p90/p99 under 64 threads taken just
        # before them
        "timer_health": timer_probe,
        "streaming_rps_10ms_work": work_steady[-1],
        "streaming_rps_10ms_work_median": work_steady[1],
        "streaming_key_ordered_rps_10ms_work": work_ko_steady[-1],
        "streaming_key_ordered_rps_10ms_work_median": work_ko_steady[1],
        "streaming_10ms_delivered_fraction": round(delivered_fraction, 4),
        "streaming_rps_10ms_work_input_basis": input_basis(work_steady[-1]),
        "streaming_rps_10ms_work_input_basis_median": input_basis(
            work_steady[1]
        ),
        "streaming_key_ordered_rps_10ms_work_input_basis": input_basis(
            work_ko_steady[-1]
        ),
        "sf": sf_dir,
        "loadavg_start": loadavg_start,
        "loadavg": round(os.getloadavg()[0], 2),
        "environment": environment(spark, _REPO),
        "detail_artifact": out_path,
    }
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    # the ONE stdout line, final and compact (driver tail = 2000 chars)
    print(_compact_headline_line(doc), flush=True)

if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(
        description="kpipe_spark benchmark: headline (default) or "
        "full-registry --sweep; one JSON contract line on stdout, "
        "full document to --out"
    )
    ap.add_argument(
        "--out",
        default=None,
        metavar="FILE",
        help="write the full JSON document here (headline default: "
        "BENCH_HEADLINE_c{cores}.json; sweep default: SWEEP.json)",
    )
    ap.add_argument(
        "--sweep",
        action="store_true",
        help="time every registry query once instead of the headline",
    )
    ns = ap.parse_args()
    if ns.sweep:
        sweep(ns.out)
    else:
        main(ns.out)
