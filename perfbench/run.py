#!/usr/bin/env python3
"""kpipe_spark benchmark: one command, three workloads, every metric by
name and unit, outputs checked.

    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 10 --trace 0

Workloads: ``relational`` and ``llm_corpus`` (closed loop over a fixed
query list, noop sink, warmed session; the seed permutes query order)
and ``stream_outcome`` (StreamRunner drain and live phases; the seed
drives the event generator). ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer split. ``--smoke`` runs at
sf0.001 with a tiny stream and fails unless every metric is present
and nothing failed. See perfbench/README.md.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
A full artifact (environment, counts, failures, spans) is written under
``.perfbench/runs/`` in the repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("relational", "llm_corpus", "stream_outcome")
SCALE = {False: 0.01, True: 0.001}  # by --smoke
SETUPS = 7  # set-ups per run; setup_s is their median

# a warmed pass's wall time on a 4-core host; the run makes
# ``--seconds`` / this many timed passes
PASS_S_NOMINAL = {"relational": 4.0, "llm_corpus": 7.5}
TABLES_FOR = {
    "relational": ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"),
    "llm_corpus": ("events", "documents", "embeddings"),
    "stream_outcome": ("events",),
}


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let
    Python workers import the package from any working directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher is a JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _tables(scale: float) -> str:
    """Generated catalog tables for ``scale``; rebuilt when the
    generator changes."""
    import datagen

    with open(datagen.__file__, "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()
    out = os.path.join(WORK, "data", f"sf{scale}")
    marker = os.path.join(out, "GENERATOR")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == stamp:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    datagen.write_tables(scale, tmp)
    with open(os.path.join(tmp, "GENERATOR"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def _stop_spark(spark) -> None:
    """Stop Spark, its gateway JVM and every process under it, and wait
    for each to end."""
    from layers import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — escalate below
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def _expected_rows(scale: float) -> dict[str, int]:
    with open(os.path.join(HERE, "expected_rows.json")) as f:
        return json.load(f)[str(scale)]


def _setup(workload: str, sf_dir: str, spans) -> tuple:
    """Start a session and resolve the workload's catalog scans.
    Returns (spark, session seconds, catalog seconds)."""
    from kpipe_spark.catalog import load_tables
    from kpipe_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.time()
    tables = load_tables(spark, sf_dir)
    for name in TABLES_FOR[workload]:
        getattr(tables, name).schema  # noqa: B018 — resolve the scan now
    t2 = time.time()
    spans.add("setup.session", t0, t1)
    spans.add("setup.catalog", t1, t2)
    return spark, t1 - t0, t2 - t1


def run(workload: str, seed: int, seconds: float, trace: bool, smoke: bool) -> dict:
    from layers import ProcessSampler, Spans, environment, jvm_heap_peaks_mb

    scale = SCALE[smoke]
    sf_dir = _tables(scale)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spans = Spans(f"{workload}-s{seed}-t{int(trace)}-{int(time.time())}")

    with ProcessSampler() as sampler:
        spark, setups = None, []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, session_s, catalog_s = _setup(workload, sf_dir, spans)
            setups.append((session_s, catalog_s))
        try:
            if workload == "stream_outcome":
                import stream

                metrics, layer, counts, failures, attempted, failed = stream.run(
                    spark, seed, seconds, trace, os.path.join(run_dir, "stream"), smoke
                )
            else:
                import batch
                import oracle
                from kpipe_spark.catalog import TABLE_NAMES
                from kpipe_spark.queries import all_queries

                names = list(batch.RELATIONAL if workload == "relational" else batch.LLM_CORPUS)
                con = oracle.connect(sf_dir, TABLE_NAMES)
                metrics, layer, counts, failures, attempted = batch.run(
                    spark, names, all_queries(), sf_dir, seed, seconds,
                    PASS_S_NOMINAL[workload], trace,
                    _expected_rows(scale), con, spans,
                )
                con.close()
                failed = len(failures)
            env = environment(spark, ROOT)
            heap_mb = jvm_heap_peaks_mb(spark)
        finally:
            _stop_spark(spark)
    # the median set-up is one in an already running JVM; the first,
    # which also launches the JVM, is reported on its own
    mid = sorted(setups, key=sum)[len(setups) // 2]
    metrics["setup_s"] = sum(mid)
    # the JVM counts with the heap it used, not its resident size,
    # which follows G1's heap sizing rather than the program's demand
    metrics["peak_rss_mb"] = sampler.peak_rss_mb(skip="java") + sum(heap_mb.values())
    env["external_cores"] = sampler.external_cores
    counts["peak_rss_by_process_mb"] = sampler.peak_rss_by_process_mb()
    counts["jvm_heap_peaks_mb"] = heap_mb
    layer.update({
        "session.start_s": mid[0],
        "catalog.warm_s": mid[1],
        "setup.cold_s": sum(setups[0]),
        "failed_share": failed / attempted if attempted else 1.0,
    })
    shown = _metric_units()[trace]
    result = {
        "correct": not failures,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            k: {"value": float(metrics.get(k, layer.get(k, 0.0))), "unit": u}
            for k, u in shown.items()
        },
    }
    artifact = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "smoke": smoke, "scale": scale, "environment": env, "result": result,
        "end_to_end": metrics, "per_layer": layer, "counts": counts,
        "failures": failures, "spans": spans.dump(),
    }
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", f"{spans.run_id}.json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    return result


def _smoke_problems(result: dict, trace: bool) -> list[str]:
    want = _metric_units()[trace]
    got = result["metrics"]
    out = [f"missing {k}" for k in want if k not in got]
    out += [f"{k} unit {got[k]['unit']} != {u}" for k, u in want.items() if k in got and got[k]["unit"] != u]
    if result["failed"] or not result["correct"]:
        out.append(f"failed {result['failed']} of {result['attempted']}")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001, tiny stream, assert completeness")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kpipe_spark")):
        _log(f"no kpipe_spark package next to {HERE}; run from a repository checkout")
        return 2
    _prepare_env()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.smoke)
    print(json.dumps(result), flush=True)
    if args.smoke:
        problems = _smoke_problems(result, bool(args.trace))
        for p in problems:
            _log(f"smoke: {p}")
        return 1 if problems else 0
    return 0


if __name__ == "__main__":
    sys.exit(main())
