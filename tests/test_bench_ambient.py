"""The bench's per-row measurements, tested as units.

Each headline and sweep row records wall time, external cores =
(machine busy jiffies − our process-tree jiffies) / window, the classes
compiled during the best run, and the task CPU, task count, single-task
stage share and Python-worker seconds Spark's status store holds for
the row's own jobs. These tests pin what makes those numbers
meaningful: our own CPU burn is attributed to the TREE (so a busy bench
doesn't read itself as contention), the jiffy helpers survive process
churn without raising (procfs rows race with exits), the capture helper
reads task metrics for the query it ran and frees the checkpoints its
frames made, the stdout line fits the driver's tail window, and neither
bench.py nor the session factory reads a tuning knob from the
environment."""

from __future__ import annotations

import multiprocessing
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _burn(seconds: float) -> None:
    end = time.perf_counter() + seconds
    x = 0
    while time.perf_counter() < end:
        x += 1


def _burn_then_linger(seconds: float) -> None:
    _burn(seconds)
    time.sleep(3)  # stay alive so the parent samples our jiffies


def test_own_burn_lands_in_tree_not_ambient():
    """A CPU second burned by THIS process (and a LIVE child) must
    show up in the tree counter, leaving external cores near zero —
    the exact property that lets the bench run 32 threads without
    gating on its own footprint. (The child lingers through the
    sample to pin the LIVE-descendant path; reaped children are now
    recouped via cutime/cstime and pinned separately by
    test_tree_jiffies_recoup_reaped_children.)

    The assertion's margin assumes a quiet box: REAL neighbors burning
    ~1 core make external read ~1.0 with perfectly correct attribution
    (measured live in round 13 — identical failure on two adjacent
    commits while an idle-window probe read 0.5-1.0 external cores).
    So the test applies its own discipline: sample ambient FIRST and
    skip when the window can't distinguish mis-attribution from
    genuine neighbors."""
    import pytest

    pb0, pt0 = bench._total_busy_jiffies(), bench._tree_cpu_jiffies()
    time.sleep(1.0)
    pre_ext = max(
        0,
        (bench._total_busy_jiffies() - pb0)
        - (bench._tree_cpu_jiffies() - pt0),
    ) / bench._HZ / 1.0
    if pre_ext >= 0.5:
        pytest.skip(
            f"box not quiet ({pre_ext:.2f} external cores idle-sampled) "
            "— genuine neighbors are indistinguishable from "
            "mis-attributed self-burn at this level"
        )
    b0, t0 = bench._total_busy_jiffies(), bench._tree_cpu_jiffies()
    w0 = time.perf_counter()
    child = multiprocessing.Process(target=_burn_then_linger, args=(0.5,))
    child.start()
    _burn(0.5)
    time.sleep(0.7)  # let the child finish its burn before sampling
    wall = time.perf_counter() - w0
    db = bench._total_busy_jiffies() - b0
    dt = bench._tree_cpu_jiffies() - t0
    child.terminate()
    child.join()
    # we burned ~1 CPU-second across two processes; the tree must see
    # the bulk of it (scheduler noise allowed)
    assert dt / bench._HZ >= 0.6, (db, dt)
    ext_cores = max(0, db - dt) / bench._HZ / wall
    # a quiet CI box may have real neighbors; the claim is only that
    # OUR burn is not misread as ambient (2 cores of self-burn would
    # read ~2.0 here if attribution were broken)
    assert ext_cores < 1.0, (db, dt, ext_cores)


def test_tree_jiffies_monotone_and_raceproof():
    """Repeated samples never go backwards and never raise, even while
    short-lived children churn procfs under the walk."""
    procs = [
        multiprocessing.Process(target=time.sleep, args=(0.05,))
        for _ in range(8)
    ]
    for p in procs:
        p.start()
    last = bench._tree_cpu_jiffies()
    for _ in range(20):
        cur = bench._tree_cpu_jiffies()
        assert cur >= 0
        last = max(last, cur)
    for p in procs:
        p.join()
    assert bench._total_busy_jiffies() > 0


def _headline_doc(n_queries: int, hot: int = 0) -> dict:
    names = [f"d{i:02d}_some_reasonably_long_query_name" for i in range(n_queries)]
    rates = {
        k: 123456
        for k in (
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
        )
    }
    return {
        "metric": "headline_queries_total_runtime",
        "value": 25.123,
        "unit": "sec",
        "queries": {n: 1.234 for n in names},
        "task_cpu_s": 61.234,
        "legacy16_subtotal": 9.876,
        "rows": {
            n: {
                "wall_s": 1.234,
                "ext_cores": 1.23 if i < hot else 0.0,
                "task_cpu_s": 2.345,
                "tasks": 17,
                "single_task_share": 0.25,
                "pyworker_s": 0.123,
            }
            for i, n in enumerate(names)
        },
        **rates,
        "timer_health": {"p50_ms": 10.12, "p90_ms": 10.4},
        "streaming_ambient": {"zero_us": [0.0, 0.1, 0.0]},
        "sf": "/root/testdata/sf0.1",
        "loadavg_start": 2.58,
        "loadavg": 4.81,
        "detail_artifact": "BENCH_HEADLINE_c4.json",
    }


# Every key of the stdout line on a quiet run (no row with external
# cores, so no ``ambient_hot``): the contract fields, the pipeline,
# streaming and 10 ms rates, and the evidence summaries.
COMPACT_KEYS = {
    "metric", "value", "unit", "queries", "sf", "detail",
    "task_cpu_s", "legacy16_subtotal", "loadavg_start",
    "pipeline_records_per_sec", "pipeline_rps_median", "pipeline_rps_spread",
    "streaming_records_per_sec", "streaming_steady_state_rps",
    "streaming_rps_best", "streaming_rps_median", "streaming_rps_spread",
    "streaming_key_ordered_rps",
    "streaming_rps_10ms_work", "streaming_key_ordered_rps_10ms_work",
    "streaming_rps_10ms_work_input_basis",
    "streaming_key_ordered_rps_10ms_work_input_basis",
    "ambient_max", "timer_p90_ms", "streaming_ambient_max",
}


def test_compact_headline_line_fits_driver_tail_window():
    """BENCH_r06.json shipped parsed:null because the stdout JSON line
    outgrew the driver's 2000-char tail capture. The compact line must
    fit with margin at the real headline size and carry exactly the
    retained keys: a key that goes missing, or one that reappears, fails
    here."""
    import json

    line = bench._compact_headline_line(_headline_doc(len(bench.HEADLINE)))
    assert len(line) <= 1900, len(line)
    parsed = json.loads(line)
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in parsed, k
    assert len(parsed["queries"]) == len(bench.HEADLINE)
    # quiet run: per-row external cores collapse to a max, not 24 zeros
    assert parsed["ambient_max"] == 0.0
    assert "ambient_hot" not in parsed
    assert parsed["task_cpu_s"] == 61.234
    assert parsed["detail"] == "BENCH_HEADLINE_c4.json"
    assert set(parsed) == COMPACT_KEYS, set(parsed) ^ COMPACT_KEYS


def test_compact_headline_line_trims_before_overflowing():
    """With every row hot (worst-case evidence size), the line drops
    optional fields rather than overflow — the contract fields and the
    rates survive."""
    import json

    doc = _headline_doc(len(bench.HEADLINE), hot=len(bench.HEADLINE))
    full = bench._compact_headline_line(doc, limit=10**6)
    line = bench._compact_headline_line(doc, limit=1200)
    parsed = json.loads(line)
    assert len(line) < len(full)
    # every droppable was sacrificed before touching contract fields
    assert "ambient_hot" not in parsed and "loadavg_start" not in parsed
    for k in (
        "metric", "value", "unit", "queries", "sf",
        "pipeline_records_per_sec", "streaming_key_ordered_rps",
        "streaming_rps_10ms_work",
    ):
        assert k in parsed, k
    # the worst case still fits the REAL window once droppables go
    assert len(bench._compact_headline_line(doc)) <= 1900
    # the per-row hot map is the big droppable: a line that fits once it
    # alone goes keeps the one-number streaming reading
    no_hot = json.loads(full)
    no_hot.pop("ambient_hot")
    line = bench._compact_headline_line(
        doc, limit=len(json.dumps(no_hot, separators=(",", ":")))
    )
    parsed = json.loads(line)
    assert "ambient_hot" not in parsed
    assert "streaming_ambient_max" in parsed


def test_timed_capture_reads_task_metrics(spark):
    """A tiny query through the capture helper: the row carries wall
    time, external cores, and task metrics read from the status store
    for the query's own jobs."""
    from kpipe_spark.queries import all_queries

    q = all_queries()["q01_pricing_summary"]
    row = bench._timed_capture(
        spark, lambda: q.build(spark, "/root/testdata/sf0.001"), runs=2
    )
    assert set(row) == {
        "wall_s", "ext_cores", "compiles", "task_cpu_s", "tasks",
        "single_task_share", "pyworker_s",
    }
    assert row["wall_s"] > 0
    assert row["ext_cores"] >= 0
    assert row["compiles"] >= 0
    assert row["task_cpu_s"] > 0
    assert row["tasks"] >= 1
    assert 0 <= row["single_task_share"] <= 1
    assert row["pyworker_s"] >= 0


def test_timed_capture_frees_the_builders_checkpoints(spark):
    """d94's builder materializes its candidate frame; after a capture
    the session holds no more persisted RDDs than before it, so a later
    row is not timed under this row's checkpoint blocks."""
    from kpipe_spark.queries import all_queries

    q = all_queries()["d94_adaptive_nprobe_recall"]
    jsc = spark.sparkContext._jsc
    baseline = jsc.getPersistentRDDs().size()
    bench._timed_capture(
        spark, lambda: q.build(spark, "/root/testdata/sf0.001"), runs=1
    )
    assert jsc.getPersistentRDDs().size() == baseline


def _environ_keys(path: str) -> list:
    """The keys of every os.environ / os.getenv read in ``path`` (None
    for a key that is not a literal). Fails if an os.environ reference
    is not a keyed read, or if the module imports from os."""
    import ast

    with open(path) as f:
        tree = ast.parse(f.read())

    def is_os(node) -> bool:
        return isinstance(node, ast.Name) and node.id == "os"

    def is_environ(node) -> bool:
        return (
            isinstance(node, ast.Attribute)
            and node.attr == "environ"
            and is_os(node.value)
        )

    reads, environ_refs, environ_reads = [], 0, 0
    for node in ast.walk(tree):
        assert not (isinstance(node, ast.ImportFrom) and node.module == "os")
        if is_environ(node):
            environ_refs += 1
        if isinstance(node, ast.Subscript) and is_environ(node.value):
            reads.append(node.slice)
            environ_reads += 1
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.args
        ):
            if node.func.attr == "get" and is_environ(node.func.value):
                reads.append(node.args[0])
                environ_reads += 1
            elif node.func.attr == "getenv" and is_os(node.func.value):
                reads.append(node.args[0])
    # every os.environ reference is a keyed read, every key a literal
    assert environ_reads == environ_refs, (environ_reads, environ_refs)
    return [k.value if isinstance(k, ast.Constant) else None for k in reads]


def test_bench_reads_no_env_knob():
    """bench.py measures; it takes no tuning knobs from the environment.
    The one variable it may read is the dataset directory. Any other
    os.environ / os.getenv read — a gate threshold, a wait budget, an
    output path — fails here, as does an access whose key is not a
    literal."""
    keys = _environ_keys(os.path.join(os.path.dirname(bench.__file__), "bench.py"))
    assert set(keys) <= {"SPARK_GRAFT_SF_DIR"}, keys


def test_bench_has_no_exit_path():
    """bench.py measures and never gates: whatever a run measures, it
    exits 0. An exit call or a SystemExit raise — a verdict on a
    measurement turned into an exit code — fails here; argparse's own
    usage errors are the only other exit."""
    with open(os.path.join(os.path.dirname(bench.__file__), "bench.py")) as f:
        src = f.read()
    for needle in ("sys.exit(", "os._exit(", "SystemExit"):
        assert needle not in src, needle


def test_session_reads_only_host_sizing_env():
    """get_spark's conf is fixed: the environment may size the session
    to the host (core count, driver heap) and nothing else. A tuning
    knob read from the environment, such as a join threshold, fails
    here."""
    from kpipe_spark import session

    keys = _environ_keys(session.__file__)
    assert set(keys) <= {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}, keys


def test_tree_jiffies_recoup_reaped_children():
    """Round-11 artifact wart: a pyspark worker reaped mid-window made
    its lifetime burn vanish from the live tree and the 'external'
    residue read 80 cores on a 32-vCPU box. The tree measure must
    recoup reaped descendants via the parent's cutime/cstime — burn
    CPU in a child that exits and is waited on, and the tree delta
    must contain that burn."""
    import subprocess
    import sys

    before = bench._tree_cpu_jiffies()
    subprocess.run(
        [sys.executable, "-c", "i=0\nfor _ in range(2 * 10**7): i += 1"],
        check=True,
    )
    after = bench._tree_cpu_jiffies()
    # the loop burns well over 0.3 s of CPU on any machine this runs on
    assert after - before >= int(0.3 * bench._HZ), (
        f"reaped child's burn missing from the tree: delta "
        f"{after - before} jiffies"
    )
