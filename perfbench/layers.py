"""Measurement taken from outside the program: spans, Spark's status
store, query-planning phases, process memory and host environment.

Nothing here imports or patches ``kpipe_spark``; every number comes
from timing the benchmark's own calls into it, from Spark's
``AppStatusStore`` (jobs and stages), from the ``QueryExecution``
tracker (planning phases, delivered through a py4j
``QueryExecutionListener``), and from ``/proc``.
"""

from __future__ import annotations

import math
import os
import platform
import subprocess
import threading
import time
from dataclasses import dataclass, field

PYTHON_NODE_MARKERS = ("Python", "Pandas", "InArrow")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Spans:
    """In-memory span log; written to the run artifact at the end."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.items: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.items.append(Span(name, start, end, parent, self.run_id, attrs))
        return len(self.items) - 1

    def dump(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "run_id": s.run_id, **s.attrs}
            for i, s in enumerate(self.items)
        ]


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


class StatusStore:
    """Jobs and stages from the JVM ``AppStatusStore``."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._stage_cache: dict[int, dict] = {}

    def drain_listener_bus(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self, groups: set[str]) -> list[dict]:
        out = []
        for j in _seq(self._store.jobsList(None)):
            g = _opt(j.jobGroup())
            if g not in groups:
                continue
            sub, comp = _opt(j.submissionTime()), _opt(j.completionTime())
            out.append({
                "job": j.jobId(),
                "group": g,
                "start": sub.getTime() / 1000.0 if sub else None,
                "end": comp.getTime() / 1000.0 if comp else None,
                "stages": _seq(j.stageIds()),
            })
        return out

    def stage(self, stage_id: int) -> dict | None:
        if stage_id in self._stage_cache:
            return self._stage_cache[stage_id]
        try:
            s = self._store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 — evicted or never submitted
            return None
        if s.status().toString() != "COMPLETE":
            return None
        graph = self._store.operationGraphForStage(stage_id)
        row = {
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1000.0,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1000.0,
            "shuffle_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "python": any(
                m in n for n in _graph_names(graph.rootCluster()) for m in PYTHON_NODE_MARKERS
            ),
        }
        self._stage_cache[stage_id] = row
        return row


def _graph_names(cluster) -> list[str]:
    names = [cluster.name()]
    it = cluster.childNodes().iterator()
    while it.hasNext():
        names.append(it.next().name())
    it = cluster.childClusters().iterator()
    while it.hasNext():
        names.extend(_graph_names(it.next()))
    return names


def stage_totals(stages: list[dict]) -> dict[str, float]:
    """Per-layer stage metrics over a set of completed stages."""
    n = len(stages)
    return {
        "stage.count": n,
        "stage.tasks": sum(s["tasks"] for s in stages),
        "stage.run_s": sum(s["run_s"] for s in stages),
        "stage.cpu_s": sum(s["cpu_s"] for s in stages),
        "stage.gc_s": sum(s["gc_s"] for s in stages),
        "stage.single_task_share": (sum(s["tasks"] == 1 for s in stages) / n) if n else 0.0,
        "stage.shuffle_bytes": sum(s["shuffle_bytes"] for s in stages),
        "stage.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "pyworker.s": sum(
            max(0.0, s["run_s"] - s["cpu_s"]) for s in stages if s["python"]
        ),
    }


class PlanPhases:
    """QueryExecutionListener over py4j: the analysis, optimisation and
    planning phase durations of every completed action, in order."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self._lock = threading.Lock()
        self.events: list[float] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — Java API
        total = 0
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            total += it.next()._2().durationMs()
        with self._lock:
            self.events.append(total / 1000.0)

    def onFailure(self, func_name, qe, exc):  # noqa: N802 — Java API
        with self._lock:
            self.events.append(0.0)

    def count(self) -> int:
        with self._lock:
            return len(self.events)

    def last(self) -> float:
        with self._lock:
            return self.events[-1] if self.events else 0.0

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def jvm_heap_peaks_mb(spark) -> dict[str, float]:
    """Peak used size of each heap pool of the driver JVM, which holds
    every ``local[N]`` executor."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {
        pool.getName(): pool.getPeakUsage().getUsed() / 2**20
        for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().name() == "HEAP"
    }


_HZ = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _cpu_jiffies(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])  # utime stime
    except (OSError, IndexError, ValueError):
        return 0


def _busy_jiffies() -> int:
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields) - fields[3] - fields[4]  # minus idle, iowait


class ProcessSampler:
    """Samples the benchmark's process tree: peak resident memory
    (VmHWM, summed over its processes) and the CPU used outside that
    tree over the run window.

    A process counts once it has been seen under the same command name
    in two samples: a child the JVM has forked but not yet exec'd shares
    the JVM's memory and would otherwise count the heap twice."""

    def __init__(self, period_s: float = 0.25) -> None:
        self._period = period_s
        self._stop = threading.Event()
        self._hwm: dict[tuple[int, str], int] = {}
        self._seen: dict[tuple[int, str], int] = {}
        self._tree_cpu: dict[int, int] = {}
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "ProcessSampler":
        self._t0 = time.monotonic()
        self._busy0 = _busy_jiffies()
        self._sample()
        self._tree0 = sum(self._tree_cpu.values())
        self._thread.start()
        return self

    def _sample(self) -> None:
        me = os.getpid()
        for pid in [me] + descendants(me):
            key = (pid, _comm(pid))
            self._hwm[key] = max(self._hwm.get(key, 0), _hwm_kb(pid))
            self._seen[key] = self._seen.get(key, 0) + 1
            self._tree_cpu[pid] = max(self._tree_cpu.get(pid, 0), _cpu_jiffies(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            self._sample()

    def __exit__(self, *exc) -> None:
        self.close()

    def close(self) -> None:
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        wall = time.monotonic() - self._t0
        busy = _busy_jiffies() - self._busy0
        tree = sum(self._tree_cpu.values()) - self._tree0
        self.external_cores = max(0.0, (busy - tree) / _HZ / wall) if wall > 0 else 0.0

    def peak_rss_by_process_mb(self) -> dict[str, float]:
        """Peak resident memory summed per command name."""
        out: dict[str, float] = {}
        for (pid, name), kb in self._hwm.items():
            if self._seen[(pid, name)] >= 2:
                out[name] = out.get(name, 0.0) + kb / 1024.0
        return out

    def peak_rss_mb(self, skip: str) -> float:
        """Summed peak resident memory of every process but ``skip``."""
        return sum(mb for name, mb in self.peak_rss_by_process_mb().items() if name != skip)


def _git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def environment(spark, root: str) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "spark": spark.version,
        "python": platform.python_version(),
        "jdk": jvm.System.getProperty("java.version"),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "git_commit": _git_commit(root),
    }
