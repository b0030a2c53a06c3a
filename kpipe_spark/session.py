"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the config block is written for a real
multi-executor cluster: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), Arrow for every Python<->JVM hop, and shuffle
partitioning sized from the parallelism the session actually has rather
than Spark's static default of 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the kpipe_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """Half of physical RAM, capped at 16g: local[N] runs the driver
    and every task slot in one JVM, and a heap sized past free memory
    gets the process killed on a host without swap."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows)
        return "16g"
    half_mib = ram // 2 // (1 << 20)
    return f"{min(16 * 1024, half_mib)}m"


def get_spark(
    app_name: str = "kpipe-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a cluster, ``master`` comes from spark-submit and only the conf
    entries matter; locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    # 2x cores keeps all slots busy under AQE coalescing at local scale;
    # on a 1000-executor cluster the operator layer re-partitions by data
    # volume instead (see ARCHITECTURE.md "shuffle sizing").
    nshuffle = shuffle_partitions or min(64, max(8, cpus * 2))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime coalescing, skew-join splitting, runtime join demotion
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        # Arrow everywhere Python touches data (pandas UDFs, toPandas)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # pyspark's daemon with a stat check in front of zipimport's
        # per-task directory re-read (worker_daemon.py): ~0.15 s less
        # fixed cost on every Python-worker task. Workers get this
        # package's root on their path, so the daemon (and this
        # package's UDFs) import whatever the driver's working directory.
        .config("spark.python.daemon.module", "kpipe_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        # no Python call-site capture for DataFrame/Column calls: with it
        # on, pyspark wraps each such call in py4j round trips
        # (getActiveSession, a conf read, setting and clearing the
        # origin); building the 8 perfbench llm_corpus queries at sf0.01
        # made about 9,200 round trips with it and 4,600 without.
        # Errors lose only the Python call site in their query context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # deterministic timestamps regardless of host TZ
        .config("spark.sql.session.timeZone", "UTC")
        # dimension tables (region/nation/supplier and SF-scaled customer
        # buckets) should broadcast; 64 MB is safe with 4 GB+ executors
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # read-side split sizing: default 128 MB is right for 100 TB scans
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        # console progress writes \r[Stage ...] lines to the terminal;
        # harmless interactively but they pollute captured stdout/stderr
        # (BENCH_r06.json was beheaded by them + a long JSON line
        # overflowing the driver's 2000-char tail window)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
        # local[N] puts driver + all N task slots in ONE JVM; Spark's 1g
        # default heap thrashes GC at 32 threads (measured: GCLocker
        # retry failures on wide unions, ±30% timing noise on the heavy
        # queries). On a real cluster executor memory comes from
        # spark-submit and this setting only sizes the driver.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
