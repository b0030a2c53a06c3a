"""Plan-shaping utilities for the 100 TB discipline: under-split
guards, skew-salted joins, bucketed co-located joins."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ieee_round(c: Column, scale: int) -> Column:
    """Cross-engine-exact decimal rounding: floor(x·10^k + 0.5)/10^k.

    Engine-native ``round(double, k)`` differs AT HALF-WAY POINTS:
    Spark rounds the shortest decimal repr (BigDecimal.valueOf), DuckDB
    rounds the binary value — 0.53875 stored as 0.53874999… rounds to
    .5388 in Spark and .5387 in DuckDB. Spelling the rounding out as
    multiply/add/floor/divide makes every step an IEEE-754 operation
    both engines (and Python) compute bit-identically. Mirror the SAME
    expression in the oracle SQL: ``floor(x * 1e{k} + 0.5) / 1e{k}``.
    Ties round toward +inf (not away from zero) — fine, because both
    sides agree, which is the only property the oracle contract needs.
    """
    p = float(10**scale)
    return (F.floor(c * p + F.lit(0.5)) / p).cast("double")


# -- branch-sharing materialization -------------------------------------------
#
# Several operators derive an expensive frame once (a corpus explode, a
# signature table) that multiple plan branches consume; Spark plans each
# branch independently and does NOT reuse an aggregation exchange across
# a model branch and a scoring join, so without materialization the
# derivation re-runs per consumer. The default strategy is
# localCheckpoint (executor block storage) — right for local and for
# bounded frames, but a CORPUS-scaled frame checkpointed per query is
# petabytes of block storage at 100 TB. The strategy is therefore
# injectable: a cluster deployment installs a write-table (stored
# feature table) or reliable-checkpoint strategy once, and every
# operator picks it up.

_materializer = None


def set_materializer(fn) -> object:
    """Install a materialization strategy: ``fn(df, *, eager, scale)``
    -> DataFrame, where scale is "corpus" (rows proportional to the
    dataset — the frames that must NOT live in block storage at 100 TB)
    or "bounded" (vocab/bucket/batch-sized). None restores the default
    (localCheckpoint). Returns the previous strategy so callers can
    restore it."""
    global _materializer
    prev = _materializer
    _materializer = fn
    return prev


def materialize(df: DataFrame, *, eager: bool = False, scale: str = "bounded") -> DataFrame:
    """The one materialization point under kpipe_spark/ (StreamRunner's
    pinned per-batch checkpoint aside): branch-shared intermediates,
    iterative-loop state and frozen batch frames all come through here.
    Defaults to ``localCheckpoint`` (cut lineage + cache in executor
    block storage); deployments swap the strategy via
    ``set_materializer`` (e.g. ``table_materializer`` writes corpus-
    scaled frames to a parquet table — the stored feature table
    production DSIR/novelty pipelines keep anyway).

    ``scale`` follows the frame's row count, not its consumer:

    - "corpus": rows grow with the dataset — per-document frames and
      the dup graph (``lloyd_centroids_int``'s quantized vectors,
      ``connected_components``' edges and labels over d24's corpus
      pairs);
    - "bounded": rows are capped by a vocabulary, a bucket count or
      one batch (``train_bpe``'s vocab table, ``source_kl_bits``'
      (source, bucket) counts, ``CorpusIndex.admit``'s batch bands,
      the one-batch graph ``ClusterIndex.refresh_incremental`` hands
      ``connected_components``)."""
    if _materializer is not None:
        return _materializer(df, eager=eager, scale=scale)
    return df.localCheckpoint(eager=eager)


_PINNED = "kpipe:pinned-local-checkpoint"


def _checkpoint_rdds(df: DataFrame) -> list:
    """The JVM RDDs behind ``df``'s LogicalRDD leaves (the local
    checkpoints its analyzed plan reads)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [
        leaves.apply(i).rdd()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    ]


def pin_local_checkpoint(df: DataFrame) -> DataFrame:
    """Mark the local checkpoint(s) ``df`` reads as held by the caller:
    ``free_local_checkpoint`` skips them unless called with
    ``pinned=True``. For a caller that hands a checkpointed frame to
    code it does not control (StreamRunner's sink and DLQ writer): that
    code may free its own superseded checkpoints through a frame
    derived from the input, and the lineage walk would reach the
    caller's blocks while the caller still reads them. The mark is the
    RDD's name, so it lives and dies with the blocks."""
    for rdd in _checkpoint_rdds(df):
        rdd.setName(_PINNED)
    return df


def free_local_checkpoint(df: DataFrame, *, pinned: bool = False) -> bool:
    """Best-effort release of the ``localCheckpoint`` RDD blocks a
    SUPERSEDED frame reads. Walks the analyzed plan and unpersists every
    LogicalRDD leaf, so it works on the checkpointed frame itself AND on
    projections/filters derived from it — but that is also the hazard:
    only call it when the ENTIRE lineage is dead. A local checkpoint's
    lineage is truncated, so after the release any frame sharing it
    fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND rather than silently
    recomputing. Leaves marked by ``pin_local_checkpoint`` are skipped
    unless ``pinned`` is set: only their holder releases them.

    Iterative operators checkpoint once per round; without an explicit
    release every round's blocks live until session shutdown (nothing
    unpersists a local checkpoint), so long-lived sessions — streaming
    folds, notebook reuse, profiling loops — accumulate dead dup-graph-
    sized RDDs and eventually read inflated timings from GC pressure.
    Returns True only when blocks were actually released: a frame
    produced by a swapped-in materializer strategy (e.g. a parquet
    table) has no checkpoint RDD and is left to that strategy's own
    lifecycle (``table_materializer.drop_all``)."""
    try:
        freed = False
        for rdd in _checkpoint_rdds(df):
            if rdd.name() == _PINNED and not pinned:
                continue
            rdd.unpersist(False)
            freed = True
        return freed
    except Exception:
        return False


class table_materializer:
    """Write-table strategy for clusters: corpus-scaled frames are
    written to (and re-read from) a parquet table instead of executor
    block storage — durable, spillable to the warehouse's store, and
    exactly what a production pipeline does with its feature tables.
    Bounded frames keep the cheaper localCheckpoint.

    Lifecycle is owned by the strategy, not the caller:

    - the default prefix carries a uuid, so two concurrent jobs
      sharing one warehouse can never write over each other's
      materializations (the same collision-safety discipline the
      bench's corpus index uses);
    - created tables are tracked on ``.tables`` and dropped by
      ``drop_all()``;
    - used as a context manager it installs itself via
      ``set_materializer`` on entry and, on exit, restores the prior
      strategy AND drops every table it created::

          with table_materializer():
              ledger = dsir_log_weights(docs, targets, buckets)
              ...
          # no kpipe_mat_* tables survive the block

    The callable form is unchanged (``mat(df, eager=..., scale=...)``),
    so ``set_materializer(table_materializer())`` still works for
    installations that want the tables to OUTLIVE the job (stored
    feature tables) — call ``drop_all()`` when done, or never, by
    choice rather than by leak."""

    def __init__(self, prefix: str | None = None) -> None:
        import itertools
        import uuid

        self.prefix = prefix or f"kpipe_mat_{uuid.uuid4().hex[:8]}"
        self._counter = itertools.count()
        self.tables: list[str] = []
        self._spark = None
        self._prev: object = None
        self._installed = False

    def __call__(
        self, df: DataFrame, *, eager: bool = False, scale: str = "bounded"
    ) -> DataFrame:
        if scale != "corpus":
            return df.localCheckpoint(eager=eager)
        name = f"{self.prefix}_{next(self._counter)}"
        # a stable-prefix deployment (the documented outlive-the-job
        # mode) can crash mid-write and leave an orphaned warehouse
        # directory; same guard write_bucketed applies
        reclaim_orphaned_table_location(df.sparkSession, name)
        df.write.mode("overwrite").saveAsTable(name, format="parquet")
        self._spark = df.sparkSession
        self.tables.append(name)
        return df.sparkSession.table(name)

    def drop_all(self) -> None:
        """Drop every table this strategy created (idempotent)."""
        if self._spark is not None:
            for t in self.tables:
                self._spark.sql(f"DROP TABLE IF EXISTS {t}")
        self.tables.clear()

    def __enter__(self) -> "table_materializer":
        self._prev = set_materializer(self)
        self._installed = True
        return self

    def __exit__(self, *exc) -> bool:
        if self._installed:
            set_materializer(self._prev)
            self._installed = False
        self.drop_all()
        return False


_BYTE_SUFFIX = {
    "b": 1,
    "k": 1 << 10,
    "m": 1 << 20,
    "g": 1 << 30,
    "t": 1 << 40,
    "p": 1 << 50,
}


def _parse_bytes(v: str) -> int:
    """Spark byte-size string ('134217728b', '128MB', '4m') -> bytes."""
    s = v.strip().lower().removesuffix("b")
    if s and s[-1] in _BYTE_SUFFIX:
        return int(s[:-1]) * _BYTE_SUFFIX[s[-1]]
    return int(s)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition iff the input has fewer partitions than the session's
    parallelism.

    CPU-heavy derivations (shingle hashing, feature extraction, cosine
    scoring) inherit the scan's partitioning; a small dimension-sized
    parquet arrives as ONE split (< maxPartitionBytes) and would run the
    whole derivation on one core. At 100 TB inputs already exceed core
    count and this is a no-op — the guard only pays the (tiny) shuffle
    when the input is under-split.

    Split estimation avoids a planner round-trip per call site:
    ``df.rdd.getNumPartitions()`` converts the frame to an RDD plan just
    to count splits — cheap locally, an extra analysis pass per query at
    scale. For file-backed frames the scan's split count is estimated
    the same way Spark packs splits (total bytes + per-file open cost,
    over maxPartitionBytes); the RDD fallback only fires for in-memory
    frames (streaming micro-batches, createDataFrame fixtures), which
    are already materialized.
    """
    # a pre-foreachBatch streaming frame has no split count to inspect
    # (df.rdd would raise); its micro-batches are respread per mode by
    # streaming.modes.shape_batch instead
    if df.isStreaming:
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism

    try:
        files = df.inputFiles()
    except Exception:  # non-file-backed plans (e.g. streaming batches)
        files = []
    if files:
        import os
        from urllib.parse import unquote, urlparse

        try:
            max_split = _parse_bytes(
                spark.conf.get(
                    "spark.sql.files.maxPartitionBytes", "134217728b"
                )
            )
            open_cost = _parse_bytes(
                spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
            )
            total = 0
            for f in files:
                p = urlparse(f)
                if p.scheme not in ("file", ""):
                    # remote store: listing sizes here would re-do the
                    # catalog's work; assume well-split (big-file layouts)
                    return df
                # inputFiles() returns percent-encoded URIs — a path
                # with a space arrives as %20 and must be unquoted
                # before stat'ing
                total += os.path.getsize(unquote(p.path)) + open_cost
        except (OSError, ValueError):
            # file vanished between listing and stat, an exotic path,
            # or an unparseable conf value: fall back to the exact
            # (slower) split count rather than failing query
            # construction
            pass
        else:
            # mirror Spark's ACTUAL packing, not just maxPartitionBytes:
            # maxSplitBytes = min(maxPartitionBytes,
            #                     max(openCost, totalBytes/minPartitionNum))
            # — Spark auto-splits mid-size inputs down to ~parallelism
            # partitions, so estimating with maxPartitionBytes alone
            # undercounts and triggers a full-dataset repartition the
            # real scan never needed (e.g. 2 GB in 16 files already
            # arrives as ~32 partitions on local[32])
            try:
                # optional entry: unset, conf.get throws through py4j
                # (IllegalArgumentException), not a None return
                min_pn = int(
                    spark.conf.get("spark.sql.files.minPartitionNum")
                )
            except Exception:
                min_pn = spark.sparkContext.defaultParallelism
            split = min(max_split, max(open_cost, total // max(min_pn, 1)))
            est = max(1, -(-total // max(split, 1)))
            return df.repartition(target) if est < target else df

    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str,
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Equi-join where ``skewed``'s join key is heavily skewed and
    ``other`` is too large to broadcast.

    A plain shuffle join sends every row of a hot key to ONE reducer —
    the straggler that dominates wall-clock at scale. Salting splits
    each hot key across ``salt`` reducers: the skewed side gets a
    random salt in [0, salt), the other side is replicated ``salt``
    times (explode of a sequence — a salt-factor blowup of the SMALL
    side of the skew relation, not of the fact table), and the join key
    becomes (key, salt). Result rows are identical to the plain join.

    AQE's skew-join handles most cases first (it splits oversized
    shuffle partitions); salting is for the residual case of a single
    key too hot for partition-splitting to help (AQE cannot split one
    key's hash bucket across joins with state).
    """
    if how.replace("_", "").lower() not in (
        "inner",
        "left",
        "leftouter",
        "leftsemi",
        "semi",
        "leftanti",
        "anti",
    ):
        # right/full-outer cannot survive the replication: an
        # other-side key unmatched in `skewed` matches nothing on ANY
        # salt, so every one of its `salt` replicas would surface as a
        # null-padded row — `salt` duplicates where the plain join
        # emits one. Use AQE skew-join for those directions.
        raise ValueError(
            f"salted_join cannot preserve '{how}' semantics: the "
            f"non-skewed side is replicated {salt}x and unmatched "
            "replicas would all surface under a right/full outer join"
        )
    skewed_s = skewed.withColumn(
        "_salt", (F.rand(seed=42) * salt).cast("int")
    )
    other_s = other.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return skewed_s.join(other_s, [on, "_salt"], how).drop("_salt")


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
) -> None:
    """Hive-partitioned parquet layout (path/key=value/...).

    The read-side payoff is partition PRUNING: a filter on the
    partition key never touches non-matching directories — at 100 TB
    the difference between scanning a day and scanning a decade.
    Choose low-cardinality, always-filtered keys (date, region, kind);
    high-cardinality keys create a small-file explosion instead.
    Verified in tests via PartitionFilters in the scan plan.
    """
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
) -> int:
    """Rewrite a parquet dataset into ~target-sized files; returns the
    output file count.

    Streaming sinks and fine-grained partitioned writes accumulate
    small files; at scale the metadata and open() overhead of a
    million 1 MB files dominates scan time. Sizing from actual input
    bytes (not row counts) keeps output files near the parquet
    row-group sweet spot.

    Sizing goes through the Hadoop FileSystem API so it works on
    whatever store holds the data (HDFS/S3/local) — an os.walk-based
    size reads 0 for any remote path and would collapse the rewrite
    to ONE file, the exact failure compaction exists to fix. Shrinking
    uses coalesce (partition merge, no shuffle); when the target file
    count EXCEEDS the scan's partition count, coalesce is a no-op
    upward, so the rewrite repartitions instead — that pays one
    shuffle, but honors the target size rather than silently emitting
    half as many files at twice the size.
    """
    import math

    df = spark.read.parquet(src_path)
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(src_path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        total = fs.getContentSummary(jpath).getLength()
    except Exception:  # no JVM bridge (mocks) — local-fs fallback
        total = _dataset_bytes(src_path)
    n_files = max(1, math.ceil(total / target_file_bytes))
    shaped = (
        df.coalesce(n_files)
        if n_files <= df.rdd.getNumPartitions()
        else df.repartition(n_files)
    )
    shaped.write.mode("overwrite").parquet(dst_path)
    return n_files


def _dataset_bytes(path: str) -> int:
    import os

    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _table_owning_location(spark, fs, target_path) -> str | None:
    """Name of the catalog table (any database, any name) whose storage
    LOCATION resolves to the Hadoop path ``target_path``, or None. Runs
    only on the rare reclaim path (directory present, named table
    absent), so the full catalog walk is acceptable; views and temp
    views have no location and are skipped.

    Locations compare as QUALIFIED URIs, both sides through the same
    ``Path`` parser + ``fs.makeQualified`` — a raw string compare
    misses the owner on scheme-form (``file:/`` vs ``file:///``) or
    percent-encoding differences between DESCRIBE's stored string and
    the derived path, and a missed owner fails in the unsafe direction
    (deleting live data). A location string that won't parse is logged
    and the scan CONTINUES (an exotic location on an unrelated table
    must not disable reclaim catalog-wide); only if the whole scan
    finds no parseable owner do the unparseable candidates win —
    the first is returned as a refuse-sentinel naming the real cause,
    because refusing the reclaim is the cheap failure (saveAsTable
    errors loudly), deleting is not."""
    import logging

    jvm = spark._jvm
    target_uri = fs.makeQualified(target_path).toUri()
    unparseable: list[str] = []
    for db in spark.catalog.listDatabases():
        for t in spark.catalog.listTables(db.name):
            if t.isTemporary or (t.tableType or "").upper() == "VIEW":
                continue
            qualified = f"`{t.database or db.name}`.`{t.name}`"
            try:
                rows = spark.sql(
                    f"DESCRIBE TABLE EXTENDED {qualified}"
                ).collect()
            except Exception:  # pragma: no cover - concurrent drop
                continue
            loc = next(
                (
                    r["data_type"]
                    for r in rows
                    if r["col_name"] == "Location"
                ),
                None,
            )
            if not loc:
                continue
            try:
                loc_uri = fs.makeQualified(
                    jvm.org.apache.hadoop.fs.Path(loc)
                ).toUri()
            except Exception:  # pragma: no cover - exotic location
                logging.getLogger(__name__).warning(
                    "reclaim scan: location %r of table %s does not "
                    "parse as a Hadoop path; skipping it (it only "
                    "blocks reclaim if no parseable table owns the "
                    "target)",
                    loc,
                    qualified,
                )
                unparseable.append(qualified)
                continue
            if loc_uri.equals(target_uri):
                return qualified
    # no parseable owner: an unparseable location MIGHT be the owner in
    # disguise, so refuse with the first candidate as the named cause
    return unparseable[0] if unparseable else None


def reclaim_orphaned_table_location(spark, table: str) -> bool:
    """Free a managed table's directory when the catalog has NO entry
    for it — the dirt a crashed job leaves behind (driver OOM between
    the filesystem write and the catalog commit; or, on an ephemeral
    in-memory catalog, ANY leftover warehouse directory, since each
    new session starts with an empty catalog). ``saveAsTable`` then
    dies with LOCATION_ALREADY_EXISTS even in overwrite mode, because
    overwrite only drops tables the catalog knows about — this exact
    failure made the round-6 handover suite red on first run
    (spark-warehouse/corpus_bands_api, orphaned mid-session).

    Deleting is safe by construction: the directory is checked to be
    the MANAGED location derived from the warehouse dir, and a
    catalog-miss means no query can reach those files. Goes through
    the Hadoop FileSystem API so it works on whatever store backs the
    warehouse (HDFS/S3/local), not just the local fs. Returns True if
    a directory was reclaimed."""
    if spark.catalog.tableExists(table):
        return False
    parts = table.split(".")
    db = parts[-2] if len(parts) >= 2 else spark.catalog.currentDatabase()
    # the catalog lowercases identifiers when deriving the managed
    # location — both halves must follow, or 'Default.foo'/'Analytics.x'
    # probe a directory Spark never writes and miss the orphan
    db = db.lower()
    tbl = parts[-1].lower()
    sub = tbl if db == "default" else f"{db}.db/{tbl}"
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), sub
    )
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return False
    import logging

    # Safety gate: a catalog-miss under TABLE'S OWN name does not prove
    # the directory is orphaned — an EXTERNAL table registered under a
    # DIFFERENT name can point its LOCATION at the same path (or a
    # shared persistent metastore can serve a stale tableExists).
    # Deleting then loses live data silently, so refuse the reclaim if
    # ANY catalog table resolves to this location.
    owner = _table_owning_location(spark, fs, path)
    if owner is not None:
        logging.getLogger(__name__).warning(
            "NOT reclaiming %s for %s: catalog table %s resolves to "
            "that location (external table under a different name, or "
            "a stale tableExists on a shared metastore)",
            path.toString(),
            table,
            owner,
        )
        return False
    logging.getLogger(__name__).warning(
        "reclaiming orphaned managed-table location %s for %s: the "
        "directory exists with no catalog entry (a crashed prior "
        "job's leftovers), so saveAsTable would die with "
        "LOCATION_ALREADY_EXISTS",
        path.toString(),
        table,
    )
    fs.delete(path, True)
    return True


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    num_buckets: int = 32,
    sort_by: list[str] | None = None,
) -> None:
    """Materialize a bucketed+sorted table so later equi-joins and
    aggregations on ``keys`` are exchange-free.

    At 100 TB, re-shuffling a fact table for every join against the
    same key is the dominant cost; bucketing pays the shuffle ONCE at
    write time. Readers joining two tables bucketed on the same keys
    with the same bucket count get a SortMergeJoin with no Exchange on
    either side (verified in tests against the physical plan).
    """
    reclaim_orphaned_table_location(df.sparkSession, table)
    w = df.write.mode("overwrite").bucketBy(num_buckets, *keys)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table, format="parquet")
