"""Fixed-memory sketch primitives shared by the d96-d98 queries and
the streaming maintenance path: md5-derived integer hash lanes plus
three stored artifacts — ``BloomGate`` (a Bloom bitmap, Bloom 1970),
``CmsSketch`` (count-min counters, Cormode & Muthukrishnan 2005) and
``HllSketch`` (HyperLogLog registers, Flajolet et al. 2007) —
persisted as managed tables and UPDATED per micro-batch, the
"fixed-size model side" the d96-d98 docstrings promise.

Why stored artifacts: the d96-d98 queries derive their sketch inline
per run (the oracle contract needs them self-contained), but the
100 TB story is a sketch that already exists when a batch arrives —
≤ geometry-bounded rows whatever the corpus, broadcastable forever —
probed in front of the corpus-sized work (BloomGate gates
CorpusIndex's band join; CmsSketch answers frequency probes without a
vocab table; HllSketch tracks distinct cardinality without a
corpus-wide distinct).

At-least-once safety — three different mechanisms for three different
merge algebras. Structured Streaming's foreachBatch re-delivers a
batch (same batchId) after a crash. The Bloom update is SET UNION —
naturally idempotent — so BloomGate needs only a skip marker for
cheapness, and even a marker lost to a crash between the bit append
and the property write is harmless (re-inserting the same bits is the
identity; ``probe`` reads bits through ``distinct()`` so a duplicate
row can never double-count a lane). Counter ADDITION is NOT
idempotent, so CmsSketch instead lands each batch's delta in its own
``batch_id`` partition with a static INSERT OVERWRITE — the replay
REPLACES its previous delta instead of adding (the
IdempotentDlqParquet discipline applied to state), closing the crash
window a marker cannot. Register MAX is idempotent even over
duplicate rows, so HllSketch appends freely and serves through a
max-merge — the cheapest of the three.

The shared catalog lifecycle (existence check, geometry persistence
and attach-time validation, batch marker, warehouse reclaim, drop)
lives once in ``stored_artifact.StoredArtifact`` (shared with
CorpusIndex / AnnIndex / UnigramTokenizer); each sketch class carries
only its geometry, state derivation, merge algebra and serving path.

kpipe parity: the reference has no sketch surface; this is north-star
LLM-pipeline admission/monitoring machinery (SURVEY.md §2.4), the
streaming companion of d96-d98 (`queries/llm_ops15.py`).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kpipe_spark.functions import text as T
from kpipe_spark.functions.stored_artifact import StoredArtifact

log = logging.getLogger(__name__)

# Bloom geometry: m = 2^14 bits, k = 3 lanes. At the sf0.1 corpus
# (~11k bit insertions) the fill is ~50% and the measured FP rate
# ~0.12 — deliberately non-negligible so the d97 false_positive column
# exercises real collisions at oracle scale. A production gate sizes
# its geometry from the expected distinct-key count instead:
# ``BloomGate.sized_for(n_expected, fp_target)`` — do NOT copy this
# oracle-tuned default into a real admission gate.
BLOOM_M = 1 << 14
BLOOM_K = 3


def md5_lane(col: Column | str, lane: int, mod: int) -> Column:
    """Integer hash lane ``lane``: 8 hex chars of the md5 digest at
    offset 8·lane, hex→decimal, mod ``mod``. Cross-engine exact (the
    oracle mirror is ``md5_lane_sql``)."""
    return (
        F.conv(F.substring(F.md5(col), 1 + 8 * lane, 8), 16, 10).cast(
            "long"
        )
        % mod
    )


def md5_lane_sql(expr: str, lane: int, mod: int) -> str:
    """DuckDB mirror of ``md5_lane`` for oracle SQL."""
    return (
        f"CAST(concat('0x', substr(md5({expr}), {1 + 8 * lane}, 8)) "
        f"AS BIGINT) % {mod}"
    )


def bloom_bits(fp_col: Column, m: int = BLOOM_M, k: int = BLOOM_K) -> Column:
    """array<bigint> of the k bit positions for one fingerprint. The
    bits derive from the FP STRING's own md5 — one extra digest, so
    the oracle's CASE arms stay plain column expressions (d97's
    convention)."""
    return F.array(*[md5_lane(fp_col, i, m) for i in range(k)])


# BloomGate/HllSketch growth advisory: their ROW state is bounded
# (<= m bits / <= m registers per batch, max-merged at serve), but
# every update_batch APPENDS files — one per (task, append) — so a
# steady-state stream accretes small files until open()/footer
# overhead dominates a logically tiny scan (the CorpusIndex.append
# small-file argument applied to sketches). Past this many files the
# health surface advises compact(); a signal, not a hard limit.
ADVISORY_STATE_FILES = 128


class BloomGate(StoredArtifact):
    """Stored-artifact Bloom admission gate — the CorpusIndex/AnnIndex
    lifecycle discipline applied to a sketch: build ONCE from the
    corpus, persist the bit table (≤ m rows, FIXED whatever the
    corpus), probe any number of arriving batches, and keep it current
    per micro-batch with an at-least-once-safe ``update_batch``.

    Storage: one managed table ``(bit bigint)``. The geometry (m, k)
    persists as TBLPROPERTIES and ``attach`` validates it against
    explicit kwargs — probing with a different geometry than the bits
    were written under returns garbage verdicts silently (the AnnIndex
    PQ-family rule). ``kpipe.bloom.last_batch_id`` records the highest
    applied micro-batch for replay skipping.

    Guarantee: NO FALSE NEGATIVES. A document whose fingerprint was
    ever inserted probes positive forever; a bloom-negative document
    is definitely novel and can skip the expensive dup-resolution join
    entirely. False positives (~fill^k) pay the exact check and are
    resolved there — the gate trades a bounded extra-work fraction for
    never touching the corpus-sized side on the novel majority.
    """

    _PROP_PREFIX = "kpipe.bloom."
    _FAMILY_PROPS = ("m", "k")
    _KIND = "bloom-gate"
    _FAMILY_LABEL = "bloom geometry"
    _MISMATCH_HINT = (
        "probing under a different (m, k) than the stored bits were "
        "written with returns garbage verdicts silently"
    )

    def __init__(
        self,
        spark: SparkSession,
        table: str,
        m: int = BLOOM_M,
        k: int = BLOOM_K,
    ) -> None:
        self.spark = spark
        self.table = table
        self.m = m
        self.k = k
        self.advisory_state_files = ADVISORY_STATE_FILES

    # -- lifecycle ---------------------------------------------------

    @classmethod
    def sized_for(cls, n_expected: int, fp_target: float = 0.01) -> dict:
        """Geometry kwargs for an expected distinct-key count and a
        target false-positive rate at full fill: the classical optimum
        m = ceil(n·ln(1/fp)/ln(2)²), k = round((m/n)·ln 2) (Bloom
        1970). The module-default (m=2^14, k=3) is ORACLE-TUNED to
        show real collisions at sf0.1 — a production gate should size
        from its corpus instead::

            BloomGate.build(spark, docs, tbl,
                            **BloomGate.sized_for(2_000_000_000, 0.01))

        At fp=1% the table is ~9.6 bits/key — 2e9 keys is a ~2.4 GB
        bitmap as raw bits but ≤ m DISTINCT-bigint rows here, of which
        at most n·k are ever set; still join-table-sized, and the
        probe side stays k rows per batch key regardless of m.
        """
        import math

        if n_expected <= 0:
            raise ValueError("n_expected must be positive")
        if not 0.0 < fp_target < 1.0:
            raise ValueError("fp_target must be in (0, 1)")
        m = math.ceil(
            -n_expected * math.log(fp_target) / (math.log(2) ** 2)
        )
        k = max(1, round(m / n_expected * math.log(2)))
        return {"m": m, "k": k}

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        docs: DataFrame,
        table: str,
        text_col: str = "text",
        m: int = BLOOM_M,
        k: int = BLOOM_K,
    ) -> "BloomGate":
        """Set the bits of every document fingerprint in ``docs`` and
        persist. One corpus pass -> distinct fingerprints -> distinct
        bits (≤ m rows); contentless docs carry no fingerprint and set
        nothing."""
        gate = cls(spark, table, m=m, k=k)
        return cls.build_from_keys(
            spark, gate._fp_keys(docs, text_col), table, m=m, k=k
        )

    @classmethod
    def build_from_keys(
        cls,
        spark: SparkSession,
        keys: DataFrame,
        table: str,
        key_col: str = "key",
        m: int = BLOOM_M,
        k: int = BLOOM_K,
    ) -> "BloomGate":
        """Build over arbitrary string keys — e.g. the corpus's MinHash
        ``(band, bucket)`` keys, which makes the gate a sound front
        door for CorpusIndex's band join: a batch doc whose EVERY band
        key probes negative has certainly no corpus collision (no
        false negatives per key ⇒ none per doc) and never touches the
        stored index (`examples/streaming_admission.py`)."""
        gate = cls(spark, table, m=m, k=k)
        gate._replace_table(
            gate._bits_of_keys(keys, key_col), last_batch_id=-1
        )
        return gate

    # -- serving -----------------------------------------------------

    @property
    def bits_df(self) -> DataFrame:
        return self.spark.table(self.table)

    def n_bits_set(self) -> int:
        """Distinct bits set — the fill audit (FP rate ≈ fill^k)."""
        return self.bits_df.select("bit").distinct().count()

    def state_files(self) -> int:
        """Files backing the bit table — the growth axis of this
        artifact (rows are bounded at <= m; every update_batch appends
        files). A catalog listing, not a data scan."""
        return len(self.spark.table(self.table).inputFiles())

    def health(self) -> dict:
        """Monitor-facing snapshot (``Handle.add_health_probe`` shape,
        the CmsSketch symmetry — round-10 verdict item #7): fill ratio
        drives the FP-rate estimate, file count drives the compaction
        advisory."""
        n_set = self.n_bits_set()
        fill = n_set / float(self.m)
        n_files = self.state_files()
        return {
            "n_bits_set": n_set,
            "fill_ratio": round(fill, 4),
            "fp_rate_estimate": round(fill**self.k, 6),
            "state_files": n_files,
            "advisory_threshold": self.advisory_state_files,
            "compaction_advised": n_files > self.advisory_state_files,
        }

    def compact(self) -> None:
        """Rewrite the accreted per-batch bit files into a compact
        distinct file set (park-then-swap —
        ``_compact_unpartitioned_via_park`` for the containment
        contract). Set-union state: the merged form is simply DISTINCT
        bits, and racing-append duplicate rows fold away here instead
        of at every probe. File count scales with the GEOMETRY, not
        hard-coded 1: a production gate sized for billions of keys
        holds up to m set-bit rows, and funnelling those through one
        task would re-create (inverted) the very bottleneck compaction
        exists to remove. Run with streams stopped."""
        n_files = max(1, self.m // 8_000_000)  # ~8M bigint rows/file
        self._compact_unpartitioned_via_park(
            self.bits_df.select("bit").distinct().repartition(n_files)
        )

    def probe(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """(id, fp, bloom_positive int) per document with content: 1
        iff ALL k of its bits are set (d97's gated shape against the
        STORED table). Scale: the bit table broadcasts (≤ m rows
        forever); the probe explode is k rows per batch doc —
        batch-sized, never corpus-sized."""
        batch = docs.filter(F.col(text_col).isNotNull()).select(
            id_col, T.fingerprint(text_col).alias("fp")
        )
        verdicts = self.probe_keys(batch.select("fp"), "fp")
        return batch.join(verdicts, "fp").select(
            id_col, "fp", "bloom_positive"
        )

    def probe_keys(self, keys: DataFrame, key_col: str = "key") -> DataFrame:
        """(key, bloom_positive int) over the DISTINCT keys of
        ``keys``: 1 iff ALL k of the key's bits are set. Callers join
        the verdicts back to their rows (batch-sized both sides)."""
        probe = (
            keys.select(F.col(key_col).alias("key"))
            .filter(F.col("key").isNotNull())
            .distinct()
            .select(
                "key",
                F.explode(
                    bloom_bits(F.col("key"), self.m, self.k)
                ).alias("bit"),
            )
        )
        # distinct: a crash between update_batch's append and its
        # skip-marker write can leave duplicate bit rows (harmless for
        # set membership, fatal for a per-lane sum if left in)
        bits = (
            self.bits_df.select("bit")
            .distinct()
            .withColumn("_set", F.lit(1))
        )
        return (
            probe.join(F.broadcast(bits), "bit", "left")
            .groupBy("key")
            .agg(
                (F.sum(F.coalesce("_set", F.lit(0))) == self.k)
                .cast("int")
                .alias("bloom_positive"),
            )
            .withColumnRenamed("key", key_col)
        )

    # -- streaming maintenance ----------------------------------------

    def update_batch(
        self,
        docs: DataFrame,
        batch_id: int,
        text_col: str = "text",
    ) -> bool:
        """Insert the batch's fingerprint bits; returns False when the
        batch id was already applied (the foreachBatch replay no-op).

        At-least-once safety, in order of defense: (1) replays of an
        applied batch id skip on the TBLPROPERTIES marker; (2) a crash
        BETWEEN the bit append and the marker write re-applies the
        batch, which is harmless — the update is set union, and only
        genuinely new bits are appended (anti-join), so the worst case
        is duplicate rows from two racing appends, which ``probe``
        neutralizes with distinct(). Appends go through an eager
        ``util.materialize`` to sever lineage from the table being written
        (Spark refuses a plan that reads the table it inserts into).
        """
        return self.update_keys(
            self._fp_keys(docs, text_col), batch_id
        )

    def update_keys(
        self,
        keys: DataFrame,
        batch_id: int,
        key_col: str = "key",
    ) -> bool:
        """Key-level form of ``update_batch`` (same replay contract)."""
        if batch_id <= self.last_batch_id():
            return False
        from kpipe_spark.util import free_local_checkpoint, materialize

        new_bits = materialize(
            self._bits_of_keys(keys, key_col).join(
                self.bits_df.select("bit"), "bit", "anti"
            ),
            eager=True,
        )
        new_bits.write.mode("append").saveAsTable(self.table)
        # the appended rows now live in the table; the per-batch
        # checkpoint would otherwise outlive the call (one leaked RDD
        # per micro-batch — wave-10 lifecycle, OPTIMIZATION_r13)
        free_local_checkpoint(new_bits)
        # under foreachBatch, `keys` belongs to a CLONED session and
        # the append refreshes only THAT session's relation cache; a
        # serving read through self.spark would otherwise list the
        # pre-append files and probe() could return a false negative.
        # (_set_props' ALTER TABLE happens to invalidate the cache too,
        # but correctness must not hang off that side effect — and the
        # crash window between append and marker would reopen it.)
        self.spark.sql(f"REFRESH TABLE {self.table}")
        self._set_props(last_batch_id=batch_id)
        return True

    # -- internals ----------------------------------------------------

    @staticmethod
    def _fp_keys(docs: DataFrame, text_col: str) -> DataFrame:
        return docs.filter(F.col(text_col).isNotNull()).select(
            T.fingerprint(text_col).alias("key")
        )

    def _bits_of_keys(self, keys: DataFrame, key_col: str) -> DataFrame:
        return (
            keys.select(F.col(key_col).alias("key"))
            .filter(F.col("key").isNotNull())
            .distinct()
            .select(
                F.explode(
                    bloom_bits(F.col("key"), self.m, self.k)
                ).alias("bit")
            )
            .distinct()
        )


# CMS geometry: 4 independent lanes × 1024 cells = 4096 counters —
# fixed, whatever the corpus. Width trades overestimate for memory:
# E[overestimate] ≤ total_occurrences / width per lane, and the min
# over 4 lanes concentrates sharply. (The d96 query imports these.)
CMS_LANES = 4
CMS_WIDTH = 1024

# delta-partition advisory threshold (AnnIndex's append-advisory
# discipline applied to the sketch): each micro-batch adds one
# batch_id partition, serving sums across all of them, and past a few
# hundred the per-partition file/footer overhead dominates a frame
# that is logically ≤ lanes×width rows. 128 partitions ≈ a day of
# ~11-minute triggers — compact() well before that on any real
# cadence; the threshold is a health signal, not a hard limit.
ADVISORY_DELTA_PARTITIONS = 128


class CmsSketch(StoredArtifact):
    """Stored-artifact count-min sketch — the COUNTER-state member of
    the sketch family, whose streaming maintenance is strictly harder
    than BloomGate's: counter addition is NOT idempotent (replaying a
    micro-batch under at-least-once delivery would double-count every
    token), so the batch-id skip marker alone is not enough — a crash
    between the counter merge and the marker write re-adds the batch.

    The fix is the repo's IdempotentDlqParquet discipline applied to
    STATE (`pipeline/sinks.py:80`): each micro-batch's counter DELTA
    lands in its own ``batch_id=<id>`` partition via a STATIC
    ``INSERT OVERWRITE ... PARTITION (batch_id = N)``, and Structured
    Streaming replays a failed batch under the SAME batch id, so the
    replay REPLACES its previous delta instead of adding to it —
    idempotent by construction, with no marker and no crash window.
    Serving reads ``sketch_df``: sum over partitions grouped by
    (lane, cell) — ≤ lanes×width rows out, whatever the corpus.

    Partition count grows one per micro-batch (bounded by batch
    cadence, prunable by batch_id); ``compact()`` is the maintenance
    job that merges history into the base partition — run it with
    streams stopped, since the merge moves rows across the partitions
    that carry the idempotency.

    Geometry (lanes, width) persists as TBLPROPERTIES; ``attach``
    validates against explicit kwargs (the BloomGate/AnnIndex family
    rule — probing cells hashed under a different width silently
    reads the wrong counters).
    """

    _PROP_PREFIX = "kpipe.cms."
    _FAMILY_PROPS = ("lanes", "width")
    _KIND = "cms-sketch"
    _FAMILY_LABEL = "cms geometry"
    _MISMATCH_HINT = (
        "probing cells hashed under a different geometry than the "
        "stored counters silently reads the wrong cells"
    )

    def __init__(
        self,
        spark: SparkSession,
        table: str,
        lanes: int = CMS_LANES,
        width: int = CMS_WIDTH,
    ) -> None:
        self.spark = spark
        self.table = table
        self.lanes = lanes
        self.width = width
        self.advisory_delta_partitions = ADVISORY_DELTA_PARTITIONS

    # -- lifecycle ---------------------------------------------------

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        docs: DataFrame,
        table: str,
        text_col: str = "text",
        lanes: int = CMS_LANES,
        width: int = CMS_WIDTH,
    ) -> "CmsSketch":
        """Count the base corpus into the ``batch_id=-1`` partition."""
        sk = cls(spark, table, lanes=lanes, width=width)
        sk._replace_table(
            sk._cells_of(docs, text_col).withColumn(
                "batch_id", F.lit(-1).cast("long")
            ),
            partition_by="batch_id",
        )
        return sk

    # -- streaming maintenance -----------------------------------------

    def update_batch(
        self, docs: DataFrame, batch_id: int, text_col: str = "text"
    ) -> None:
        """Land the batch's counter delta in its own partition. A
        replay of the same batch id overwrites the SAME partition with
        the SAME delta — the no-marker, no-crash-window idempotency
        (docstring above). Safe to call with an all-contentless batch:
        the static partition spec overwrites unconditionally, so an
        empty delta is the tombstone that clears a stale pre-crash
        attempt (the DLQ tombstone rule)."""
        view = f"kpipe_cms_delta_{abs(hash((self.table, batch_id))) % 10**8}"
        delta = self._cells_of(docs, text_col)
        # run view + INSERT on the BATCH's session, not the sketch's: a
        # foreachBatch df belongs to a cloned session, and temp views
        # are session-local (the table catalog is shared) — registering
        # the view there and INSERTing here reads TABLE_OR_VIEW_NOT_FOUND
        sess = delta.sparkSession
        delta.createOrReplaceTempView(view)
        try:
            sess.sql(
                f"INSERT OVERWRITE TABLE {self.table} "
                f"PARTITION (batch_id = {int(batch_id)}) "
                f"SELECT lane, cell, c FROM {view}"
            )
        finally:
            sess.catalog.dropTempView(view)
        # a cloned-session write refreshes ITS relation cache; serving
        # reads through the sketch's own session
        self.spark.sql(f"REFRESH TABLE {self.table}")
        # growth advisory (ann_index.append's discipline): the count
        # is a catalog listing, not a data scan, and the WARNING is
        # the log-side twin of the health() field
        n_deltas = self.delta_partitions()
        if n_deltas > self.advisory_delta_partitions:
            log.warning(
                "CmsSketch %s holds %d per-batch delta partitions "
                "(advisory threshold %d) — run compact() (streams "
                "stopped, checkpoints intact) to merge history into "
                "the base partition before per-partition file overhead "
                "dominates a %dx%d-counter frame",
                self.table,
                n_deltas,
                self.advisory_delta_partitions,
                self.lanes,
                self.width,
            )

    def delta_partitions(self) -> int:
        """Number of per-batch delta partitions currently stored
        (``batch_id >= 0`` — the count ``compact()`` resets to 0). A
        catalog partition listing, not a data scan."""
        return sum(
            1
            for r in self.spark.sql(
                f"SHOW PARTITIONS {self.table}"
            ).collect()
            if not r[0].endswith("=-1")
        )

    def health(self) -> dict:
        """Health snapshot for wiring into a streaming ``Handle``
        (``Handle.add_health_probe`` — the trigger signal for the
        unbounded-growth remedy ``compact()``)."""
        n = self.delta_partitions()
        return {
            "delta_partitions": n,
            "advisory_threshold": self.advisory_delta_partitions,
            "compaction_advised": n > self.advisory_delta_partitions,
        }

    def applied_batches(self) -> list[int]:
        return sorted(
            r["batch_id"]
            for r in self.spark.table(self.table)
            .select("batch_id")
            .distinct()
            .collect()
        )

    def compact(self) -> None:
        """Merge every per-batch delta partition into the base
        partition (``batch_id = -1``) and drop the rest — the offline
        maintenance job that stops the partition count growing with
        stream lifetime. One sketch-sized job: the input is ≤
        partitions×lanes×width counter rows, never the corpus.

        Run with streams STOPPED and their checkpoints INTACT: the
        merge moves rows across the partitions that carry the replay
        idempotency, so a batch id replayed AFTER compaction would
        re-add a delta that is already inside the base (Structured
        Streaming only replays uncommitted batch ids, so an intact
        checkpoint never does this; a checkpoint reset after
        compaction requires a fresh sketch too).

        Failure containment (CorpusIndex.compact()'s park-then-swap
        idea, adapted because a RENAME chain breaks on PARTITIONED
        managed tables — each partition's catalog entry keeps its
        pre-rename location and the live name reads empty): the full
        merged state is first PARKED in a ``__compacting`` side table,
        then the live table is replaced in one whole-table INSERT
        OVERWRITE reading from the park. A crash mid-overwrite can
        leave the live table partial, but the complete merged state
        still exists under the park name — recovery is simply calling
        compact() again: a park that EXISTS in the catalog is complete
        (saveAsTable registers the table only after its write
        finished), so the re-run RESUMES the swap from the park
        instead of re-deriving from the possibly-partial live table —
        re-deriving would overwrite the only surviving copy with
        garbage. (Corollary: resume a crashed compact() BEFORE
        restarting streams — the swap replaces live with the parked
        state, so deltas appended after the crash would be lost. This
        is now ENFORCED, not just documented: the park records the max
        batch id it merged, and recovery raises if the live table has
        grown past it instead of silently overwriting those deltas.)
        The live table is never dropped or recreated, so the geometry
        TBLPROPERTIES survive untouched.
        """
        from kpipe_spark.util import reclaim_orphaned_table_location

        tmp = f"{self.table}__compacting"
        merged_prop = f"{self._PROP_PREFIX}compact_merged_max_batch_id"
        if not self.spark.catalog.tableExists(tmp):
            # no park: normal path — derive the merged state from the
            # live table and park it (reclaim first: a crash DURING the
            # park write leaves an orphaned directory, no catalog entry)
            reclaim_orphaned_table_location(self.spark, tmp)
            merged_max = max(self.applied_batches(), default=-1)
            (
                self.sketch_df.withColumn(
                    "batch_id", F.lit(-1).cast("long")
                )
                .write.mode("overwrite")
                .partitionBy("batch_id")
                .saveAsTable(tmp, format="parquet")
            )
            self.spark.sql(
                f"ALTER TABLE {tmp} SET TBLPROPERTIES "
                f"('{merged_prop}' = '{int(merged_max)}')"
            )
        else:
            # crash-recovery path — the park holds the one complete
            # merged copy; skip straight to the swap (docstring above).
            # But first: if streams were (incorrectly) restarted after
            # the crash, the live table holds deltas the park predates
            # (streaming batch ids strictly increase); swapping would
            # silently drop them, so raise and let the operator decide.
            park_max = next(
                (
                    int(r["value"])
                    for r in self.spark.sql(
                        f"SHOW TBLPROPERTIES {tmp}"
                    ).collect()
                    if r["key"] == merged_prop
                ),
                None,
            )
            if park_max is None:
                # a park with NO high-water marker: under CURRENT code
                # the marker is written right after the park data and
                # BEFORE the live overwrite, so an unmarked park means
                # the crash hit before the marker write — the swap
                # never started and the live table is complete; DROP
                # the park and re-run compact(). The manual-audit
                # guidance is reserved for LEGACY parks (pre-marker
                # code ran the overwrite without a marker, so a
                # mid-overwrite crash there leaves the park as the
                # only complete merged copy). Refusing is still right:
                # the code cannot tell which era produced the park,
                # but the operator usually can (round-10 ADVICE —
                # don't send every operator to a counter audit).
                raise RuntimeError(
                    f"compact() recovery refused for {self.table}: the "
                    f"leftover park {tmp} carries no {merged_prop} "
                    "marker. If this park was produced by CURRENT code "
                    "(marker is written before the live overwrite), "
                    f"the crash preceded the marker and {self.table} "
                    f"is intact — DROP {tmp} and re-run compact(). "
                    "Only a park left by pre-marker code needs the "
                    "manual audit (compare summed counters per applied "
                    "batch id) before dropping it, because that era "
                    "could crash mid-overwrite leaving the park as the "
                    "only complete merged copy."
                )
            newer = [b for b in self.applied_batches() if b > park_max]
            if newer:
                raise RuntimeError(
                    f"compact() recovery refused for {self.table}: the "
                    f"leftover park {tmp} merged batches up to "
                    f"{park_max}, but the live table now holds newer "
                    f"batch ids {newer} — streams were restarted after "
                    "a crashed compact, and resuming the swap would "
                    "silently drop those deltas. Safe fold (do NOT "
                    f"drop the park — if the crash was mid-overwrite, "
                    f"{tmp} is the only complete merged copy and the "
                    "live table may be partial): with streams stopped, "
                    f"INSERT INTO {tmp} the live partitions WHERE "
                    f"batch_id > {park_max}, set '{merged_prop}' = "
                    f"'{max(newer)}' on {tmp}, then re-run compact() — "
                    "recovery resumes the swap with those deltas "
                    "preserved as their own partitions, and a further "
                    "compact() folds them into the base."
                )
        # the overwrite must replace EVERY partition: under dynamic
        # partitionOverwriteMode it would only replace batch_id=-1 and
        # leave the already-merged deltas to double-count. A cloned
        # session (shared catalog, private SQLConf — the
        # CorpusIndex.compact() trick) pins static mode without
        # touching the caller's conf.
        replacer = self.spark.newSession()
        replacer.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        replacer.sql(
            f"INSERT OVERWRITE TABLE {self.table} "
            f"SELECT lane, cell, c, batch_id FROM {tmp}"
        )
        # the overwrite refreshed the CLONE's relation cache, not the
        # caller session's — without this the caller still lists the
        # pre-compaction files and reads FILE_NOT_EXIST
        self.spark.sql(f"REFRESH TABLE {self.table}")
        self.spark.sql(f"DROP TABLE {tmp}")

    # -- serving -----------------------------------------------------

    @property
    def sketch_df(self) -> DataFrame:
        """(lane, cell, c): counters summed across the base + every
        applied batch — ≤ lanes×width rows whatever the corpus."""
        return (
            self.spark.table(self.table)
            .groupBy("lane", "cell")
            .agg(F.sum("c").alias("c"))
        )

    def estimate(
        self, tokens: DataFrame, token_col: str = "t"
    ) -> DataFrame:
        """(token, cms_estimate) for the DISTINCT tokens of ``tokens``:
        min over lanes of the token's cell counters (a never-counted
        cell reads 0, so an unseen token estimates 0 — the CMS never
        underestimates, pinned in tests)."""
        probe = (
            tokens.select(F.col(token_col).alias("t"))
            .filter(F.col("t").isNotNull())
            .distinct()
            .select(
                "t",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(i).alias("lane"),
                                md5_lane(F.col("t"), i, self.width).alias(
                                    "cell"
                                ),
                            )
                            for i in range(self.lanes)
                        ]
                    )
                ).alias("lc"),
            )
            .select("t", "lc.lane", "lc.cell")
        )
        sketch = self.sketch_df
        return (
            probe.join(F.broadcast(sketch), ["lane", "cell"], "left")
            .groupBy("t")
            .agg(
                F.min(F.coalesce("c", F.lit(0)))
                .cast("long")
                .alias("cms_estimate")
            )
            .withColumnRenamed("t", token_col)
        )

    # -- internals ----------------------------------------------------

    def _cells_of(self, docs: DataFrame, text_col: str) -> DataFrame:
        content = F.col(text_col).isNotNull() & F.col(text_col).rlike(
            r"\S"
        )
        tok = docs.filter(content).select(
            F.explode(T.tokens(text_col)).alias("t")
        )
        lanes = F.array(
            *[
                F.struct(
                    F.lit(i).alias("lane"),
                    md5_lane(F.col("t"), i, self.width).alias("cell"),
                )
                for i in range(self.lanes)
            ]
        )
        return (
            tok.select(F.explode(lanes).alias("lc"))
            .select("lc.lane", "lc.cell")
            .groupBy("lane", "cell")
            .agg(F.count(F.lit(1)).alias("c"))
        )


# HLL geometry: m = 256 registers. Matches llm_ops15.d98 (the
# oracle-graded query form) so the artifact can be audited against it.
HLL_M = 256


class HllSketch(StoredArtifact):
    """Stored-artifact HyperLogLog registers — the CARDINALITY member
    of the sketch trio, and the third distinct at-least-once mechanism,
    matched to its merge algebra:

    - BloomGate: set UNION → naturally idempotent (marker is an
      optimization; crash window harmless).
    - CmsSketch: counter ADD → not idempotent → per-batch partition
      overwrite (replay replaces).
    - HllSketch: register MAX → append-only is safe EVEN WITH
      DUPLICATE ROWS, because serving takes the max over everything —
      a crash between the append and the skip marker re-appends the
      same registers and changes no maximum. The cheapest of the
      three: no partition bookkeeping, no distinct() needed.

    Storage: one managed table ``(bucket, mrho)`` — ≤ m rows per
    applied batch, aggregated to ≤ m rows at serve time; geometry (m)
    persists as TBLPROPERTIES with attach-time validation (bucket ids
    hashed under a different m read the wrong registers silently).

    The register derivation is bit-identical to the oracle-graded
    ``d98_hll_distinct_tokens`` (same md5 lanes, same integer rho), so
    an artifact built on a corpus reproduces d98's estimate exactly —
    pinned in tests.
    """

    _PROP_PREFIX = "kpipe.hll."
    _FAMILY_PROPS = ("m",)
    _KIND = "hll-sketch"
    _FAMILY_LABEL = "hll geometry"
    _MISMATCH_HINT = (
        "buckets hashed under a different m read the wrong registers "
        "silently"
    )

    def __init__(
        self, spark: SparkSession, table: str, m: int = HLL_M
    ) -> None:
        self.spark = spark
        self.table = table
        self.m = m
        self.advisory_state_files = ADVISORY_STATE_FILES

    # -- lifecycle ---------------------------------------------------

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        docs: DataFrame,
        table: str,
        text_col: str = "text",
        m: int = HLL_M,
    ) -> "HllSketch":
        sk = cls(spark, table, m=m)
        sk._replace_table(
            sk._registers_of(docs, text_col), last_batch_id=-1
        )
        return sk

    # -- streaming maintenance -----------------------------------------

    def update_batch(
        self, docs: DataFrame, batch_id: int, text_col: str = "text"
    ) -> bool:
        """Append the batch's registers; returns False on an already-
        applied batch id. The marker is purely a cost saver — a crash
        between the append and the marker write re-appends identical
        rows, and MAX over duplicates is the same MAX."""
        if batch_id <= self.last_batch_id():
            return False
        from kpipe_spark.util import free_local_checkpoint, materialize

        regs = materialize(self._registers_of(docs, text_col), eager=True)
        regs.write.mode("append").saveAsTable(self.table)
        # per-batch checkpoint superseded by the append (wave-10
        # lifecycle)
        free_local_checkpoint(regs)
        # cloned-session append (see BloomGate.update_keys): refresh the
        # artifact session's relation cache so registers_df can't serve
        # a stale (under-counting) file listing
        self.spark.sql(f"REFRESH TABLE {self.table}")
        self._set_props(last_batch_id=batch_id)
        return True

    # -- serving -----------------------------------------------------

    @property
    def registers_df(self) -> DataFrame:
        """(bucket, mrho): pairwise-max merged over the base corpus
        and every applied batch — ≤ m rows out."""
        return (
            self.spark.table(self.table)
            .groupBy("bucket")
            .agg(F.max("mrho").alias("mrho"))
        )

    def state_rows_and_files(self) -> tuple[int, int]:
        """(rows, files) backing the register table — BOTH grow with
        applied batches (<= m rows and >= 1 file per update_batch),
        while the served merge stays <= m rows."""
        t = self.spark.table(self.table)
        return t.count(), len(t.inputFiles())

    def health(self) -> dict:
        """Monitor-facing snapshot (the CmsSketch/BloomGate symmetry —
        round-10 verdict item #7): accreted rows/files vs the register
        budget, with the compaction advisory on the file count."""
        n_rows, n_files = self.state_rows_and_files()
        return {
            "state_rows": n_rows,
            "register_budget": self.m,
            "state_files": n_files,
            "advisory_threshold": self.advisory_state_files,
            "compaction_advised": n_files > self.advisory_state_files,
        }

    def compact(self) -> None:
        """Rewrite the accreted per-batch registers into the <= m
        max-merged rows (park-then-swap —
        ``_compact_unpartitioned_via_park`` for the containment
        contract). MAX-merge state: the merged form IS the serving
        aggregation, so estimates are bit-identical before and after.
        Run with streams stopped."""
        self._compact_unpartitioned_via_park(
            self.registers_df.coalesce(1)
        )

    def distinct_estimate(self) -> float:
        """The HLL estimate (Flajolet et al. 2007) with the standard
        small-range linear-counting correction — computed from the ≤ m
        merged registers (a bounded collect, the monitor read path).
        Mirrors d98's arithmetic exactly."""
        rows = self.registers_df.collect()
        m = self.m
        n_hit = len(rows)
        s_hit = sum(2.0 ** (-r["mrho"]) for r in rows)
        raw = (
            0.7213 / (1 + 1.079 / float(m)) * m * m
            / (s_hit + (m - n_hit))
        )
        zeros = m - n_hit
        if raw <= 2.5 * m and zeros > 0:
            import math

            return m * math.log(float(m) / zeros)
        return raw

    # -- internals ----------------------------------------------------

    def _registers_of(self, docs: DataFrame, text_col: str) -> DataFrame:
        content = F.col(text_col).isNotNull() & F.col(text_col).rlike(
            r"\S"
        )
        tok = (
            docs.filter(content)
            .select(F.explode(T.tokens(text_col)).alias("t"))
            .distinct()
        )
        hashed = tok.select(
            md5_lane(F.col("t"), 0, self.m).alias("bucket"),
            md5_lane(F.col("t"), 1, 1 << 32).alias("x"),
        )
        rho = F.when(F.col("x") == 0, F.lit(33)).otherwise(
            F.lit(33) - F.length(F.bin("x"))
        )
        return (
            hashed.select("bucket", rho.alias("rho"))
            .groupBy("bucket")
            .agg(F.max("rho").alias("mrho"))
        )
