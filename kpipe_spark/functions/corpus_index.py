"""CorpusIndex — the stored near-dup index a production corpus runs
incremental admission against, packaged as an API.

The day-to-day 100 TB dedup loop is not "dedup the corpus" (paid once)
but "admit today's batch against what we already have". The artifact
that makes each admission batch-sized is the MinHash band table
``(doc_id, band, bucket)`` materialized BUCKETED on the join key:

    CorpusIndex.build(spark, corpus, "corpus_bands")   # paid once
    ledger = idx.admit(batch)       # batch-sized signatures, equi-join
                                    # into the bucketed table — the
                                    # corpus side plans NO Exchange
    idx.append(admitted_docs)       # keep the index current

``admit`` emits the keep-one admission ledger (d54's semantics with
the classification generalized off the fixture's id%4 convention):
one row per batch doc with corpus/batch partner counts, the lowest
partner id, and the keep-one ``admitted`` verdict — a doc is admitted
iff nothing in the corpus collides with it and no batch partner with
a lower id claims the duplicate group.

Reference parity: kpipe's pipeline surface has no dedup index
(/root/reference/README.md:190-208 declares analytics out of scope);
this is north-star LLM-pipeline surface (SURVEY.md §2.4), the API
form of d54/p04's oracle-checked query shape.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

# append() advisory threshold: a freshly-compacted index holds one file
# per bucket; past this many files per bucket the open()/footer overhead
# of the accreted small files starts to dominate the admit join's scan
ADVISORY_FILES_PER_BUCKET = 8

from kpipe_spark.functions.dedup import (
    MINHASH_BANDS,
    MINHASH_NUM_HASHES,
    minhash_bands_df,
    minhash_signature_df,
)
from kpipe_spark.functions.stored_artifact import StoredArtifact


class CorpusIndex(StoredArtifact):
    """Handle to a stored, bucketed MinHash band table.

    The MinHash family (num_hashes, bands, shingle_k) is part of the
    index's identity — admitting with a different family than the one
    the index was built with would silently miss every collision, so
    the parameters travel with the handle and ``append`` re-uses them.
    """

    _KIND = "index"
    _FAMILY_LABEL = "MinHash family"
    _MISMATCH_HINT = (
        "admitting with a different family than the index was built "
        "with would silently miss every collision"
    )

    def __init__(
        self,
        spark: SparkSession,
        table: str,
        num_hashes: int = MINHASH_NUM_HASHES,
        bands: int = MINHASH_BANDS,
        shingle_k: int = 3,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> None:
        self.spark = spark
        self.table = table
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_k = shingle_k
        self.text_col = text_col
        self.id_col = id_col
        # append() warns once the index accretes more than this many
        # files per bucket — the steady-state operator gets told to
        # compact() instead of having to remember (at 100 TB the index
        # sees thousands of admission batches; small-file accretion
        # makes the index itself the straggler of every admit)
        self.advisory_files_per_bucket = ADVISORY_FILES_PER_BUCKET

    # -- construction ---------------------------------------------------------

    # family + bucket parameters persisted as table properties at build
    # time, so attach()/append() read the table's OWN identity instead
    # of trusting the caller (a family mismatch silently yields zero
    # collisions — exactly the failure mode the class docstring warns
    # about) or string-parsing DESCRIBE output (brittle across Spark
    # catalog-output formats)
    _PROP_PREFIX = "kpipe.index."
    _FAMILY_PROPS = ("num_hashes", "bands", "shingle_k")

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        corpus: DataFrame,
        table: str,
        num_buckets: int = 32,
        **family,
    ) -> "CorpusIndex":
        """Index a corpus: signatures -> bands -> bucketed table on
        (band, bucket). The one corpus-sized pass; every later admit
        joins into the result without re-shuffling it."""
        idx = cls(spark, table, **family)
        from kpipe_spark.util import write_bucketed

        write_bucketed(
            idx._bands_of(corpus),
            table,
            keys=["band", "bucket"],
            num_buckets=num_buckets,
        )
        # release_seq starts the fold/append cadence marker: append()
        # bumps it, ClusterIndex.refresh_incremental stamps the value
        # it folded and refuses when this index has moved ahead (a
        # batch appended but never folded into the components)
        idx._set_props(num_buckets=num_buckets, release_seq=0)
        return idx

    def release_seq(self) -> int:
        """Monotone release marker: bumped by every ``append``. A
        pre-round-12 table has no marker and reads 0 — the release
        discipline is enforced from the first stamped append onward."""
        return int(self._read_props().get("release_seq", 0))

    def _bands_of(self, docs: DataFrame) -> DataFrame:
        return minhash_bands_df(
            minhash_signature_df(
                docs,
                self.text_col,
                self.id_col,
                self.num_hashes,
                self.shingle_k,
            ),
            self.id_col,
            self.num_hashes,
            self.bands,
        )

    @property
    def bands_df(self) -> DataFrame:
        """The stored (id, band, bucket) table — bucketed, so equi-
        joins on (band, bucket) plan no Exchange on this side."""
        return self.spark.table(self.table)

    def band_keys(self, docs: DataFrame | None = None) -> DataFrame:
        """(id, key) — one row per (doc, band) with the band-join key
        as a single string, for sketch gates in FRONT of the stored
        index (``functions/sketches.BloomGate``): collisions happen
        exactly on key equality, so a doc whose EVERY key misses the
        corpus key set cannot collide and need never touch the index.
        ``docs=None`` keys the STORED table (the gate's build input)."""
        frame = self.bands_df if docs is None else self._bands_of(docs)
        return frame.select(
            self.id_col,
            F.concat_ws(":", "band", "bucket").alias("key"),
        )

    # -- the admission loop ---------------------------------------------------

    def admit(self, batch: DataFrame) -> DataFrame:
        """Keep-one admission ledger for a new batch: one row per batch
        doc — (id, n_corpus_dups, n_batch_dups, min_dup_id, admitted).

        admitted == no corpus collision AND no batch partner with a
        lower id (the group's lowest id carries the batch's one copy
        forward). Batch-sized signature work; the corpus side is the
        bucketed artifact (two joins unioned AFTER so the bucketed
        side stays exchange-free — see incremental_minhash_partners'
        docstring for why a pre-join union would re-shuffle it)."""
        from kpipe_spark.util import materialize

        ids = F.col(self.id_col)
        new_bands = materialize(self._bands_of(batch), eager=True)
        new_side = new_bands.select(
            ids.alias("id_new"), "band", "bucket"
        )

        def other(frame: DataFrame, origin: str) -> DataFrame:
            return frame.select(
                ids.alias("id_other"),
                "band",
                "bucket",
                F.lit(origin == "corpus").alias("in_corpus"),
            )

        # id_new == id_other is a SELF-pair only on the batch side; a
        # same-id collision against the CORPUS means "this doc is
        # already indexed" (a re-ingest) and must count as a dup —
        # without it, re-admitting an appended batch reports everything
        # novel again
        partners = (
            new_side.join(other(self.bands_df, "corpus"), ["band", "bucket"])
            .unionByName(
                new_side.join(other(new_bands, "batch"), ["band", "bucket"])
            )
            .filter(
                F.col("in_corpus") | (F.col("id_new") != F.col("id_other"))
            )
            .select("id_new", "id_other", "in_corpus")
            .distinct()
        )
        in_c = F.col("in_corpus")
        ledger = (
            batch.select(ids)
            .join(partners, ids == F.col("id_new"), "left")
            .groupBy(self.id_col)
            .agg(
                F.sum(F.when(in_c, 1).otherwise(0)).alias("n_corpus_dups"),
                F.sum(F.when(~in_c, 1).otherwise(0)).alias("n_batch_dups"),
                F.min("id_other").alias("min_dup_id"),
                F.coalesce(
                    F.max(in_c | (F.col("id_other") < F.col("id_new"))),
                    F.lit(False),
                ).alias("_lose"),
            )
        )
        return ledger.select(
            self.id_col,
            "n_corpus_dups",
            "n_batch_dups",
            "min_dup_id",
            (~F.col("_lose")).alias("admitted"),
        )

    def _num_buckets(self) -> int:
        props = self._read_props()
        if "num_buckets" in props:
            return props["num_buckets"]
        # Legacy fallback: a band table bucketed by a prior version of
        # this code (or written directly via util.write_bucketed)
        # carries no TBLPROPERTIES but IS correctly bucketed — probe
        # the catalog's DESCRIBE output the way those versions did,
        # then backfill the property so the probe runs once per table.
        for r in self.spark.sql(f"DESCRIBE FORMATTED {self.table}").collect():
            if (r["col_name"] or "").strip() == "Num Buckets":
                n = int(str(r["data_type"]).strip())
                self._set_props(num_buckets=n)
                return n
        raise ValueError(
            f"{self.table} carries no {self._PROP_PREFIX}num_buckets "
            "property and the catalog reports no bucket spec — "
            "append/compact require a bucketed band table (appending "
            "unbucketed bands would silently break the exchange-free "
            "admit join)"
        )

    def append(self, admitted_docs: DataFrame) -> int:
        """Add admitted docs' bands to the index (same family, same
        bucket spec — Spark validates the bucketing matches on append),
        so the next batch collides against them.

        Returns the index's current file count, and WARNs once that
        count exceeds ``advisory_files_per_bucket × num_buckets`` —
        each append adds a file per (task, bucket), so a steady-state
        admission loop accretes small files until ``compact()`` is the
        difference between a bucket-pruned scan and a footer-reading
        straggler. The count is a catalog file listing, not a data
        scan."""
        n_buckets = self._num_buckets()
        # fingerprint BEFORE the data lands: a lazily-derived batch
        # frame (e.g. streaming_admission's admit-ledger join) flips to
        # EMPTY once its docs are indexed, so a post-write agg would
        # stamp (0, 0) instead of the batch's identity
        n_b, h_b = self._batch_fingerprint(admitted_docs)
        (
            self._bands_of(admitted_docs)
            .write.mode("append")
            .bucketBy(n_buckets, "band", "bucket")
            .saveAsTable(self.table, format="parquet")
        )
        # The write executes in admitted_docs' OWN session — inside a
        # foreachBatch sink that is a per-batch CLONE, not self.spark,
        # and self.spark's cached file listing for the table goes
        # stale (measured: the handle session kept reading the
        # pre-append row count while the batch session saw the new
        # rows). Refresh so the next admit() through this handle
        # collides against what was just appended.
        self.spark.catalog.refreshTable(self.table)
        # bump the release marker AFTER the data landed: the cadence is
        # fold-then-append, so components at folded_release_seq == K
        # and this index moving to K+1 is the consistent idle state;
        # an append that never gets folded leaves the index AHEAD and
        # the next refresh_incremental refuses with the repair recipe.
        # The batch fingerprint rides in the SAME ALTER TABLE (one
        # statement — marker and identity can't diverge), so the
        # data-landed-but-marker-lost crash window is detectable:
        # ``append_if_missing`` re-stamps instead of re-appending.
        self._set_props(
            release_seq=self.release_seq() + 1,
            last_append_n=n_b,
            last_append_hash=h_b,
        )
        n_files = len(self.spark.table(self.table).inputFiles())
        if n_files > self.advisory_files_per_bucket * n_buckets:
            log.warning(
                "CorpusIndex %s holds %d files across %d buckets "
                "(advisory threshold %d/bucket) — run compact() to "
                "rewrite one file per bucket before small-file "
                "open/footer overhead dominates admit scans",
                self.table,
                n_files,
                n_buckets,
                self.advisory_files_per_bucket,
            )
        return n_files

    def append_if_missing(self, batch: DataFrame) -> str:
        """Crash-safe (idempotent) form of ``append`` for the
        append/marker crash window (round-12 ADVICE): ``append`` lands
        the band rows first and bumps ``release_seq`` + the batch
        fingerprint in a separate statement, so a crash between them
        leaves DATA AHEAD OF MARKER — and blindly re-appending would
        duplicate every band row of the batch.

        This method checks which state the table is actually in (one
        batch-sized presence join into the bucketed band table, equi
        on (band, bucket) with the id as a post-join filter — the same
        exchange-free shape ``admit`` plans; joining on all three
        columns would re-partition the bucketed side, an index-sized
        shuffle) and repairs accordingly:

        - no band row of the batch present  → full ``append``
          (returns ``"appended"``),
        - all present, fingerprint already stamped for THIS batch →
          nothing to do (returns ``"already_appended"``),
        - all present, fingerprint stale/absent → the marker bump was
          the thing the crash lost: re-stamp release_seq + fingerprint
          WITHOUT touching data (returns ``"restamped"``),
        - partially present → the append job itself died mid-commit;
          raises with the rebuild recipe (parquet's committer makes
          this near-impossible on one table, but silently guessing
          either way would corrupt the index).

        Use it on the replay path only (``ClusterIndex.update_batch``
        routes through it exactly when its fold reported a replay);
        the steady-state path keeps the cheap blind ``append``."""
        from kpipe_spark.util import free_local_checkpoint, materialize

        bands = materialize(self._bands_of(batch), eager=True)
        try:
            total = bands.count()
            present = self._batch_presence(bands).count()
        finally:
            # bands exists only for the two counts; the replay path runs
            # once per crashed batch, and unreleased checkpoints outlive
            # the call (OPTIMIZATION_r13 wave 10)
            free_local_checkpoint(bands)
        missing = total - present
        if missing == total:
            self.append(batch)
            return "appended"
        if missing > 0:
            raise RuntimeError(
                f"append_if_missing({self.table}): {missing} of {total} "
                "band rows of this batch are absent but the rest "
                "already landed — a partially committed append. "
                "Rebuild the index from the full corpus "
                "(CorpusIndex.build) rather than guessing which half "
                "to trust."
            )
        n_b, h_b = self._batch_fingerprint(batch)
        props = self._read_props()
        stamped = (props.get("last_append_n"), props.get("last_append_hash"))
        if stamped == (n_b, h_b):
            return "already_appended"
        self._set_props(
            release_seq=self.release_seq() + 1,
            last_append_n=n_b,
            last_append_hash=h_b,
        )
        return "restamped"

    def _batch_presence(self, bands: DataFrame) -> DataFrame:
        """Distinct (id_new, band, bucket) rows of a batch's bands that
        ALREADY exist in the stored table — equi-join on (band, bucket)
        only, so the bucketed corpus side plans no Exchange (admit's
        shape; pinned in tests). The id match lives INSIDE the
        aggregate, not as a post-join filter: Catalyst canonicalizes a
        bare ``id_new = id_other`` filter into a third join key, which
        re-partitions the bucketed side on a key set the bucket spec
        doesn't satisfy — the index-sized shuffle this method exists
        to avoid."""
        new_side = bands.select(
            F.col(self.id_col).alias("id_new"), "band", "bucket"
        )
        return (
            new_side.join(
                self.bands_df.select(
                    F.col(self.id_col).alias("id_other"), "band", "bucket"
                ),
                ["band", "bucket"],
            )
            .groupBy("id_new", "band", "bucket")
            .agg(
                F.max(F.col("id_other") == F.col("id_new")).alias("_hit")
            )
            .filter("_hit")
            .drop("_hit")
        )

    def compact(self) -> None:
        """Rewrite the band table into one file per bucket, preserving
        the bucket spec (and therefore the exchange-free admit join).

        Every ``append`` batch adds its own file per (task, bucket); at
        100 TB steady state — thousands of admission batches — the
        index accretes small files until open()/footer overhead makes
        the index itself the straggler of every admit (the stored-state
        analogue of kpipe's offset-ledger hygiene,
        /root/reference/docs/OFFSET-INVARIANTS.md). Compaction is one
        index-sized job, NOT corpus-sized: ``repartition(n, band,
        bucket)`` uses the same Murmur3 hash partitioning as the bucket
        spec, so each output task holds exactly one bucket's rows and
        the bucketed write emits one file per bucket.

        Failure containment: the rewrite goes to a side table, and the
        swap is a RENAME chain (live → backup, compacted → live, drop
        backup) — the index's rows exist under SOME catalog name at
        every instant, a failed rewrite leaves the live index
        untouched, and recovery from a crash mid-swap is a single
        RENAME of whichever side table survived. The one window left
        is the single statement between the two renames, during which
        a concurrent reader of the live NAME misses it — run compact()
        from the admission loop's coordinator between batches, not
        concurrently with admits."""
        n_buckets = self._num_buckets()
        tmp = f"{self.table}__compacting"
        backup = f"{self.table}__precompact"
        self.spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        from kpipe_spark.util import reclaim_orphaned_table_location

        reclaim_orphaned_table_location(self.spark, tmp)
        # reading the table AS bucketed makes the planner elide the
        # explicit repartition (the scan already claims the target
        # partitioning), leaving one output file per (input task,
        # bucket) — the opposite of compaction. Read it as a plain
        # file scan for the rewrite; the WRITE side's bucketBy is
        # unaffected by this conf (measured: 4-bucket index compacts
        # to <= 4 files and still joins exchange-free afterwards).
        # The conf flips in a CLONED session — newSession() shares the
        # SparkContext and catalog (tmp is visible to the caller's
        # session) but holds a private SQLConf — so concurrent queries
        # in the caller's session keep their bucketed scans while the
        # rewrite runs.
        rewriter = self.spark.newSession()
        rewriter.conf.set("spark.sql.sources.bucketing.enabled", "false")
        (
            rewriter.table(self.table)
            .repartition(n_buckets, F.col("band"), F.col("bucket"))
            .write.mode("overwrite")
            .bucketBy(n_buckets, "band", "bucket")
            .saveAsTable(tmp, format="parquet")
        )
        live, self.table = self.table, tmp
        try:
            self._set_props(num_buckets=n_buckets)
        finally:
            self.table = live
        # swap: the pre-compaction rows stay reachable (as backup)
        # until the compacted table is confirmed under the live name
        self.spark.sql(f"DROP TABLE IF EXISTS {backup}")
        self.spark.sql(f"ALTER TABLE {live} RENAME TO {backup}")
        try:
            self.spark.sql(f"ALTER TABLE {tmp} RENAME TO {live}")
        except Exception:
            # put the pre-compaction index back under the live name;
            # the compacted rewrite stays parked under __compacting
            self.spark.sql(f"ALTER TABLE {backup} RENAME TO {live}")
            raise
        self.spark.sql(f"DROP TABLE {backup}")

