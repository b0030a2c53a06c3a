"""ClusterIndex: the stored near-dup component artifact.

The contract is dual-form equivalence — every consumer report computed
from the STORED component table must equal the registered (graded,
self-contained) query's result — plus the serving-shape property that
makes it the 100 TB path: consumers broadcast the dup-graph-sized
stored table onto one corpus scan, never re-deriving the MinHash ->
components subtree."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from kpipe_spark.functions.cluster_index import ClusterIndex
from kpipe_spark.functions.dedup_reports import CONSUMERS

# Round-14 suite tiering: this module is in the SLOW tier (excluded from
# the driver's default `pytest tests/ -q` run by addopts; run with -m slow).
# See pyproject.toml [tool.pytest.ini_options] for the rationale.
pytestmark = pytest.mark.slow


SF = "/root/testdata/sf0.001"

SPAM = "identical boilerplate text repeated across the corpus every day"
FOX = "the quick brown fox jumps over the lazy dog at dawn today"


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.fixture
def corpus(spark):
    # 100/103 duplicate SPAM, 101/104 near-duplicate FOX, 102 singleton
    return _df(
        spark,
        [
            (100, SPAM),
            (101, FOX),
            (102, "completely unrelated prose about stored artifacts"),
            (103, SPAM),
            (104, FOX + " again"),
        ],
    )


def test_build_matches_inline_components(spark, corpus):
    from kpipe_spark.functions.dedup import dup_components

    table = f"clusters_{uuid.uuid4().hex[:8]}"
    idx = ClusterIndex.build(spark, corpus, table)
    try:
        stored = sorted(map(tuple, idx.components_df.collect()))
        inline = sorted(map(tuple, dup_components(corpus).collect()))
        assert stored == inline
        assert len(stored) >= 2  # the SPAM pair at minimum
    finally:
        idx.drop()


def test_assignments_and_survivors(spark, corpus):
    from kpipe_spark.functions.dedup import dup_clusters

    table = f"clusters_{uuid.uuid4().hex[:8]}"
    idx = ClusterIndex.build(spark, corpus, table)
    try:
        got = sorted(map(tuple, idx.assignments(corpus).collect()))
        want = sorted(map(tuple, dup_clusters(corpus).collect()))
        assert got == want

        surv = idx.survivors(corpus)
        # all input columns pass through, cluster_id does not leak
        assert surv.columns == corpus.columns
        kept = {r["doc_id"] for r in surv.collect()}
        canon = {
            r["doc_id"]
            for r in idx.assignments(corpus).collect()
            if r["is_canonical"]
        }
        assert kept == canon
        assert 100 in kept and 103 not in kept  # SPAM keeps min id
    finally:
        idx.drop()


def test_consumer_reports_match_graded_queries(spark):
    """The headline dual-form property, on the real sf0.001 corpus:
    all five registered component consumers produce IDENTICAL results
    when fed the stored artifact instead of the inline derivation."""
    from kpipe_spark.catalog import load_tables
    from kpipe_spark.queries import all_queries

    docs = load_tables(spark, SF).documents
    table = f"clusters_{uuid.uuid4().hex[:8]}"
    idx = ClusterIndex.build(spark, docs, table)
    try:
        q = all_queries()
        for name, consumer in CONSUMERS.items():
            graded = sorted(
                map(tuple, q[name].build(spark, SF).collect()), key=repr
            )
            stored = sorted(
                map(tuple, consumer(docs, idx.components_df).collect()),
                key=repr,
            )
            assert stored == graded, f"{name} diverges from stored form"
            assert len(stored) > 0, f"{name} returned no rows"
    finally:
        idx.drop()


def test_consumer_join_broadcasts_stored_components(spark, corpus):
    """Serving-shape pin: a consumer fed the stored table plans a
    BroadcastHashJoin (the dup-graph side ships to every task; the
    corpus scan is never re-partitioned for the join)."""
    table = f"clusters_{uuid.uuid4().hex[:8]}"
    idx = ClusterIndex.build(spark, corpus, table)
    try:
        out = idx.assignments(corpus)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
    finally:
        idx.drop()


def test_refresh_sees_cluster_merges(spark, corpus):
    """Components are global: a NEW document can merge two previously
    distinct clusters, which is why the artifact offers refresh (full
    re-derivation) and deliberately no per-batch append."""
    table = f"clusters_{uuid.uuid4().hex[:8]}"
    idx = ClusterIndex.build(spark, corpus, table)
    try:
        before = {
            r["doc_id"]: r["cluster_id"]
            for r in idx.components_df.collect()
        }
        # 105 duplicates SPAM: joins 100/103's cluster, min id unchanged
        grown = corpus.union(_df(spark, [(105, SPAM)]))
        idx.refresh(grown)
        after = {
            r["doc_id"]: r["cluster_id"]
            for r in idx.components_df.collect()
        }
        assert 105 not in before and after[105] == 100
        assert set(before).issubset(set(after))
    finally:
        idx.drop()


def test_attach_validates_family(spark, corpus):
    table = f"clusters_{uuid.uuid4().hex[:8]}"
    idx = ClusterIndex.build(spark, corpus, table)
    try:
        # adopts the stored family when none is passed
        att = ClusterIndex.attach(spark, table)
        assert (att.num_hashes, att.bands, att.shingle_k) == (
            idx.num_hashes,
            idx.bands,
            idx.shingle_k,
        )
        with pytest.raises(ValueError, match="MinHash family mismatch"):
            ClusterIndex.attach(spark, table, bands=idx.bands + 1)
        with pytest.raises(ValueError, match="no such cluster index"):
            ClusterIndex.attach(spark, f"absent_{uuid.uuid4().hex[:8]}")
    finally:
        idx.drop()


def test_incremental_refresh_matches_full_rebuild_sf(spark):
    """The round-11 headline consistency contract, on the real sf0.001
    corpus: build components + band index on ~90% of documents, fold
    the remaining ~10% in via refresh_incremental, and the stored table
    must equal the full inline derivation over the GROWN corpus —
    row-for-row, labels included (the d54 incremental-vs-full pattern,
    lifted to the component artifact)."""
    from kpipe_spark.catalog import load_tables
    from kpipe_spark.functions.corpus_index import CorpusIndex
    from kpipe_spark.functions.dedup import dup_components

    docs = load_tables(spark, SF).documents
    is_new = F.col("doc_id") % 10 == 0
    old, batch = docs.filter(~is_new), docs.filter(is_new)

    ctable = f"clusters_{uuid.uuid4().hex[:8]}"
    btable = f"bands_{uuid.uuid4().hex[:8]}"
    idx = ClusterIndex.build(spark, old, ctable)
    bands = CorpusIndex.build(spark, old, btable, num_buckets=4)
    try:
        stats = idx.refresh_incremental(batch, bands)
        assert 0 < stats["overwritten_buckets"] <= stats["num_comp_buckets"]
        got = sorted(map(tuple, idx.components_df.collect()))
        want = sorted(map(tuple, dup_components(docs).collect()))
        assert got == want
        assert len(got) > len(
            sorted(map(tuple, dup_components(old).collect()))
        ) or got == want  # grown corpus gained members (or identical)
    finally:
        idx.drop()
        bands.drop()


def test_incremental_refresh_relabel_and_partial_overwrite(spark, corpus):
    """Synthetic merge mechanics: a batch doc with a LOWER id than an
    existing cluster's canonical member must relabel that whole
    cluster (min-of-mins), a fresh near-dup pair inside the batch must
    enter as a new component, and the write must touch only a strict
    subset of comp_bucket partitions."""
    from kpipe_spark.functions.corpus_index import CorpusIndex
    from kpipe_spark.functions.dedup import dup_components

    ctable = f"clusters_{uuid.uuid4().hex[:8]}"
    btable = f"bands_{uuid.uuid4().hex[:8]}"
    idx = ClusterIndex.build(spark, corpus, ctable)
    bands = CorpusIndex.build(spark, corpus, btable, num_buckets=4)
    try:
        batch = _df(
            spark,
            [
                (90, SPAM),  # joins + RELABELS the 100/103 cluster
                (200, "a brand new boilerplate block shared verbatim"),
                (201, "a brand new boilerplate block shared verbatim"),
                (300, "unrelated novel singleton prose"),
            ],
        )
        stats = idx.refresh_incremental(batch, bands)
        grown = corpus.union(batch)
        got = sorted(map(tuple, idx.components_df.collect()))
        want = sorted(map(tuple, dup_components(grown).collect()))
        assert got == want
        labels = {r["doc_id"]: r["cluster_id"] for r in idx.components_df.collect()}
        assert labels[100] == 90 and labels[103] == 90 and labels[90] == 90
        assert labels[200] == 200 and labels[201] == 200
        assert 300 not in labels  # singleton never enters the table
        # partial write: a handful of touched components can't touch
        # every bucket
        assert stats["overwritten_buckets"] < stats["num_comp_buckets"]

        # idempotent no-op: an already-folded batch adds no edges...
        # (bands does NOT yet contain the batch, so re-deriving pairs
        # yields the same edges -> same labels, zero NEW information)
        stats2 = idx.refresh_incremental(batch, bands)
        got2 = sorted(map(tuple, idx.components_df.collect()))
        assert got2 == got and stats2["num_comp_buckets"] == 32
    finally:
        idx.drop()
        bands.drop()


def test_incremental_refresh_validates_family(spark, corpus):
    from kpipe_spark.functions.corpus_index import CorpusIndex

    ctable = f"clusters_{uuid.uuid4().hex[:8]}"
    btable = f"bands_{uuid.uuid4().hex[:8]}"
    idx = ClusterIndex.build(spark, corpus, ctable)
    bands = CorpusIndex.build(
        spark, corpus, btable, num_buckets=4, bands=idx.bands - 2
    )
    try:
        with pytest.raises(ValueError, match="MinHash family mismatch"):
            idx.refresh_incremental(corpus, bands)
    finally:
        idx.drop()
        bands.drop()


def test_incremental_refresh_migrates_legacy_layout(spark, corpus):
    """A pre-round-11 table (unpartitioned, no num_comp_buckets
    property) is migrated to the comp_bucket layout in place — an
    index-sized rewrite — and the incremental fold then proceeds."""
    from kpipe_spark.functions.corpus_index import CorpusIndex
    from kpipe_spark.functions.dedup import dup_components

    ctable = f"clusters_{uuid.uuid4().hex[:8]}"
    btable = f"bands_{uuid.uuid4().hex[:8]}"
    idx = ClusterIndex(spark, ctable)
    idx._replace_table(dup_components(corpus))  # the legacy shape
    bands = CorpusIndex.build(spark, corpus, btable, num_buckets=4)
    try:
        assert "num_comp_buckets" not in idx._read_props()
        batch = _df(spark, [(105, SPAM)])
        idx.refresh_incremental(batch, bands)
        assert "num_comp_buckets" in idx._read_props()
        got = sorted(map(tuple, idx.components_df.collect()))
        want = sorted(map(tuple, dup_components(corpus.union(batch)).collect()))
        assert got == want
    finally:
        idx.drop()
        bands.drop()


def test_release_cadence_refuses_append_without_fold(spark, corpus):
    """The round-12 marker discipline: a batch appended to the band
    index but never folded leaves the index AHEAD — the next fold must
    refuse with the repair recipe, not silently mislabel (the caller
    discipline that used to live only in the docstring)."""
    from kpipe_spark.functions.corpus_index import CorpusIndex

    ctable = f"clusters_{uuid.uuid4().hex[:8]}"
    btable = f"bands_{uuid.uuid4().hex[:8]}"
    idx = ClusterIndex.build(spark, corpus, ctable)
    bands = CorpusIndex.build(spark, corpus, btable, num_buckets=4)
    try:
        batch1 = _df(spark, [(90, SPAM)])
        idx.refresh_incremental(batch1, bands)
        bands.append(batch1)
        assert bands.release_seq() == 1
        assert idx._read_props()["folded_release_seq"] == 1
        # violation: append batch2 without folding it
        bands.append(_df(spark, [(91, SPAM)]))
        with pytest.raises(ValueError, match="release-cadence violation"):
            idx.refresh_incremental(_df(spark, [(92, SPAM)]), bands)
    finally:
        idx.drop()
        bands.drop()


def test_release_cadence_allows_same_batch_replay_only(spark, corpus):
    """Fold landed, append didn't (the documented crash window):
    re-folding the SAME batch is the idempotent recovery and must
    pass the fingerprint check; folding a DIFFERENT batch in that
    state must refuse (its edges against the un-appended docs would
    be silently lost)."""
    from kpipe_spark.functions.corpus_index import CorpusIndex

    ctable = f"clusters_{uuid.uuid4().hex[:8]}"
    btable = f"bands_{uuid.uuid4().hex[:8]}"
    idx = ClusterIndex.build(spark, corpus, ctable)
    bands = CorpusIndex.build(spark, corpus, btable, num_buckets=4)
    try:
        batch = _df(spark, [(90, SPAM), (200, "novel dup a"), (201, "novel dup a")])
        idx.refresh_incremental(batch, bands)
        # no append — markers now folded=1 vs corpus=0
        before = sorted(map(tuple, idx.components_df.collect()))
        idx.refresh_incremental(batch, bands)  # same batch: allowed
        assert sorted(map(tuple, idx.components_df.collect())) == before
        with pytest.raises(ValueError, match="never appended"):
            idx.refresh_incremental(_df(spark, [(300, SPAM)]), bands)
        # the repair: append the folded batch, then the new fold runs
        bands.append(batch)
        idx.refresh_incremental(_df(spark, [(300, SPAM)]), bands)
        labels = {
            r["doc_id"]: r["cluster_id"]
            for r in idx.components_df.collect()
        }
        assert labels.get(300) is not None  # 300 joined the SPAM cluster
    finally:
        idx.drop()
        bands.drop()


def test_legacy_migration_uses_injectable_materializer(spark, corpus):
    """The legacy-layout rewrite must route the old rows through
    util.materialize (scale="corpus"), not a bare localCheckpoint: a
    cluster deployment installs table_materializer so the only copy of
    the pre-migration rows lives in durable storage while the table
    they came from is overwritten (round-11 ADVICE)."""
    from kpipe_spark.functions.corpus_index import CorpusIndex
    from kpipe_spark.functions.dedup import dup_components
    from kpipe_spark.util import set_materializer

    ctable = f"clusters_{uuid.uuid4().hex[:8]}"
    btable = f"bands_{uuid.uuid4().hex[:8]}"
    idx = ClusterIndex(spark, ctable)
    idx._replace_table(dup_components(corpus))  # the legacy shape
    bands = CorpusIndex.build(spark, corpus, btable, num_buckets=4)
    seen: list[tuple[str, tuple[str, ...]]] = []

    def recording(df, *, eager, scale):
        seen.append((scale, tuple(df.columns)))
        return df.localCheckpoint(eager=eager)

    prev = set_materializer(recording)
    try:
        idx.refresh_incremental(_df(spark, [(105, SPAM)]), bands)
        # the old rows themselves, (id, cluster_id): no other frame on
        # this path has that shape (the fold's frames carry band, edge
        # and id/src/dst columns)
        assert ("corpus", (idx.id_col, "cluster_id")) in seen, (
            "legacy migration bypassed the injectable materializer", seen
        )
    finally:
        set_materializer(prev)
        idx.drop()
        bands.drop()


def test_incremental_refresh_resumes_crashed_swap(spark, corpus, monkeypatch):
    """Crash between park write and swap: the park is complete (its
    touched_buckets property landed), so the NEXT call resumes the
    swap at entry before folding its own batch — and re-folding the
    same batch afterwards is a no-op (no new edges)."""
    from kpipe_spark.functions.corpus_index import CorpusIndex
    from kpipe_spark.functions.dedup import dup_components

    ctable = f"clusters_{uuid.uuid4().hex[:8]}"
    btable = f"bands_{uuid.uuid4().hex[:8]}"
    idx = ClusterIndex.build(spark, corpus, ctable)
    bands = CorpusIndex.build(spark, corpus, btable, num_buckets=4)
    batch = _df(spark, [(90, SPAM)])
    orig = ClusterIndex._swap_from_park
    state = {"crashed": False}

    def crash_once(self, park):
        if not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("simulated crash before swap")
        return orig(self, park)

    monkeypatch.setattr(ClusterIndex, "_swap_from_park", crash_once)
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            idx.refresh_incremental(batch, bands)
        assert spark.catalog.tableExists(f"{ctable}__refreshing")
        # live table untouched by the crash
        live = sorted(map(tuple, idx.components_df.collect()))
        assert live == sorted(map(tuple, dup_components(corpus).collect()))
        # the re-run (crash discipline: same batch) resumes + completes
        idx.refresh_incremental(batch, bands)
        assert not spark.catalog.tableExists(f"{ctable}__refreshing")
        got = sorted(map(tuple, idx.components_df.collect()))
        want = sorted(
            map(tuple, dup_components(corpus.union(batch)).collect())
        )
        assert got == want
    finally:
        idx.drop()
        bands.drop()


def test_incremental_refresh_drops_incomplete_park(spark, corpus):
    """A park WITHOUT the touched_buckets property is an incomplete
    write (crash mid-park): the live table is intact, so the next call
    discards the park and folds normally."""
    from kpipe_spark.functions.corpus_index import CorpusIndex
    from kpipe_spark.functions.dedup import dup_components

    ctable = f"clusters_{uuid.uuid4().hex[:8]}"
    btable = f"bands_{uuid.uuid4().hex[:8]}"
    idx = ClusterIndex.build(spark, corpus, ctable)
    bands = CorpusIndex.build(spark, corpus, btable, num_buckets=4)
    try:
        # fabricate an incomplete park: data, no touched_buckets prop
        spark.createDataFrame(
            [(999, 999, 0)], "doc_id bigint, cluster_id bigint, comp_bucket int"
        ).write.saveAsTable(f"{ctable}__refreshing", format="parquet")
        batch = _df(spark, [(90, SPAM)])
        idx.refresh_incremental(batch, bands)
        got = sorted(map(tuple, idx.components_df.collect()))
        want = sorted(
            map(tuple, dup_components(corpus.union(batch)).collect())
        )
        assert got == want  # 999 never leaked into the live table
        assert not spark.catalog.tableExists(f"{ctable}__refreshing")
    finally:
        idx.drop()
        bands.drop()


def test_idle_refold_of_appended_batch_is_noop(spark, corpus):
    """Round-12 ADVICE #2: re-folding a batch AFTER its append (idle
    state, folded == corpus) must be a no-op — the old behavior
    re-stamped folded = corpus + 1, leaving the marker permanently one
    ahead and poisoning the NEXT legitimate fold with a misleading
    fingerprint refusal."""
    from kpipe_spark.functions.corpus_index import CorpusIndex

    ctable = f"clusters_{uuid.uuid4().hex[:8]}"
    btable = f"bands_{uuid.uuid4().hex[:8]}"
    idx = ClusterIndex.build(spark, corpus, ctable)
    bands = CorpusIndex.build(spark, corpus, btable, num_buckets=4)
    try:
        batch = _df(spark, [(90, SPAM)])
        out = idx.refresh_incremental(batch, bands)
        assert out["state"] == "folded"
        bands.append(batch)
        # idle state: both markers at 1. Re-fold the SAME batch.
        out2 = idx.refresh_incremental(batch, bands)
        assert out2["state"] == "already_applied"
        assert out2["overwritten_buckets"] == 0
        assert idx._read_props()["folded_release_seq"] == 1  # not 2
        # the next legitimate fold proceeds (no bogus refusal)
        nxt = _df(spark, [(91, SPAM)])
        assert idx.refresh_incremental(nxt, bands)["state"] == "folded"
        bands.append(nxt)
        labels = {
            r["doc_id"]: r["cluster_id"] for r in idx.components_df.collect()
        }
        assert labels.get(91) is not None
    finally:
        idx.drop()
        bands.drop()


def test_edge_free_batch_still_advances_fold_marker(spark, corpus):
    """A batch with NO collision edges changes no components, but the
    fold marker must still advance — otherwise the caller's append
    leaves the band index ahead and the next fold is refused even
    though the cadence was followed to the letter."""
    from kpipe_spark.functions.corpus_index import CorpusIndex

    ctable = f"clusters_{uuid.uuid4().hex[:8]}"
    btable = f"bands_{uuid.uuid4().hex[:8]}"
    idx = ClusterIndex.build(spark, corpus, ctable)
    bands = CorpusIndex.build(spark, corpus, btable, num_buckets=4)
    try:
        lonely = _df(spark, [(500, "utterly unique text colliding with nothing")])
        out = idx.refresh_incremental(lonely, bands)
        assert out == {
            "overwritten_buckets": 0,
            "num_comp_buckets": idx.num_comp_buckets,
            "state": "folded",
        }
        assert idx._read_props()["folded_release_seq"] == 1
        bands.append(lonely)
        # no refusal on the next fold
        assert idx.refresh_incremental(_df(spark, [(501, SPAM)]), bands)[
            "state"
        ] == "folded"
    finally:
        idx.drop()
        bands.drop()


def test_update_batch_streaming_fold_crash_matrix(spark, corpus):
    """Round-12 verdict #3: ClusterIndex.update_batch is the
    foreachBatch-composable fold-then-append wrapper, idempotent per
    batch id across every crash window the markers police — and no
    window duplicates a single band row."""
    from kpipe_spark.functions.corpus_index import CorpusIndex

    ctable = f"clusters_{uuid.uuid4().hex[:8]}"
    btable = f"bands_{uuid.uuid4().hex[:8]}"
    idx = ClusterIndex.build(spark, corpus, ctable)
    bands = CorpusIndex.build(spark, corpus, btable, num_buckets=4)
    try:
        b0 = _df(spark, [(90, SPAM), (210, "stream novel a"), (211, "stream novel a")])
        assert idx.update_batch(b0, bands, 0) is True
        assert idx.last_batch_id() == 0
        assert bands.release_seq() == 1
        band_rows = spark.table(btable).count()

        # re-delivery fast path: same id is a full no-op
        assert idx.update_batch(b0, bands, 0) is False
        assert spark.table(btable).count() == band_rows

        # window 1 — crash after fold, before append: replay re-folds
        # (refolded) and append_if_missing APPENDS the missing bands
        b1 = _df(spark, [(212, SPAM)])
        idx.refresh_incremental(b1, bands)  # fold landed, append lost
        assert idx.update_batch(b1, bands, 1) is True
        rows_after_b1 = spark.table(btable).count()
        assert rows_after_b1 > band_rows
        assert bands.release_seq() == 2

        # window 2 — crash after append DATA, before its marker bump:
        # replay re-folds and append_if_missing RE-STAMPS, zero dup rows
        b2 = _df(spark, [(213, SPAM)])
        idx.refresh_incremental(b2, bands)
        bands._bands_of(b2).write.mode("append").bucketBy(
            4, "band", "bucket"
        ).saveAsTable(btable, format="parquet")  # data landed, marker lost
        spark.catalog.refreshTable(btable)
        rows_mid = spark.table(btable).count()
        assert idx.update_batch(b2, bands, 2) is True
        assert spark.table(btable).count() == rows_mid  # no duplicates
        assert bands.release_seq() == 3

        # window 3 — crash after append, before the batch marker: the
        # fold reports already_applied, append skipped, marker stamped
        b3 = _df(spark, [(214, SPAM)])
        idx.refresh_incremental(b3, bands)
        bands.append(b3)
        rows_b3 = spark.table(btable).count()
        assert idx.update_batch(b3, bands, 3) is True
        assert spark.table(btable).count() == rows_b3
        assert bands.release_seq() == 4
        assert idx.last_batch_id() == 3

        # the invariant everything above serves: the streamed result
        # equals a full rebuild over the final corpus
        streamed = corpus.unionByName(b0).unionByName(b1).unionByName(
            b2
        ).unionByName(b3)
        rebuilt = f"clusters_rb_{uuid.uuid4().hex[:8]}"
        full = ClusterIndex.build(spark, streamed, rebuilt)
        try:
            assert sorted(map(tuple, idx.components_df.collect())) == sorted(
                map(tuple, full.components_df.collect())
            )
        finally:
            full.drop()
    finally:
        idx.drop()
        bands.drop()
