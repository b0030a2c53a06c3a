"""connected_components checkpoint lifecycle: iterative rounds must not
leak localCheckpoint RDD blocks for the life of the session.

Each propagation round checkpoints its aggregate; before this round's
fix every one of those (plus the edge list) stayed persistent until
session shutdown — harmless for one-build-per-query benches, but a
session rebuilding components repeatedly (streaming folds, notebooks,
profiling loops) accumulated dead dup-graph-sized RDDs and read 2-3x
inflated timings from GC pressure (OPTIMIZATION_r13.md, d24/d65 note).
Only the RETURNED label frame may keep blocks; callers done with it can
release those too via util.free_local_checkpoint.
"""

from __future__ import annotations

import pytest

from kpipe_spark.functions import dedup as D
from kpipe_spark.util import free_local_checkpoint


def _persistent_rdd_count(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _pairs(spark):
    # a 4-chain forces multiple propagation rounds; two extra components
    # exercise the untouched-label path
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)],
        "id_a int, id_b int",
    )


EXPECTED = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_build_keeps_only_the_returned_checkpoint(spark):
    base = _persistent_rdd_count(spark)
    labels = D.connected_components(_pairs(spark))
    got = {r["id"]: r["cluster_id"] for r in labels.collect()}
    assert got == EXPECTED
    # edges + initial labels + one aggregate per round are all released;
    # only the returned frame's checkpoint survives the build
    assert _persistent_rdd_count(spark) <= base + 1
    # and the returned frame stays re-executable after those releases
    assert labels.count() == len(EXPECTED)


def test_repeated_builds_do_not_accumulate(spark):
    base = _persistent_rdd_count(spark)
    kept = []
    for _ in range(3):
        labels = D.connected_components(_pairs(spark))
        assert labels.count() == len(EXPECTED)
        kept.append(labels)
    # one surviving checkpoint per build (the returned frame), not
    # one per build x (rounds + edges + initial labels)
    assert _persistent_rdd_count(spark) <= base + 3
    # a caller done with a result releases it explicitly (the helper
    # reaches the LogicalRDD under the returned projection)
    for labels in kept:
        assert free_local_checkpoint(labels) is True
    assert _persistent_rdd_count(spark) <= base


def test_round_costs_one_checkpoint_action(spark):
    """Convergence is read from an observe() on each round's eager
    checkpoint, so a propagation round runs the checkpoint's jobs and
    nothing else: five per round on this fixture (its shuffle map
    stages run as jobs of their own under AQE, plus the checkpoint
    itself). The separate filter/limit/count check it replaced cost
    two more jobs per round. A 12-node chain needs more rounds than
    any cap used here, so the difference between caps is whole
    rounds."""
    import uuid

    sc = spark.sparkContext
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "id_a int, id_b int"
    )

    def jobs(max_iterations: int) -> int:
        group = f"cc-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            free_local_checkpoint(
                D.connected_components(chain, max_iterations=max_iterations)
            )
        finally:
            sc._jsc.clearJobGroup()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(3) - jobs(2) == 5
    assert jobs(4) - jobs(2) == 10


def test_free_is_noop_on_non_checkpointed_frames(spark):
    df = spark.range(10).selectExpr("id", "id % 3 as k")
    assert free_local_checkpoint(df) is False
    assert df.count() == 10


@pytest.mark.slow  # r14 tiering: multi-minute — slow tier
def test_streaming_fold_loop_does_not_accumulate(spark):
    """The production shape of the leak: ClusterIndex.update_batch runs
    the fold once per micro-batch; every per-batch checkpoint (band
    freeze, edge-id freeze, CC rounds, quotient labels) must be
    released before the next batch arrives."""
    import uuid

    from kpipe_spark.functions.cluster_index import ClusterIndex
    from kpipe_spark.functions.corpus_index import CorpusIndex

    spam = "identical boilerplate text repeated across the corpus daily"
    corpus = spark.createDataFrame(
        [(1, spam), (2, spam), (3, "unrelated prose about artifacts")],
        "doc_id bigint, text string",
    )
    ctable = f"clusters_{uuid.uuid4().hex[:8]}"
    btable = f"bands_{uuid.uuid4().hex[:8]}"
    idx = ClusterIndex.build(spark, corpus, ctable)
    bands = CorpusIndex.build(spark, corpus, btable, num_buckets=4)
    try:
        base = _persistent_rdd_count(spark)
        for batch_id in range(3):
            batch = spark.createDataFrame(
                [(100 + batch_id, spam), (200 + batch_id, f"novel {batch_id}")],
                "doc_id bigint, text string",
            )
            assert idx.update_batch(batch, bands, batch_id) is True
        # the fold owns every checkpoint it makes: nothing survives
        assert _persistent_rdd_count(spark) <= base
    finally:
        idx.drop()
        bands.drop()
