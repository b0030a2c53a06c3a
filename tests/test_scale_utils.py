"""Scale-discipline utilities: salted joins produce identical results
to plain joins, and bucketed tables join without an Exchange."""

from __future__ import annotations

import pytest

import re
import uuid

from pyspark.sql import functions as F

from kpipe_spark.util import ensure_parallelism, salted_join, write_bucketed


def test_salted_join_matches_plain_join(spark):
    # heavy skew: 90% of fact rows share one key
    fact = spark.range(0, 2000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
    )
    dim = spark.range(0, 100).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), "id").alias("payload")
    )
    plain = {
        (r["row_id"], r["payload"])
        for r in fact.join(dim, "k").collect()
    }
    salted = {
        (r["row_id"], r["payload"])
        for r in salted_join(fact, dim, on="k", salt=8).collect()
    }
    assert salted == plain
    assert len(salted) == 2000  # every fact row found its dim row


def test_salted_left_join_keeps_unmatched(spark):
    fact = spark.range(0, 50).select(F.col("id").alias("k"))
    dim = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit("hit").alias("payload")
    )
    out = salted_join(fact, dim, on="k", how="left", salt=4).collect()
    assert len(out) == 50
    assert sum(1 for r in out if r["payload"] == "hit") == 10


def test_bucketed_join_has_no_exchange(spark):
    orders = spark.range(0, 1000).select(
        F.col("id").alias("o_id"), (F.col("id") % 97).alias("cust")
    )
    custs = spark.range(0, 97).select(
        F.col("id").alias("cust"), F.concat(F.lit("c"), "id").alias("name")
    )
    # disable broadcast so the join strategy decision is about shuffles
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(orders, "b_orders", ["cust"], num_buckets=8, sort_by=["cust"])
        write_bucketed(custs, "b_custs", ["cust"], num_buckets=8, sort_by=["cust"])
        joined = spark.table("b_orders").join(spark.table("b_custs"), "cust")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # bucketing pre-paid the shuffle
        assert joined.count() == 1000
        # control: the same join on non-bucketed frames DOES exchange
        control = orders.join(custs, "cust")
        control_plan = control._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in control_plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_custs")


def test_ensure_parallelism_noop_when_wide(spark):
    wide = spark.range(0, 100).repartition(64)
    assert ensure_parallelism(wide) is wide  # already split enough
    narrow = spark.range(0, 100).coalesce(1)
    assert ensure_parallelism(narrow).rdd.getNumPartitions() > 1


def test_salted_join_spreads_hot_key_across_reducers(spark):
    """The straggler mechanics, pinned: a plain shuffle join sends every
    row of the hot key to ONE reducer; salted_join's shuffle key is
    (k, _salt), so the hot key's rows spread across `salt` reducers with
    no one holding more than a modest multiple of the fair share."""
    n, salt = 50_000, 16
    # 90% of rows carry hot key 7 — the single-hot-key case AQE's
    # partition splitting cannot fix when downstream state needs the key
    skewed = spark.range(n).select(
        F.when(F.col("id") % 10 != 0, F.lit(7))
        .otherwise(F.col("id") % 100)
        .alias("k"),
        F.col("id").alias("v"),
    )
    other = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))

    out = salted_join(skewed, other, "k", salt=salt)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan  # the exchange partitions on (k, _salt)

    # measure the actual spread the salted exchange produces for the
    # hot key: max per-(k,_salt) bucket stays near the fair 1/salt share
    buckets = (
        skewed.withColumn("_salt", (F.rand(seed=42) * salt).cast("int"))
        .filter(F.col("k") == 7)
        .groupBy("_salt")
        .count()
        .collect()
    )
    hot_total = sum(r["count"] for r in buckets)
    assert len(buckets) == salt
    assert max(r["count"] for r in buckets) < 2 * hot_total / salt


def test_aqe_skew_join_splits_oversized_partitions(spark):
    """The unsalted path's safety net: with skew-join thresholds scaled
    to test data, AQE's final plan marks the join skew=true — the
    oversized hot-key partition was split at runtime. (At default
    256 MB thresholds the same mechanics engage at cluster scale.)
    session.py leaves maxShuffledHashJoinLocalMapThreshold at Spark's
    default (0, never convert), so get_spark's final plan keeps the
    sort-merge join; a session that sets the threshold lets AQE rewrite
    it to shuffled-hash, and the skew split fires for both node types,
    so accept either."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        # non-foldable pad: a literal pad would be constant-folded OUT
        # of the shuffle, leaving partitions under the skew threshold
        pad = F.md5(F.col("id").cast("string"))
        skewed = spark.range(50_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(7))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            pad.alias("pad"),
        )
        other = spark.range(100).select(
            F.col("id").alias("k"), pad.alias("pad2")
        )
        out = skewed.join(other, "k")
        # execute THIS df's plan (count() would build its own QE and
        # leave out's adaptive plan unfinalized)
        assert len(out.collect()) == 50_000
        final_plan = out._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final_plan
        assert re.search(
            r"(SortMergeJoin|ShuffledHashJoin)\(skew=true\)", final_plan
        ), final_plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ensure_parallelism_handles_percent_encoded_paths(spark, tmp_path):
    """inputFiles() returns percent-encoded URIs; a path with a space
    must not raise FileNotFoundError during query construction."""
    d = tmp_path / "dir with space"
    d.mkdir()
    spark.range(0, 10).coalesce(1).write.parquet(str(d / "t.parquet"))
    df = spark.read.parquet(str(d / "t.parquet"))
    assert any("%20" in f for f in df.inputFiles())  # precondition
    out = ensure_parallelism(df)  # must not raise
    assert out.count() == 10
    assert out.rdd.getNumPartitions() > 1  # under-split -> respread


def test_approx_count_distinct_within_tolerance(spark):
    """approx_count_distinct (HLL) is the 100 TB path for distinct
    counting; exact distinct is the oracle-checked variant (q19). The
    sketch must land within its documented rsd of exact."""
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    row = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx"),
        F.countDistinct("l_orderkey").alias("exact"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_partitioned_write_enables_pruning(spark, tmp_path):
    """Hive-partitioned layout: a filter on the partition key shows up
    as PartitionFilters and prunes non-matching directories — the
    scan-a-day-not-a-decade property."""
    from kpipe_spark.catalog import load_table
    from kpipe_spark.util import write_partitioned

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    out = str(tmp_path / "by_type")
    write_partitioned(
        events.withColumn("etype", F.col("event_type")),
        out,
        partition_by=["etype"],
    )
    pruned = spark.read.parquet(out).filter(F.col("etype") == "click")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(etype" in plan
    exact = events.filter(F.col("event_type") == "click").count()
    assert pruned.count() == exact


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """Small-file compaction: many tiny files -> few target-sized ones,
    same rows, no shuffle (coalesce)."""
    import os

    from kpipe_spark.util import compact_parquet

    fragmented = str(tmp_path / "fragmented")
    spark.range(0, 10000).repartition(50).write.parquet(fragmented)
    n_small = len([f for f in os.listdir(fragmented) if f.endswith(".parquet")])
    assert n_small == 50

    compacted = str(tmp_path / "compacted")
    total_bytes = sum(
        os.path.getsize(os.path.join(fragmented, f))
        for f in os.listdir(fragmented)
        if f.endswith(".parquet")
    )
    n_out = compact_parquet(
        spark, fragmented, compacted, target_file_bytes=total_bytes // 4
    )
    n_big = len([f for f in os.listdir(compacted) if f.endswith(".parquet")])
    assert n_big == n_out <= 6
    assert spark.read.parquet(compacted).count() == 10000


def test_ranged_prefix_sum_matches_single_window(spark):
    """The two-phase per-partition prefix sum (d39/d51/m07's packing
    shape) must equal the naive one-window formulation exactly —
    including NULL weights (SUM-skip on both shapes) and partitions
    that span many / exactly-one doc-id range."""
    import random

    from pyspark.sql import Window

    from kpipe_spark.functions.prefix import ranged_prefix_sum

    rng = random.Random(7)
    rows = [
        (
            i,
            f"src{rng.randrange(3)}",
            None if rng.random() < 0.1 else rng.randrange(0, 50),
        )
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, w long")
    naive_w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    naive = {
        (r["doc_id"], r["nb"])
        for r in df.withColumn(
            "nb", F.coalesce(F.sum("w").over(naive_w), F.lit(0))
        ).collect()
    }
    # range_width=64 forces ~8 ranges; the boundary reconciliation runs
    got = {
        (r["doc_id"], r["_before"])
        for r in ranged_prefix_sum(
            df, ["source"], "doc_id", F.col("w"), range_width=64
        ).collect()
    }
    assert got == naive


def test_ranged_prefix_sum_window_partitions_by_range(spark):
    """The scale property itself, pinned in the plan: the data-sized
    window must partition by (source, _rng) — NOT source alone — so one
    dominant source cannot serialize into a single task; the only
    source-partitioned window runs over the range ledger."""
    from kpipe_spark.functions.prefix import ranged_prefix_sum

    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.lit("the_one_giant_crawl").alias("source"),
        (F.col("id") % 37).alias("w"),
    )
    out = ranged_prefix_sum(df, ["source"], "doc_id", F.col("w"), range_width=256)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    windows = re.findall(r"Window \[.*?\]", plan)
    assert any("_rng" in w for w in windows), plan[:3000]
    # and the result is still the exact prefix sum
    rows = {r["doc_id"]: r["_before"] for r in out.collect()}
    acc, expect = 0, {}
    for i in range(2000):
        expect[i] = acc
        acc += i % 37
    assert rows == expect


@pytest.mark.slow  # r14 tiering: multi-minute — slow tier
def test_ntile_closed_form_matches_window_ntile(spark):
    """d36's two-phase tercile: histogram position + closed-form
    bucket must equal F.ntile(3) over the global order exactly —
    including n < 3, all-tied scores, and remainder sizes. (The oracle
    suite pins this against DuckDB's ntile on real corpora; this pins
    the degenerate sizes fixtures never hit.)"""
    import random

    from pyspark.sql import Window

    rng = random.Random(11)
    for n in [1, 2, 3, 4, 5, 6, 8, 13, 40]:
        rows = [
            (i, round(rng.choice([0.1, 0.2, 0.2, 0.2, 0.3]), 4))
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "doc_id long, lp double")
        ref = {
            r["doc_id"]: r["b"]
            for r in df.withColumn(
                "b",
                F.ntile(3).over(Window.orderBy(F.col("lp").desc(), "doc_id")),
            ).collect()
        }
        hist = df.groupBy("lp").agg(F.count(F.lit(1)).alias("_c"))
        w_h = Window.orderBy(F.col("lp").desc()).rowsBetween(
            Window.unboundedPreceding, -1
        )
        hist = hist.withColumn(
            "_above", F.coalesce(F.sum("_c").over(w_h), F.lit(0))
        ).select("lp", "_above")
        nn = df.groupBy().agg(F.count(F.lit(1)).alias("_n"))
        w_in = Window.partitionBy("lp").orderBy("doc_id")
        pos = F.col("_above") + F.row_number().over(w_in)
        q_ = F.floor(F.col("_n") / 3)
        r_ = F.col("_n") % 3
        bucket = F.when(
            pos <= r_ * (q_ + 1), F.floor((pos - 1) / (q_ + 1)) + 1
        ).otherwise(r_ + F.floor((pos - r_ * (q_ + 1) - 1) / q_) + 1)
        got = {
            r["doc_id"]: r["b"]
            for r in df.join(F.broadcast(hist), "lp")
            .crossJoin(F.broadcast(nn))
            .withColumn("b", bucket.cast("int"))
            .collect()
        }
        assert got == ref, (n, got, ref)


def test_incremental_dedup_corpus_side_is_exchange_free_when_bucketed(spark):
    """THE d54 scale claim, pinned in the physical plan: when the
    corpus band table is the stored bucketed artifact (bucketed on
    (band, bucket) via write_bucketed, as the d54 docstring
    prescribes), admitting a batch shuffles ONLY batch-sized data —
    the corpus side of the candidate join carries no Exchange. A
    corpus-side shuffle per batch is exactly the 100 TB cost the
    incremental shape exists to avoid."""
    from kpipe_spark.functions import dedup as D
    from kpipe_spark.util import write_bucketed

    docs = spark.createDataFrame(
        [
            (i, f"w{i} " * 3 + "alpha beta gamma delta epsilon zeta")
            for i in range(120)
        ],
        "doc_id bigint, text string",
    )
    corpus_bands = D.minhash_bands_df(
        D.minhash_signature_df(docs.filter(F.col("doc_id") % 4 != 0))
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(
            corpus_bands,
            "corpus_bands_t",
            ["band", "bucket"],
            num_buckets=8,
            sort_by=["band", "bucket"],
        )
        stored = spark.table("corpus_bands_t")
        batch = docs.filter(F.col("doc_id") % 4 == 0)
        partners = D.incremental_minhash_partners(batch, stored)
        plan = partners._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan[:2000]
        # walk the bucketed scan's parent chain up to its join: only
        # Sort/Project may sit between them — an Exchange there means
        # the corpus band table is re-shuffled per batch
        lines = plan.splitlines()
        scan_idx = next(
            i for i, ln in enumerate(lines) if "corpus_bands_t" in ln
        )

        def indent(ln: str) -> int:
            body = ln.replace(":", " ").replace("+-", "  ")
            return len(body) - len(body.lstrip())

        depth = indent(lines[scan_idx])
        for ln in reversed(lines[:scan_idx]):
            if indent(ln) >= depth:
                continue
            if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln:
                break
            depth = indent(ln)
            assert "Exchange" not in ln, (
                "corpus band table re-shuffled per batch:\n" + ln
            )
        else:
            raise AssertionError("no join above the bucketed scan:\n" + plan)
        # and the join still finds the duplicate partners
        assert partners.count() > 0
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS corpus_bands_t")


def test_table_materializer_swaps_block_storage_for_tables(spark):
    """The injectable materializer (the 100 TB escape from corpus-
    scaled localCheckpoint): with table_materializer installed, a
    corpus-scaled branch-shared frame is written to (and re-read from)
    a parquet table, bounded frames keep localCheckpoint, and operator
    results are IDENTICAL to the default strategy."""
    import uuid

    from kpipe_spark.functions.selection import dsir_log_weights
    from kpipe_spark.util import materialize, set_materializer, table_materializer

    docs = spark.createDataFrame(
        [
            (i, f"doc {i} body words repeat {'alpha beta' if i % 3 else 'gamma delta'} tail {i % 5}", f"src{i % 4}")
            for i in range(40)
        ],
        "doc_id long, text string, source string",
    )
    default = sorted(
        dsir_log_weights(docs, ("src0", "src1"), 64).collect()
    )

    prefix = f"mat_test_{uuid.uuid4().hex[:8]}"
    prev = set_materializer(table_materializer(prefix))
    try:
        via_tables = sorted(
            dsir_log_weights(docs, ("src0", "src1"), 64).collect()
        )
        made = [t.name for t in spark.catalog.listTables() if t.name.startswith(prefix)]
        assert made, "corpus-scaled frame did not go through the table strategy"
        # bounded frames do NOT create tables
        n_before = len(made)
        bounded = materialize(spark.range(0, 5), scale="bounded")
        assert bounded.count() == 5
        assert (
            len([t for t in spark.catalog.listTables() if t.name.startswith(prefix)])
            == n_before
        )
    finally:
        set_materializer(prev)
        for t in spark.catalog.listTables():
            if t.name.startswith(prefix):
                spark.sql(f"DROP TABLE {t.name}")
    assert via_tables == default


def test_table_materializer_scoped_lifecycle(spark):
    """Lifecycle is owned by the strategy: the default prefix is
    uuid-unique (two concurrent jobs on one warehouse can't collide),
    and the context-manager form installs itself, then restores the
    prior strategy and drops every table it created — no kpipe_mat_*
    tables survive a query run."""
    import kpipe_spark.util as U
    from kpipe_spark.functions.selection import dsir_log_weights
    from kpipe_spark.util import table_materializer

    # uuid default prefix: two strategies never share a namespace
    assert table_materializer().prefix != table_materializer().prefix

    docs = spark.createDataFrame(
        [
            (i, f"doc {i} words repeat {'alpha beta' if i % 3 else 'gamma'} t{i % 5}", f"src{i % 4}")
            for i in range(40)
        ],
        "doc_id long, text string, source string",
    )
    prior = U._materializer
    with table_materializer() as mat:
        dsir_log_weights(docs, ("src0", "src1"), 64).collect()
        assert mat.tables, "corpus-scaled frame did not create a table"
        live = [t.name for t in spark.catalog.listTables() if t.name.startswith(mat.prefix)]
        assert sorted(live) == sorted(mat.tables)
    # prior strategy restored; every created table dropped
    assert U._materializer is prior
    assert not [
        t for t in spark.catalog.listTables() if t.name.startswith("kpipe_mat_")
    ], "materializer leaked tables past its scope"
    assert mat.tables == []
    mat.drop_all()  # idempotent


_SPAM = "identical boilerplate text repeated across the corpus every day"
_FOX = "the quick brown fox jumps over the lazy dog at dawn today"


def _route_corpus(spark):
    return spark.createDataFrame(
        [
            (100, _SPAM),
            (101, _FOX),
            (102, "completely unrelated prose about stored artifacts"),
            (103, _SPAM),
            (104, _FOX + " again"),
        ],
        "doc_id bigint, text string",
    )


def _route_batch(spark):
    return spark.createDataFrame(
        [(105, _SPAM), (106, "novel words about nothing in particular")],
        "doc_id bigint, text string",
    )


def _route_bands(spark, made):
    from kpipe_spark.functions.corpus_index import CorpusIndex

    idx = CorpusIndex.build(
        spark, _route_corpus(spark), f"route_bands_{uuid.uuid4().hex[:8]}",
        num_buckets=4,
    )
    made.append(idx)
    return idx


def _bpe(spark, made):
    from kpipe_spark.functions.bpe import train_bpe

    return lambda: train_bpe(_route_corpus(spark), num_merges=2)


def _unigram(spark, made):
    from kpipe_spark.functions.unigram import train_unigram

    return lambda: train_unigram(spark, _route_corpus(spark))


def _components(spark, made):
    from kpipe_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a int, id_b int")
    return lambda: connected_components(pairs)


def _partners(spark, made):
    from kpipe_spark.functions.dedup import incremental_minhash_partners

    bands = _route_bands(spark, made)
    return lambda: incremental_minhash_partners(_route_batch(spark), bands.bands_df)


def _admit(spark, made):
    bands = _route_bands(spark, made)
    return lambda: bands.admit(_route_batch(spark))


def _append_if_missing(spark, made):
    bands = _route_bands(spark, made)
    return lambda: bands.append_if_missing(_route_batch(spark))


def _refresh_incremental(spark, made):
    from kpipe_spark.functions.cluster_index import ClusterIndex

    idx = ClusterIndex.build(
        spark, _route_corpus(spark), f"route_clusters_{uuid.uuid4().hex[:8]}"
    )
    made.append(idx)
    bands = _route_bands(spark, made)
    return lambda: idx.refresh_incremental(_route_batch(spark), bands)


def _bloom(spark, made):
    from kpipe_spark.functions.sketches import BloomGate

    gate = BloomGate.build(
        spark, _route_corpus(spark), f"route_bloom_{uuid.uuid4().hex[:8]}"
    )
    made.append(gate)
    keys = spark.createDataFrame([("k1",), ("k2",)], "key string")
    return lambda: gate.update_keys(keys, batch_id=0)


def _hll(spark, made):
    from kpipe_spark.functions.sketches import HllSketch

    sk = HllSketch.build(
        spark, _route_corpus(spark), f"route_hll_{uuid.uuid4().hex[:8]}"
    )
    made.append(sk)
    return lambda: sk.update_batch(_route_batch(spark), batch_id=0)


def _lloyd(spark, made):
    from kpipe_spark.functions.similarity import lloyd_centroids_int

    vectors = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)]) for i in range(12)],
        "vec_id bigint, _e array<double>",
    )
    return lambda: lloyd_centroids_int(vectors, k=2, iters=1)


def _source_kl(spark, made):
    from kpipe_spark.functions.monitoring import bigram_bucket_counts, source_kl_bits

    docs = _route_corpus(spark).withColumn(
        "source", F.concat(F.lit("s"), F.col("doc_id") % 2)
    )
    cnt = bigram_bucket_counts(docs, n_buckets=16)
    return lambda: source_kl_bits(cnt)


@pytest.mark.parametrize(
    "entry, scales",
    [
        pytest.param(_bpe, {"bounded"}, id="train_bpe"),
        pytest.param(_unigram, {"bounded"}, id="train_unigram"),
        pytest.param(_components, {"corpus"}, id="connected_components"),
        pytest.param(_partners, {"bounded"}, id="incremental_minhash_partners"),
        pytest.param(_admit, {"bounded"}, id="CorpusIndex.admit"),
        pytest.param(_append_if_missing, {"bounded"}, id="CorpusIndex.append_if_missing"),
        pytest.param(
            _refresh_incremental, {"bounded"},
            id="ClusterIndex.refresh_incremental",
        ),
        pytest.param(_bloom, {"bounded"}, id="BloomGate.update_keys"),
        pytest.param(_hll, {"bounded"}, id="HllSketch.update_batch"),
        pytest.param(_lloyd, {"corpus"}, id="lloyd_centroids_int"),
        pytest.param(_source_kl, {"bounded"}, id="source_kl_bits"),
    ],
)
def test_entry_points_materialize_through_the_strategy(spark, entry, scales):
    """Every operator that materializes an intermediate does it through
    util.materialize, tagged with its scale, so an installed strategy
    (table_materializer, a reliable checkpoint) reaches it. The
    fixtures are built under the default strategy; only the entry
    point's own calls are recorded."""
    from kpipe_spark.util import set_materializer

    made: list = []
    seen: list[str] = []

    def recording(df, *, eager, scale):
        seen.append(scale)
        return df.localCheckpoint(eager=eager)

    try:
        call = entry(spark, made)
        prev = set_materializer(recording)
        try:
            call()
        finally:
            set_materializer(prev)
        assert set(seen) == scales, seen
    finally:
        for artifact in made:
            artifact.drop()


def test_connected_components_rounds_through_tables(spark):
    """connected_components materializes at corpus scale, so under
    table_materializer every round is a table write. The round's
    observe() change count still arrives through that write: the loop
    stops at the same round as under the default strategy (one table
    per materialization, as many as the default's calls), and the
    labels are the same."""
    from kpipe_spark.functions.dedup import connected_components
    from kpipe_spark.util import set_materializer, table_materializer

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)] + [(10, 11), (20, 20)],
        "id_a int, id_b int",
    )
    calls: list[str] = []

    def counting(df, *, eager, scale):
        calls.append(scale)
        return df.localCheckpoint(eager=eager)

    prev = set_materializer(counting)
    try:
        default = sorted(map(tuple, connected_components(pairs).collect()))
    finally:
        set_materializer(prev)
    with table_materializer() as mat:
        via_tables = sorted(map(tuple, connected_components(pairs).collect()))
        assert len(mat.tables) == len(calls), (mat.tables, calls)
    # edges + seed labels + at least two rounds (the last one unchanged)
    assert len(calls) >= 4 and set(calls) == {"corpus"}
    assert via_tables == default
    # a one-batch graph (refresh_incremental's) is tagged bounded and
    # writes no table
    with table_materializer() as mat:
        bounded = sorted(
            map(tuple, connected_components(pairs, scale="bounded").collect())
        )
        assert mat.tables == []
    assert bounded == default


def test_reclaim_refuses_location_owned_by_other_table(spark, tmp_path):
    """reclaim_orphaned_table_location must NOT delete a directory that
    some OTHER catalog table resolves to as its LOCATION: tableExists
    under the derived name is false, but an EXTERNAL table registered
    under a different name can point at the same managed-style path —
    deleting would lose live data silently. The guard walks the whole
    catalog before fs.delete."""
    import os
    import urllib.parse
    import uuid

    from kpipe_spark.util import reclaim_orphaned_table_location

    stem = f"reclaim_guard_{uuid.uuid4().hex[:8]}"
    wh = urllib.parse.urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    loc = os.path.join(wh, stem)
    spark.range(5).write.parquet(loc)
    ext = f"{stem}_ext"
    try:
        spark.sql(f"CREATE TABLE {ext} USING parquet LOCATION '{loc}'")
        # the derived name has no catalog entry, the directory exists —
        # but ext owns it, so the reclaim must refuse and keep the data
        assert not spark.catalog.tableExists(stem)
        assert reclaim_orphaned_table_location(spark, stem) is False
        assert os.path.exists(loc)
        assert spark.table(ext).count() == 5
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ext}")
    # with the external owner gone the same directory IS an orphan:
    # the reclaim proceeds (DROP TABLE on an external table keeps files)
    assert os.path.exists(loc)
    assert reclaim_orphaned_table_location(spark, stem) is True
    assert not os.path.exists(loc)


def test_reclaim_owner_match_survives_uri_scheme_form(spark):
    """The ownership guard compares locations as qualified URIs, not
    strings: an external table whose LOCATION was declared in a
    different scheme form (explicit ``file://`` authority vs the
    catalog-stored ``file:/`` shorthand) must still be recognized as
    the owner — a string compare misses it and deletes live data."""
    import os
    import urllib.parse
    import uuid

    from kpipe_spark.util import reclaim_orphaned_table_location

    stem = f"reclaim_uri_{uuid.uuid4().hex[:8]}"
    wh = urllib.parse.urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    loc = os.path.join(wh, stem)
    spark.range(3).write.parquet(loc)
    ext = f"{stem}_ext"
    try:
        # triple-slash authority form — textually != DESCRIBE's usual
        # file:/ rendering, same filesystem path
        spark.sql(
            f"CREATE TABLE {ext} USING parquet LOCATION 'file://{loc}'"
        )
        assert not spark.catalog.tableExists(stem)
        assert reclaim_orphaned_table_location(spark, stem) is False
        assert os.path.exists(loc)
        assert spark.table(ext).count() == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ext}")
        assert reclaim_orphaned_table_location(spark, stem)


def test_salted_join_rejects_right_and_full_outer(spark):
    """Round-10 review: the other side is replicated salt times, so an
    other-side key unmatched in the skewed side would surface once per
    replica under right/full outer — salted_join refuses those
    directions instead of silently duplicating."""
    import pytest

    a = spark.range(5).withColumnRenamed("id", "k")
    b = spark.range(10).withColumnRenamed("id", "k")
    for how in ("right", "full", "full_outer", "rightouter"):
        with pytest.raises(ValueError, match="cannot preserve"):
            salted_join(a, b, on="k", how=how, salt=4)
    # left_anti still works and matches the plain join
    plain = set(r["k"] for r in a.join(b, "k", "left_anti").collect())
    salted = set(r["k"] for r in salted_join(a, b, "k", "left_anti").collect())
    assert plain == salted == set()


def test_load_table_events_fallback_is_nanos_scoped(spark):
    """Round-11 review: the events nanos fallback must engage ONLY on
    the nanos schema-conversion refusal — any other failure (missing
    path) propagates unchanged and never sets the session-wide legacy
    conf (the pollution the conditional read exists to avoid)."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    from kpipe_spark.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    assert ev.count() > 0
    assert (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        is None
    )
    with pytest.raises((AnalysisException, Py4JJavaError)):
        load_table(spark, "/nonexistent_sf_dir", "events").count()
    assert (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        is None
    ), "a non-nanos failure must not engage the legacy-conf fallback"
