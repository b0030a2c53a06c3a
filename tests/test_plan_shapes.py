"""Physical-plan regression tests — the 'is this the plan you'd want
at 100 TB' gate. These pin the properties that matter at scale:
dimension joins broadcast, filters reach the parquet scan, column
pruning holds, and no operator degenerates to a cartesian product.
"""

from __future__ import annotations

import re

from kpipe_spark.queries import all_queries

SF = "/root/testdata/sf0.01"


def plan_of(spark, name: str) -> str:
    df = all_queries()[name].build(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q02_dimension_joins_broadcast(spark):
    plan = plan_of(spark, "q02_revenue_by_nation")
    joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|CartesianProduct)", plan)
    assert joins and set(joins) == {"BroadcastHashJoin"}, joins


def test_q01_filter_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q01_pricing_summary")
    assert "PushedFilters:" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].splitlines()[0]
    # column pruning: the scan must not read columns q01 never touches
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema
    assert "l_orderkey" not in read_schema


def test_d08_vectors_never_shuffle(spark):
    """Similarity scoring: probes broadcast, the corpus is scanned in
    place; the only shuffle carries (query, neighbor, sim) tuples for
    the per-query top-k window — never embedding arrays."""
    plan = plan_of(spark, "d08_similarity_topk")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # the row exchanged into the window must be scalars only
    window_exchange = plan.split("Exchange hashpartitioning(query_id")[-1]
    assert "_cvec" not in window_exchange.splitlines()[0]


def test_no_query_degenerates_to_cartesian(spark):
    """Cross products are only ever broadcast nested loops over a
    bounded probe side (a query batch, a centroid table); a
    CartesianProduct node in any registered query is a planning bug."""
    for name in all_queries():
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name


def test_whole_stage_codegen_covers_pipeline_ops(spark):
    """The outcome-column pipeline must stay inside whole-stage codegen
    (one fused stage), not fall back to interpreted eval. AQE finalizes
    the physical plan at execution, so run the query first."""
    df = all_queries()["p01_outcome_accounting"].build(spark, SF)
    df.collect()  # count() would plan its own agg; execute THIS frame
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # codegen regions print as "*(n)" prefixes in the final plan; the
    # operator chain (projects + partial agg) must be inside one
    assert "*(1)" in plan
    assert "*(1) Project" in plan or "*(1) HashAggregate" in plan
    # exactly one shuffle: the status-count aggregation
    assert "Exchange hashpartitioning(_status" in plan


def test_fact_join_falls_back_to_sort_merge_at_scale(spark):
    """With broadcast off (how a 100 TB fact-fact join looks), the plan
    must become a SortMergeJoin on the shuffle keys — never a nested
    loop — and AQE still finalizes it."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = all_queries()["q02_revenue_by_nation"].build(spark, SF)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_broadcast_hints_are_reviewed_and_bounded(spark):
    """Broadcast-hint honesty audit (round-3 ADVICE class): every
    `F.broadcast(x)` call site in the library must name an operand from
    the reviewed allowlist below — operands bounded by construction
    (1-row aggregates, histograms, centroid/probe sets, dup-graph
    components, TPC-H dimensions, benchmark-sized eval sets), never a
    frame that scales with the corpus. Adding a new hint fails this
    test until the operand is reviewed and listed with its bound."""
    import os
    import re

    allowed = {
        # --- 1-row / few-row aggregates (scalar stats, totals) ---
        "tot", "total", "stats", "denom", "m", "n", "top", "g",
        "ntot",        # llm_ops11 d69: 1-row corpus token total
        "ttypes",      # llm_ops14 d95: 1-row bigram-type total
        "stot",        # llm_ops11 d72: per-source bigram totals (|sources| rows)
        "corp",        # llm_ops11 d72: 4096-bucket corpus histogram
        "vocab",       # llm_ops11 d73: 1-row vocab/token totals
        "gl",          # llm_ops11 d74: dim-row global centroid sums
        "ks",          # llm_ops11 d75: literal coverage-K grid (6 rows)
        "vocab16",     # llm_ops11 d76: top-16 vocab (LIMIT-bounded)
        # --- bounded-by-construction model artifacts ---
        "cents", "centroids", "probes",  # k centroids / n_probe cells
        "cents_n",     # similarity.ivf_topk: the same k-row centroid
                       # table + a per-row precomputed norm column
        "cn",          # llm_ops6 _semdedup_pairs: k-row centroid table
                       # with precomputed norms (cosine_pre)
        "cellcnt",      # llm_ops13 d93/d94: k_cells-row cell-count profile
        "counts",      # ann_index adaptive probe: n_cells-row profile
                       # (derived groupBy(cell) or the injected d62-style
                       # stored table — bounded by the cell count either way)
        "cms",         # llm_ops15 d96: lanes*width-row sketch (4096, fixed)
        "bits",        # llm_ops15 d97: <=2^14-row Bloom bit table (fixed)
        "summary",     # llm_ops15 d98: 1-row HLL register summary
        "sketch",      # sketches.CmsSketch.estimate: <= lanes*width
                       # aggregated counters (4096, fixed forever)
        "probe_stats",  # llm_ops13 d93/d94: one row per panel query
        "cb",          # ann_index PQ kernels: m*k-row codebook (1024
                       # rows in d86-d89's family)
        "adc",         # ann_index PQ kernels: queries*nprobe*m*k ADC
                       # lookup table (an eval panel or serving batch)
        "qv",          # ann_index refine: the bounded query panel
        "hist",        # selection.py: <=10001-row quality histogram
        "freq",        # vocab-sized token document-frequency table
        "wseg",        # llm_ops14 d91: vocab-sized word->pieces map
        "score_df",    # unigram segment_pieces_joined: the stored
                       # piece-score table (vocab-BUDGET-bounded; the
                       # broadcast replaces a 2·|vocab| plan literal)
        "df",          # llm_ops3 tf-idf: vocab-sized doc-frequency
        "size_gated_comp",  # dedup.join_components ONLY: hinted iff the
                            # component table's plan-stat size is under
                            # COMPONENT_BROADCAST_MAX_BYTES — any direct
                            # F.broadcast(comp) elsewhere fails this audit
        "comp.agg",    # 1-row count over comp
        "cal",         # calendar grid (days in range)
        "q",           # similarity.py probe/query set
        "hits",        # llm_ops4: subset of eval grams
        "eval_grams",  # decontamination eval suite (benchmark-sized)
        "evals",       # same, bucketed
        # --- TPC-H dimension tables / dimension-derived filters ---
        "t.nation", "t.region", "t.supplier", "t.customer", "t.part",
        "part", "supp", "n1", "n2", "supp_nation", "cust_region",
        "euro_nations", "asia_supp", "lparts", "brand_parts",
        "econ_parts", "bad_supp", "building", "brand_avg",
        "thresholds",  # per-(brand,container) part thresholds
        "big",         # Q18-shape: orders over quantity threshold
    }
    root = os.path.join(os.path.dirname(__file__), "..", "kpipe_spark")
    pat = re.compile(r"F\.broadcast\(\s*([A-Za-z_][\w.]*)")
    offenders = []
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as fh:
                src = fh.read()
            for mm in pat.finditer(src):
                op = mm.group(1)
                # normalize method chains: t.nation.select -> t.nation,
                # eval_grams.select -> eval_grams, comp.agg -> comp.agg
                segs = op.split(".")
                candidates = {op, segs[0], ".".join(segs[:2])}
                if candidates.isdisjoint(allowed):
                    line = src[: mm.start()].count("\n") + 1
                    offenders.append(f"{fn}:{line} F.broadcast({op}...)")
    assert not offenders, (
        "unreviewed broadcast hints (add to allowlist with a bound):\n"
        + "\n".join(offenders)
    )


def test_m03_id_exchange_is_one_task_wave(spark):
    """m03's only exchange carries bare ids into the generate+decode
    mapInPandas stage, and it has exactly defaultParallelism partitions:
    every Python task pays a fixed worker cost, so partitions beyond the
    task slots only add waves."""
    plan = plan_of(spark, "m03_media_features")
    exchanges = re.findall(
        r"Exchange hashpartitioning\(_kind_r#\d+L?, _size_class#\d+L?, "
        r"_salt#\d+L?, (\d+)\), REPARTITION_BY_NUM",
        plan,
    )
    assert exchanges == [str(spark.sparkContext.defaultParallelism)], plan


def test_d11_scores_pairs_in_one_python_task_wave(spark):
    """d11's pair scoring is one Arrow-batched Python stage of at most
    defaultParallelism tasks: build() runs no job, the action runs that
    stage and the map stage of its one exchange, and the executed plan
    has no nested-loop join and no interpreted zip_with fold."""
    from kpipe_spark.catalog import load_tables

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    load_tables(spark, SF).embeddings  # the catalog's one-time schema read
    try:
        sc.setJobGroup("d11-build", "plan pin")
        df = all_queries()["d11_embedding_neardup"].build(spark, SF)
        sc.setJobGroup("d11-action", "plan pin")
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("d11-build") == []
    jobs = tracker.getJobIdsForGroup("d11-action")
    assert len(jobs) <= 2, jobs

    def names(cluster):
        out = [cluster.name()]
        it = cluster.childNodes().iterator()
        while it.hasNext():
            out.append(it.next().name())
        it = cluster.childClusters().iterator()
        while it.hasNext():
            out += names(it.next())
        return out

    python_stages = [
        tracker.getStageInfo(sid).numTasks
        for j in jobs
        for sid in tracker.getJobInfo(j).stageIds
        if any(
            m in n
            for n in names(store.operationGraphForStage(sid).rootCluster())
            for m in ("Python", "Pandas", "InArrow")
        )
    ]
    assert len(python_stages) == 1, python_stages
    assert python_stages[0] <= sc.defaultParallelism

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "zip_with" not in plan


def test_pq_kernels_have_one_home():
    """One implementation per kernel: under kpipe_spark/ the 2^24
    fixed-point scale and the unrolled fixed-point squared L2 are
    defined only in functions/ann_index.py — every other module imports
    them — and the module-level PQ kernels there broadcast only the
    bounded operands the audit above reviewed: centroids, probes, the
    codebook, the ADC table and the query panel."""
    import ast
    import os

    root = os.path.join(os.path.dirname(__file__), "..", "kpipe_spark")
    home = os.path.join("functions", "ann_index.py")
    scale = re.compile(r"1\s*<<\s*24")
    unrolled_l2 = re.compile(r"element_at\([^()]*\)\s*-\s*F\.element_at\(")
    offenders = []
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            if os.path.relpath(path, root) == home:
                continue
            with open(path) as fh:
                src = fh.read()
            for pat in (scale, unrolled_l2):
                for mm in pat.finditer(src):
                    line = src[: mm.start()].count("\n") + 1
                    offenders.append(f"{fn}:{line} {mm.group(0)}")
    assert not offenders, (
        "PQ kernel code outside functions/ann_index.py (import it):\n"
        + "\n".join(offenders)
    )

    with open(os.path.join(root, home)) as fh:
        tree = ast.parse(fh.read())
    kernel_operands = {"cents", "probes", "cb", "adc", "qv"}
    seen = set()
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
            ):
                op = node.args[0]
                name = op.id if isinstance(op, ast.Name) else ast.dump(op)
                assert name in kernel_operands, (fn.name, name)
                seen.add(name)
    assert {"cents", "cb", "adc"} <= seen, seen


def test_checkpoints_go_through_materialize():
    """One materialization path: under kpipe_spark/ a checkpoint is taken
    only by util.py (``materialize`` and its strategies) and by
    StreamRunner's pinned per-batch checkpoint, so a strategy installed
    with ``set_materializer`` reaches every other intermediate."""
    import os

    root = os.path.join(os.path.dirname(__file__), "..", "kpipe_spark")
    allowed = {"util.py", os.path.join("streaming", "runner.py")}
    offenders = []
    for dirpath, _, files in os.walk(root):
        for fn in files:
            path = os.path.join(dirpath, fn)
            if not fn.endswith(".py") or os.path.relpath(path, root) in allowed:
                continue
            with open(path) as fh:
                for n, line in enumerate(fh, 1):
                    if ".localCheckpoint(" in line:
                        offenders.append(f"{os.path.relpath(path, root)}:{n}")
    assert not offenders, (
        "direct checkpoint outside util.materialize:\n" + "\n".join(offenders)
    )


def test_shape_batch_exchanges_per_mode(spark, tmp_path):
    """A micro-batch is respread only where its mode needs it: PARALLEL
    round-robins an under-split batch to the session's parallelism,
    KEY_ORDERED's key exchange is the only shuffle, and SEQUENTIAL
    (one partition) has none."""
    from kpipe_spark.streaming.modes import ProcessingMode, shape_batch

    path = str(tmp_path / "batch")
    spark.range(100).selectExpr(
        "cast(id % 7 as string) as key", "id as offset"
    ).coalesce(1).write.parquet(path)
    batch = spark.read.parquet(path)

    def plan(mode: ProcessingMode) -> str:
        shaped = shape_batch(batch, mode)
        return shaped._jdf.queryExecution().executedPlan().toString()

    # the one small file is one split on any host: Spark splits a file
    # only past maxSplitBytes, which never drops below openCostInBytes
    parallel = plan(ProcessingMode.PARALLEL)
    if spark.sparkContext.defaultParallelism > 1:
        assert "RoundRobinPartitioning" in parallel, parallel
    else:  # one core: nothing to respread to
        assert "Exchange" not in parallel, parallel
    keyed = plan(ProcessingMode.KEY_ORDERED)
    assert len(re.findall(r"Exchange ", keyed)) == 1, keyed
    assert re.search(r"Exchange hashpartitioning\(key#", keyed), keyed
    assert "Exchange" not in plan(ProcessingMode.SEQUENTIAL)


def test_component_join_is_size_gated_both_regimes(spark, tmp_path):
    """round-10 verdict's one perf-weak finding: the component-consumer
    join family must not broadcast unconditionally — at realistic web
    dup rates the component table is corpus-order and a planned
    broadcast fails outright at 100 TB. join_components hints broadcast
    only when the comp plan-stat size is under the bound; over it the
    join ships unhinted (doc_id-keyed shuffle, AQE free to runtime-
    convert). The comp side is parquet-backed — the stored-ClusterIndex
    reality, whose file-size stats are what the gate reads (a Python
    createDataFrame is a LogicalRDD with UNKNOWN stats and correctly
    never earns the hint). Auto-broadcast is disabled so the HINT's
    presence is exactly what the plan shows (scaled-down-threshold
    pattern from test_fact_join_falls_back_to_sort_merge_at_scale)."""
    import os

    from kpipe_spark.functions.dedup import join_components

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet")).select(
        "doc_id"
    )
    comp_path = str(tmp_path / "comp.parquet")
    spark.createDataFrame(
        [(f"doc-{i}", "doc-0") for i in range(64)],
        "doc_id string, cluster_id string",
    ).write.parquet(comp_path)
    comp = spark.read.parquet(comp_path)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        under = join_components(docs, comp)  # tiny stored comp -> hinted
        plan = under._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
        # same comp, scaled-down bound -> the corpus-order regime:
        # no planned broadcast anywhere in the join
        over = join_components(docs, comp, max_broadcast_bytes=0)
        plan = over._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "CartesianProduct" not in plan
        # unknown-stats comp (LogicalRDD): the gate must refuse the hint
        unknown = spark.createDataFrame(
            [("doc-0", "doc-0")], "doc_id string, cluster_id string"
        )
        plan = (
            join_components(docs, unknown)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" not in plan, plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
