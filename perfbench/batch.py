"""Batch workloads: a closed loop, one client, noop sink, warmed session.

Each run first makes one untimed pass that collects every query's
output and checks it (row count against the recorded oracle count, then
a value-level compare against the DuckDB oracle); it is also each
query's first, cold execution. Timed passes follow, each in a
seed-permuted query order; their number is fixed by the run length. A
query's time is ``build()`` plus its noop-sink action.

In a traced run, untraced passes come first and as many traced passes
second, so the tracing overhead is measured inside the same run; the
traced passes tag ``build()`` and the action with their own Spark job
groups and split each query's time into builder, planning, job and
residue parts.
"""

from __future__ import annotations

import random
import statistics
import sys
import time

from layers import PlanPhases, Spans, StatusStore, geomean, stage_totals, union_s

# every sixth registered relational query: q01, q07, ..., q85
RELATIONAL = (
    "q01_pricing_summary",
    "q07_join_left_outer",
    "q13_window_rank",
    "q19_distinct_agg",
    "q25_grouping_sets",
    "q31_correlated_scalar_subquery",
    "q37_sessionization",
    "q43_distribution_ranks",
    "q49_exists_subquery",
    "q55_inactive_rich_customers",
    "q61_disjunctive_part_revenue",
    "q67_activity_streaks",
    "q73_event_transitions",
    "q79_gap_fill_locf",
    "q85_mode_per_group",
)

# the offenders ROADMAP names (d11 pair scoring, d24 eager builder
# work, d37 single-task stages), the two Python-worker queries (m03
# mapInPandas, d79 pandas UDF) and three cheap headline queries over
# the pipeline outcome columns, exact dedup and text fingerprints
LLM_CORPUS = (
    "d11_embedding_neardup",
    "d24_dup_clusters",
    "d37_semdedup_clusters",
    "m03_media_features",
    "d79_text_normalization",
    "p01_outcome_accounting",
    "d01_dedup_exact",
    "d12_doc_fingerprint",
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def check_pass(spark, names, registry, sf_dir, expected_rows, con) -> list[tuple[str, str]]:
    """Untimed pass: collect and check every query. Returns failures."""
    from oracle import mismatch

    failures = []
    for n in names:
        try:
            pdf = registry[n].build(spark, sf_dir).toPandas()
            want = expected_rows.get(n)
            if want is None:
                why = "no recorded oracle row count"
            elif len(pdf) != want:
                why = f"rows {len(pdf)} != recorded oracle {want}"
            else:
                why = mismatch(pdf, con, registry[n].oracle)
        except Exception as e:  # noqa: BLE001 — a failing query is a counted outcome
            why = f"{type(e).__name__}: {e}"[:300]
        if why:
            print(f"perfbench: {n} FAILED: {why}", file=sys.stderr)
            failures.append((n, why))
    return failures


def _untraced_pass(spark, names, registry, sf_dir) -> tuple[dict[str, float], float]:
    """Per-query times (``build()`` plus action), and the pass's time
    in noop-sink actions alone."""
    times, action_s = {}, 0.0
    for n in names:
        t0 = time.perf_counter()
        df = registry[n].build(spark, sf_dir)
        t1 = time.perf_counter()
        _noop(df)
        t2 = time.perf_counter()
        times[n] = t2 - t0
        action_s += t2 - t1
    return times, action_s


class _PassTracer:
    """Traced pass: each query's ``build()`` and action run under their
    own job group; the listener bus is drained (outside the timed
    intervals) before and after the action, so the plan-phase event
    that arrives in between is the action's own."""

    def __init__(self, spark, spans: Spans) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans = spans
        self.status = StatusStore(spark)
        self.plans = PlanPhases(spark)

    def run(self, names, registry, sf_dir, tag: str) -> tuple[dict[str, float], dict]:
        times, per_query = {}, {}
        pass_span = self.spans.add("pass", time.time(), 0.0, tag=tag)
        for n in names:
            gb, ga = f"{tag}:{n}:build", f"{tag}:{n}:action"
            self.sc.setJobGroup(gb, n)
            t0 = time.time()
            df = registry[n].build(self.spark, sf_dir)
            t1 = time.time()
            self.sc.setJobGroup(ga, n)
            self.status.drain_listener_bus()
            k = self.plans.count()
            t2 = time.time()
            _noop(df)
            t3 = time.time()
            self.status.drain_listener_bus()
            plan = self.plans.last() if self.plans.count() > k else 0.0
            times[n] = (t1 - t0) + (t3 - t2)
            per_query[n] = (gb, ga, t0, t1, t2, t3, plan)
        self.sc.setJobGroup("perfbench", "perfbench")
        self.spans.items[pass_span].end = time.time()
        return times, self._layers(pass_span, per_query)

    def _layers(self, pass_span: int, per_query: dict) -> dict:
        groups = {g for v in per_query.values() for g in v[:2]}
        by_group: dict[str, list[dict]] = {}
        for j in self.status.jobs(groups):
            by_group.setdefault(j["group"], []).append(j)
        acc = {"build.s": 0.0, "build.jobs": 0, "build.jobs_s": 0.0, "plan.s": 0.0,
               "exec.jobs_s": 0.0, "residue_s": 0.0}
        stages = []
        for n, (gb, ga, t0, t1, t2, t3, plan) in per_query.items():
            bj, aj = by_group.get(gb, []), by_group.get(ga, [])
            build_jobs = union_s([(j["start"], j["end"]) for j in bj if j["end"]])
            act_jobs = union_s([(j["start"], j["end"]) for j in aj if j["end"]])
            q = self.spans.add("query", t0, t3, pass_span, query=n)
            self.spans.add("build", t0, t1, q, jobs=len(bj), jobs_s=build_jobs)
            self.spans.add("action", t2, t3, q, jobs=len(aj), jobs_s=act_jobs, plan_s=plan)
            acc["build.s"] += t1 - t0
            acc["build.jobs"] += len(bj)
            acc["build.jobs_s"] += build_jobs
            acc["plan.s"] += plan
            acc["exec.jobs_s"] += act_jobs
            acc["residue_s"] += max(0.0, (t3 - t2) - plan - act_jobs)
            for j in bj + aj:
                for sid in j["stages"]:
                    s = self.status.stage(sid)
                    if s is not None:
                        stages.append(s)
        acc.update(stage_totals(stages))
        return acc


def run(spark, names, registry, sf_dir, seed, seconds, pass_s_nominal, trace, expected_rows, con, spans):
    """Check pass, then about ``seconds`` of timed passes
    (``seconds / pass_s_nominal`` of them, at least two). Returns
    (end-to-end metrics, per-layer metrics, counts, failures, attempted)."""
    rng = random.Random(seed)
    t0 = time.perf_counter()
    failures = check_pass(spark, names, registry, sf_dir, expected_rows, con)
    t1 = time.perf_counter()
    bad = {n for n, _ in failures}
    timed = [n for n in names if n not in bad]
    passes: list[dict[str, float]] = []
    action_s: list[float] = []
    traced: list[tuple[dict[str, float], dict]] = []
    # a fixed number of passes, not a deadline: a faster session would
    # otherwise run more passes and take its median further into the
    # JIT warm-up, which moves the median more than the speed-up itself
    n_passes = max(2, round(seconds / pass_s_nominal))
    for _ in range(n_passes if timed else 0):
        order = timed[:]
        rng.shuffle(order)
        times, acted = _untraced_pass(spark, order, registry, sf_dir)
        passes.append(times)
        action_s.append(acted)
    # a traced run adds as many traced passes after the untraced ones,
    # in the same warmed session, so the overhead is the difference of
    # the two medians; the listener that records planning phases is
    # only attached for the traced passes
    if trace and timed:
        tracer = _PassTracer(spark, spans)
        for i in range(n_passes):
            order = timed[:]
            rng.shuffle(order)
            traced.append(tracer.run(order, registry, sf_dir, f"p{n_passes + i}"))

    metrics: dict[str, float] = {}
    counts: dict = {"passes": len(passes), "traced_passes": len(traced),
                    "check_pass_s": t1 - t0}
    if passes:
        pass_s = statistics.median(sum(p.values()) for p in passes)
        per_q = {n: statistics.median(p[n] for p in passes) for n in timed}
        metrics.update({
            "pass_s": pass_s,
            "query_geomean_s": geomean(per_q.values()),
            # result rows the noop sink takes per second of action
            # time: builder work is in pass_s but not here
            "drain_rps": sum(expected_rows[n] for n in timed) / statistics.median(action_s),
        })
        counts["pass_totals_s"] = [sum(p.values()) for p in passes]
        counts["pass_action_s"] = action_s
        counts["per_query_median_s"] = per_q
    layer: dict[str, float] = {}
    if traced:
        layer = {k: statistics.median(t[1][k] for t in traced) for k in traced[0][1]}
        traced_pass = statistics.median(sum(t[0].values()) for t in traced)
        layer["trace.overhead_s"] = traced_pass - metrics.get("pass_s", traced_pass)
    return metrics, layer, counts, failures, len(names)
