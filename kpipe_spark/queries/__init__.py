"""Central query registry.

Every operator the engine claims in SURVEY.md §2 registers here as a
``Query``: a Spark builder (spark, sf_dir) -> DataFrame plus, when the
semantics are SQL-expressible, the equivalent DuckDB oracle SQL. The
driver contract (``__spark_entry__``) and the pytest oracle suite both
iterate this registry, so there is exactly one source of truth.

Column-name discipline: every computed column is aliased identically in
the Spark builder and the oracle SQL (the driver hashes values under
sorted column names).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    description: str = "",
    tags: tuple[str, ...] = (),
):
    """Decorator: register a (spark, sf_dir) -> DataFrame builder."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = Query(name, fn, oracle, description, tags)
        return fn

    return deco


# The external driver grades the FIRST 50 registry entries against the
# DuckDB oracle. This window is NO LONGER hand-reasoned: it is the
# output of `python -m kpipe_spark.queries.rotation`, which computes
# stalest-first evidence rotation (sentinels -> first-time grades ->
# ascending latest-grade round, registry-order ties) over the committed
# CORRECTNESS_r0*.json artifacts — see rotation.py's docstring for the
# rule (the rows-only exclusion is dormant since round 11: every
# registry entry is oracle-backed now). tests/test_rotation_window.py
# asserts this literal
# equals the computation, so a drifted list fails CI instead of
# silently aging a grade (that drift happened once: round 8's
# hand-typed list dropped d24_dup_clusters from its own count).
# All oracle-backed queries run the identical
# DuckDB compare in pytest regardless of window position.
FLAGSHIP_50: tuple[str, ...] = (
    "q01_pricing_summary",
    "p01_outcome_accounting",
    "d05_minhash_neardup",
    "q49_exists_subquery",
    "q56_exact_median",
    "q68_argmax_aggregates",
    "q70_lateness_priority_counts",
    "m03_media_features",
    "d23_mllib_minhash_join",
    "d27_ivf_kmeans_topk",
    "d28_bpe_train",
    "d49_semantic_decontamination",
    "d50_quality_weighted_sampling",
    "d51_packing_efficiency",
    "d52_leakage_safe_split",
    "m04_resize_plan",
    "d53_cdc_chunk_dedup",
    "d93_adaptive_nprobe_topk",
    "d94_adaptive_nprobe_recall",
    "d90_unigram_train",
    "d91_unigram_fertility",
    "d92_unigram_piece_coverage",
    "d95_kneser_ney_logprob",
    "q41_sliding_window",
    "q43_distribution_ranks",
    "q47_time_bucket_window",
    "q48_null_handling_and_editdist",
    "q50_histogram_buckets",
    "q52_posexplode_lateral",
    "q53_large_volume_orders",
    "q54_nation_volume_shipping",
    "q55_inactive_rich_customers",
    "q57_filtered_aggregates",
    "q58_customer_order_distribution",
    "q59_promo_revenue",
    "q60_small_quantity_revenue",
    "q61_disjunctive_part_revenue",
    "q62_waiting_supplier",
    "q63_market_share",
    "q64_returned_item_revenue",
    "q65_top_supplier",
    "q66_stat_aggregates",
    "q67_activity_streaks",
    "q69_lateral_topk",
    "q71_event_funnel",
    "q72_retention_cohorts",
    "q73_event_transitions",
    "q74_loyal_customers_by_nation",
    "q75_boolean_aggregates",
    "q76_error_rate_anomaly",
)


# THE canonical module sequence: all_queries() imports exactly these
# (importlib over this tuple), and canonical_order() keys on the same
# constant, so the rotation computation cannot be permuted by import
# timing (a test importing a query module directly, e.g.
# tests/test_llm_ops13.py, registers that module's queries FIRST and
# reorders the raw QUERIES dict for the whole process) and a new
# module cannot be imported without also being ordered.
QUERY_MODULES: tuple[str, ...] = (
    "llm_ops",
    "llm_ops2",
    "llm_ops3",
    "llm_ops4",
    "llm_ops5",
    "llm_ops6",
    "llm_ops7",
    "llm_ops8",
    "llm_ops9",
    "llm_ops10",
    "llm_ops11",
    "llm_ops12",
    "llm_ops13",
    "llm_ops14",
    "llm_ops15",
    "pipeline_queries",
    "relational",
    "relational2",
    "relational3",
    "relational4",
    "relational5",
    "relational6",
    "relational7",
)


def canonical_order() -> list[str]:
    """Registry names in import-timing-INDEPENDENT order: canonical
    module sequence (``QUERY_MODULES``), within-module registration
    order. ``list(QUERIES)`` is NOT this when any query module was
    imported directly before ``all_queries()`` ran — the rotation
    window must be a pure function of committed state, so it keys on
    this order."""
    all_queries()
    mod_pos = {
        f"kpipe_spark.queries.{m}": i for i, m in enumerate(QUERY_MODULES)
    }
    ins_pos = {n: i for i, n in enumerate(QUERIES)}
    return sorted(
        QUERIES,
        key=lambda n: (mod_pos[QUERIES[n].build.__module__], ins_pos[n]),
    )


def all_queries() -> dict[str, Query]:
    # import side effect populates QUERIES; QUERY_MODULES is the ONE
    # list (canonical_order keys on the same constant, so the import
    # set and the canonical order cannot drift apart)
    import importlib

    for mod in QUERY_MODULES:
        importlib.import_module(f"kpipe_spark.queries.{mod}")

    missing = [n for n in FLAGSHIP_50 if n not in QUERIES]
    if missing:
        raise KeyError(f"FLAGSHIP_50 references unknown queries: {missing}")
    ordered = {n: QUERIES[n] for n in FLAGSHIP_50}
    ordered.update((n, q) for n, q in QUERIES.items() if n not in ordered)
    return ordered
