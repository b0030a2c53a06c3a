"""The session's codegen cache holds the engine's working set.

Spark keys each compiled class by its generated source and keeps at
most ``spark.sql.codegen.cache.maxEntries`` of them per JVM (default
100). One pass of perfbench's eight ``llm_corpus`` queries generates
more classes than that, so under the default every pass recompiled
classes the pass before had evicted. ``get_spark`` sizes the cache so
a repeated pass compiles nothing."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from kpipe_spark.session import CODEGEN_CACHE_MAX_ENTRIES
from kpipe_spark.util import free_local_checkpoint

SF_DIR = "/root/testdata/sf0.001"

# perfbench's llm_corpus workload (perfbench/batch.py LLM_CORPUS)
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


def test_repeated_pass_compiles_nothing(spark):
    from kpipe_spark.queries import all_queries

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )
    queries = all_queries()

    def one_pass() -> int:
        c0 = bench._compiles(spark)
        for name in LLM_CORPUS:
            df = queries[name].build(spark, SF_DIR)
            free_local_checkpoint(bench._noop_write(df))
        return bench._compiles(spark) - c0

    one_pass()
    assert bench._compiles(spark) > 0  # the counter is live
    assert one_pass() == 0
