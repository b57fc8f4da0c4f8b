"""Session defaults that the benchmarks depend on.

Spark keeps compiled generated classes in a cache capped by the static
conf ``spark.sql.codegen.cache.maxEntries`` (default 100). The ``pack``
benchmark's seven keys alone use ~158 distinct classes, so at the
default a second pass over them recompiles ~150 classes it compiled in
the first. ``get_session`` sizes the cache to the query working set;
these tests pin that a repeated pass compiles (almost) nothing.
"""

from __future__ import annotations

import os

import pytest

from parquet_stream_writer_spark.operators import all_queries, dedup
from parquet_stream_writer_spark.session import CODEGEN_CACHE_MAX_ENTRIES, codegen_counters

# The ``pack`` workload's keys (``PACK_KEYS`` in perfbench/workloads.py).
PACK_KEYS = (
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "dedup_minhash_lsh",
    "graph_pagerank_bipartite",
    "text_token_stats",
    "similarity_pair_topk",
    "events_tumbling",
)
SMALL_SF = "/root/testdata/sf0.001"


def test_codegen_cache_is_sized_by_the_module_constant(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_MAX_ENTRIES)
    assert codegen_counters(spark)["cache_max_entries"] == CODEGEN_CACHE_MAX_ENTRIES


@pytest.mark.skipif(not os.path.isdir(SMALL_SF), reason=f"{SMALL_SF} not generated")
def test_second_pack_pass_compiles_no_classes(spark):
    """A second pass over the pack keys finds every generated class it
    needs in the cache: a cache smaller than the working set evicts each
    class before its next use, and the pass recompiles ~150 of them."""
    queries = all_queries()

    def one_pass() -> int:
        before = codegen_counters(spark)["compiles"]
        for key in PACK_KEYS:
            dedup.clear_dedup_memo()
            queries[key](spark, SMALL_SF).write.mode("overwrite").format("noop").save()
        return codegen_counters(spark)["compiles"] - before

    # earlier tests in the same session may have compiled them all already
    first = one_pass()
    second = one_pass()
    # a few plans vary between runs under AQE; everything else is cached
    assert second <= 5, f"second pass compiled {second} classes (first pass {first})"
