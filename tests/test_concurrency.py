"""Concurrent query execution: one SparkSession serving many simultaneous
queries (the multi-user analytics property). Spark schedules jobs from
concurrent driver threads across the shared executor pool; results must be
identical to sequential execution — no cross-query state bleed, no memoized
-table races (sources._TABLE_MEMO is per-session and DataFrames are
immutable plan handles, so sharing is safe by construction; this test is
the evidence)."""

from __future__ import annotations


from concurrent.futures import ThreadPoolExecutor

from cbde_mapreduce_spark.plans import REGISTRY

import pytest

pytestmark = pytest.mark.slow  # value-parity/property/scale tier: excluded from the driver-visible default run (pytest.ini)

QUERIES = [
    "q1_pricing_summary",
    "q5_local_supplier",
    "wordcount_documents",
    "sessionize_events",
    "topk_window_per_user",
    "dedup_exact_docs",
    "histogram_event_types",
    "rank_customers_in_nation",
    # plans that touch the session catalog while they are built: SQL text
    # with DataFrame arguments, a fixed-name UDTF, a memory-sink stream
    "q21_waiting_supplier",
    "sql_entry_revenue_by_nation",
    "udtf_analyze_ngrams",
    "streaming_tumbling_counts",
]


def test_concurrent_queries_match_sequential(spark, sf_oracle):
    sequential = {
        name: sorted(map(tuple, REGISTRY[name].fn(spark, sf_oracle).collect()))
        for name in QUERIES
    }

    def run(name: str):
        return name, sorted(map(tuple, REGISTRY[name].fn(spark, sf_oracle).collect()))

    with ThreadPoolExecutor(max_workers=len(QUERIES)) as pool:
        concurrent = dict(pool.map(run, QUERIES))

    for name in QUERIES:
        assert concurrent[name] == sequential[name], f"{name} diverged under concurrency"
