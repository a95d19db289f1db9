#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1),
each run from a freshly built plan.

Prints ONE JSON line:
    {"metric": "headline_fresh_plan_runtime", "value": <sec>, "unit": "sec",
     "cpu_s": ..., "stolen_s": ..., "queries": {"q1_pricing_summary": sec, ...},
     "tracked": {...}, "sf": 0.1, "planning_sec": ..., ...}

Method: one ``get_spark()`` session with the engine's own defaults, as wide
as the cores the process may run on (``SPARK_GRAFT_CPUS`` overrides the
width). Every run goes through ``time_fresh``: release the cached tables and
every persistent RDD, then time building the plan from the registry plus
``toPandas()`` over the whole plan (an iterative query runs its rounds while
its plan is built), so each run executes every shuffle stage and reuses
nothing an earlier run left. One
unmeasured pass over all names warms the JVM, codegen and the Python workers;
``RUNS`` measured passes follow, each starting one name later than the pass
before it. A name's time is its median over the
measured passes of wall time less the hypervisor's steal (``/proc/stat``,
read through ``perfbench/probes.py``); ``value`` sums it over ``HEADLINE``,
and ``cpu_s``/``stolen_s`` sum the medians of the process tree's CPU seconds
and the steal the same way. ``tracked`` names are timed alike and stay out
of the total. ``planning_sec`` is the summed median plan-build time of all
names. Per-pass samples go to ``.scratch/bench_detail.json``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cbde_mapreduce_spark.plans import REGISTRY  # noqa: E402
from cbde_mapreduce_spark.session import get_spark  # noqa: E402
from perfbench.probes import stolen_s, tree_cpu_s  # noqa: E402

#: One representative per major family: TPC-H joins and aggregates, text,
#: windows, similarity, dedup, LLM-pipeline packing and an iterative graph.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "wordcount_documents",
    "topk_window_per_user",
    "sessionize_events",
    "cosine_topk_similarity",
    "dedup_exact_docs",
    "q7_nation_volume",
    "scd2_customer_status",
    "pack_sequences_chunked",
    "sparse_cosine_topk_docs",
    "pagerank_trade_graph",
]

#: Arrow-native plan shapes and the heaviest registry name: timed like the
#: headline, kept out of its total.
TRACKED = [
    "arrow_grouped_minmax_norm",
    "arrow_map_doc_stats",
    "udtf_analyze_ngrams",
    "item_item_cf_topk",
]

#: measured passes after the warm one: a pass of all names at sf0.1 takes
#: 50-60 s on 4 vCPUs, and a whole run must stay under 5 minutes there
RUNS = 2


def release(spark) -> None:
    """Drop every cached table and unpersist every persistent RDD."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def time_fresh(spark, sf_dir: str, name: str) -> dict[str, float]:
    """Build registry query ``name`` fresh and time its build and full
    execution together.

    Returns ``run_s`` (build plus execution, wall less steal), ``build_s``
    (the build's share of the wall), ``cpu_s`` (process tree) and
    ``stolen_s``. A loop's rounds run while its plan is built, so the build
    is on the clock. The session holds no cached relation and no persistent
    RDD when the build starts or after the execution.
    """
    release(spark)
    try:
        s0, c0, t0 = stolen_s(), tree_cpu_s(), time.perf_counter()
        df = REGISTRY[name].fn(spark, sf_dir)
        build = time.perf_counter() - t0
        df.toPandas()
        wall = time.perf_counter() - t0
        cpu, stolen = tree_cpu_s() - c0, stolen_s() - s0
    finally:
        release(spark)
    return {"build_s": build, "run_s": wall - stolen, "cpu_s": cpu, "stolen_s": stolen}


def run(
    spark, sf_dir: str, headline: list[str], tracked: list[str], runs: int
) -> tuple[dict, dict[str, list[dict[str, float]]]]:
    """One warm pass, then ``runs`` measured passes over ``headline + tracked``;
    returns the record and each name's per-pass samples. Pass ``i`` (the warm
    pass is pass 0) starts at name ``i``, so a name's neighbours change from
    pass to pass."""
    names = headline + tracked
    samples = {n: [] for n in names}
    for i in range(runs + 1):
        k = i % len(names)
        for name in names[k:] + names[:k]:
            sample = time_fresh(spark, sf_dir, name)
            if i:
                samples[name].append(sample)

    def med(name: str, key: str) -> float:
        return statistics.median(s[key] for s in samples[name])

    record = {
        "metric": "headline_fresh_plan_runtime",
        "value": round(sum(med(n, "run_s") for n in headline), 4),
        "unit": "sec",
        "cpu_s": round(sum(med(n, "cpu_s") for n in headline), 3),
        "stolen_s": round(sum(med(n, "stolen_s") for n in headline), 3),
        "queries": {n: round(med(n, "run_s"), 4) for n in headline},
        "tracked": {n: round(med(n, "run_s"), 4) for n in tracked},
        "sf": float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1"),
        "planning_sec": round(sum(med(n, "build_s") for n in names), 4),
        "runs_per_query": runs,
        "master": spark.sparkContext.master,
        "note": "fresh plan per run, median of wall - steal; "
        "detail in .scratch/bench_detail.json",
    }
    return record, samples


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="cbde-mapreduce-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    record, samples = run(spark, sf_dir, HEADLINE, TRACKED, RUNS)
    try:
        os.makedirs(".scratch", exist_ok=True)
        with open(".scratch/bench_detail.json", "w") as f:
            json.dump(dict(record, samples=samples), f, indent=1)
    except OSError:
        pass  # the sidecar is best-effort; the printed line is the record
    line = json.dumps(record)
    # a reader that keeps only the last 2000 chars of stdout gets the whole line
    assert len(line) < 1900, f"bench JSON line too long ({len(line)} chars)"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
