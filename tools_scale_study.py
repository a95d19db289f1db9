#!/usr/bin/env python
"""Per-query engine timing for the replicated-scale study (SCALING.md).

One process = one (engine, sf_dir, query) measurement, so the orchestrating
shell can put a hard `timeout` around any single run (a deliberately
quadratic exact twin or a recursive-CTE oracle can be unbounded at 100x
data without stalling the study). Prints ONE line: `<query> <median_ms>`.

Spark: bench.py's routine on a ``get_spark()`` session with the engine's
defaults: one unmeasured run, then the median of 3 runs, each from a freshly
built plan with nothing cached, of wall time less hypervisor steal. DuckDB:
one dropped run, then the median of 3 ``fetchall`` runs over persistent
views. Each process starts its own JVM: 6-7 s to a first trivial query from
the driver's class-data-sharing archive (session.py), 12-13 s without one,
on 4 vCPUs.

Usage:
    python tools_scale_study.py spark  /root/repo/.scratch/sf1 q1_pricing_summary
    python tools_scale_study.py duckdb /root/repo/.scratch/sf1 q1_pricing_summary
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

RUNS = 3


def time_spark(sf_dir: str, name: str) -> float:
    import bench
    from cbde_mapreduce_spark.session import get_spark

    spark = get_spark(app_name="scale-study")
    spark.sparkContext.setLogLevel("ERROR")
    record, _ = bench.run(spark, sf_dir, [name], [], RUNS)
    return record["value"] * 1000


def time_duckdb(sf_dir: str, name: str) -> float:
    import duckdb

    from cbde_mapreduce_spark.plans import REGISTRY
    from tests.parity import register_views

    sql = REGISTRY[name].oracle
    if sql is None:
        raise SystemExit(f"{name} has no oracle SQL")
    con = duckdb.connect()
    register_views(con, sf_dir)
    samples = []
    for i in range(RUNS + 1):
        t0 = time.perf_counter()
        con.sql(sql).fetchall()
        if i:
            samples.append(time.perf_counter() - t0)
    return statistics.median(samples) * 1000


if __name__ == "__main__":
    engine, sf_dir, name = sys.argv[1], sys.argv[2], sys.argv[3]
    ms = {"spark": time_spark, "duckdb": time_duckdb}[engine](sf_dir, name)
    print(f"{name} {ms:.1f}")
