#!/usr/bin/env python
"""Per-query engine timing for the replicated-scale study (SCALING.md).

One process = one (engine, sf_dir, query) measurement, so the orchestrating
shell can put a hard `timeout` around any single run (a deliberately
quadratic exact twin or a recursive-CTE oracle can be unbounded at 100x
data without stalling the study). Prints ONE line: `<query> <median_ms>`.

Methodology matches bench.py: build/plan once, then median of 3 warm
materialized executions (Spark: Arrow toPandas; DuckDB: fetchall on a
fresh cursor over persistent views). Spark shuffle partitions are sized by
bench.py's data-volume rule. Each process starts its own JVM: 6-7 s to a
first trivial query from the driver's class-data-sharing archive
(session.py), 12-13 s without one, on 4 vCPUs.

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


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    return float(base.removeprefix("sf") or "0.1")


def time_spark(sf_dir: str, name: str) -> float:
    from bench import _shuffle_partitions_for
    from cbde_mapreduce_spark.plans import REGISTRY
    from cbde_mapreduce_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="scale-study",
        shuffle_partitions=_shuffle_partitions_for(_sf_of(sf_dir), cpus),
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = REGISTRY[name].fn(spark, sf_dir)
    df.schema  # force analysis (plan build off the clock, like bench.py)
    samples = []
    for i in range(RUNS + 1):  # first run warms codegen/workers, dropped
        t0 = time.perf_counter()
        df.toPandas()
        if i:
            samples.append(time.perf_counter() - t0)
    return statistics.median(samples) * 1000


def time_duckdb(sf_dir: str, name: str) -> float:
    import duckdb

    from cbde_mapreduce_spark.plans import REGISTRY
    from cbde_mapreduce_spark.sources import TABLES

    sql = REGISTRY[name].oracle
    if sql is None:
        raise SystemExit(f"{name} has no oracle SQL")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM {src}")
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
