"""Checkpoint-lifecycle hygiene for the iterative operators (round 7).

A local checkpoint's storage blocks live until the JVM garbage-collects the
Dataset — so a long session running many iterative queries used to
accumulate every ROUND's superseded state (observed OOMing a 25-heavy-query
session at position ~22 while each query passed in isolation, ROTATION.md
round-6 closing re-probe). These tests pin the fix: each loop releases a
round's checkpoint as soon as the next materializes, so one query leaves
behind at most its FINAL state (BPE: nothing — its merge table is a local
relation of the collected winners).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cbde_mapreduce_spark.operators.ckpt import release_local_checkpoint
from cbde_mapreduce_spark.operators.iterative import (
    connected_components,
    connected_components_star,
)
from cbde_mapreduce_spark.plans import REGISTRY


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_release_frees_blocks_and_keeps_successor(spark):
    """The mechanism itself: releasing a superseded checkpoint removes its
    RDD from the persistent registry while a checkpointed SUCCESSOR built
    from it stays fully readable (its own blocks, no lineage fallback)."""
    base = _n_persistent(spark)
    c1 = spark.range(1000).withColumn("x", F.col("id") * 2).localCheckpoint()
    c2 = c1.withColumn("y", F.col("x") + 1).localCheckpoint()
    assert _n_persistent(spark) == base + 2
    release_local_checkpoint(c1)
    assert _n_persistent(spark) == base + 1
    assert c2.count() == 1000  # successor reads its own blocks
    release_local_checkpoint(c2)
    assert _n_persistent(spark) == base


def test_release_is_noop_on_non_checkpoint_plans(spark):
    df = spark.range(10)
    release_local_checkpoint(df)  # plain plan: no-op, no raise
    release_local_checkpoint(None)
    assert df.count() == 10


def test_connected_components_leave_one_round_of_state(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "src int, dst int",
    )
    for fn in (connected_components, connected_components_star):
        before = _n_persistent(spark)
        out = fn(edges)
        rows = {(r.v, r.component) for r in out.collect()}
        assert {(3, 1), (11, 10), (23, 20)} <= rows
        leaked = _n_persistent(spark) - before
        # only the final round's checkpoint (backing the returned plan)
        assert leaked <= 1, f"{fn.__name__} leaked {leaked} checkpoints"


def test_iterative_queries_leave_bounded_state(spark, sf_smoke):
    """Registry-level sweep of every per-round-checkpointing iterative
    query: after collect(), at most the documented live state remains —
    the final round's table (BFS/PPR/SSSP/CC), none for BPE — never one
    block-set per round per table."""
    budgets = {
        "bfs_hops_trade_graph": 1,  # final visited; edge ckpt released
        "ppr_trade_recommendations": 1,  # final ranks; edge ckpt released
        "sssp_trade_graph": 1,  # final dist; edge ckpt released
        "neardup_components": 1,  # final CC labels
        "neardup_components_star": 1,  # final star forest
        "bpe_merges_vocab": 0,  # vocabulary released; merges are a local relation
    }
    for name, budget in budgets.items():
        before = _n_persistent(spark)
        REGISTRY[name].fn(spark, sf_smoke).collect()
        leaked = _n_persistent(spark) - before
        assert leaked <= budget, f"{name}: {leaked} persistent RDDs > {budget}"
