"""Block hygiene of the iterative loops' round-state scope
(operators/loop.py).

Persisted and checkpointed blocks live until released, so a long session
running many iterative queries used to accumulate every round's superseded
state (a 25-heavy-query session OOMed at position ~22 while each query
passed in isolation). These tests pin
the scope's rules: a superseded round is released once its successor
materializes, so one query leaves behind at most its FINAL state, and a
loop that raises mid-way leaves nothing. BPE is swept too: its merge rounds
run on the driver, so it must leave nothing at all.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cbde_mapreduce_spark.operators.iterative import (
    connected_components,
    connected_components_star,
)
from cbde_mapreduce_spark.operators.loop import RoundState, release
from cbde_mapreduce_spark.plans import REGISTRY


_TOY_EDGES = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)]
_OPERATORS = {f.__name__: f for f in (connected_components, connected_components_star)}


class _Injected(Exception):
    pass


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_release_frees_blocks_and_keeps_successor(spark):
    """The mechanism itself: releasing a superseded checkpoint removes its
    RDD from the persistent registry while a checkpointed SUCCESSOR built
    from it stays fully readable (its own blocks, no lineage fallback)."""
    base = _n_persistent(spark)
    c1 = spark.range(1000).withColumn("x", F.col("id") * 2).localCheckpoint()
    c2 = c1.withColumn("y", F.col("x") + 1).localCheckpoint()
    assert _n_persistent(spark) == base + 2
    release(c1)
    assert _n_persistent(spark) == base + 1
    assert c2.count() == 1000  # successor reads its own blocks
    release(c2)
    assert _n_persistent(spark) == base


def test_release_is_noop_on_non_checkpoint_plans(spark):
    df = spark.range(10)
    release(df)  # plain plan: no-op, no raise
    release(None)
    assert df.count() == 10


def test_connected_components_leave_one_round_of_state(spark):
    edges = spark.createDataFrame(_TOY_EDGES, "src int, dst int")
    for fn in _OPERATORS.values():
        before = _n_persistent(spark)
        out = fn(edges)
        rows = {(r.v, r.component) for r in out.collect()}
        assert {(3, 1), (11, 10), (23, 20)} <= rows
        leaked = _n_persistent(spark) - before
        # only the final round's checkpoint (backing the returned plan)
        assert leaked <= 1, f"{fn.__name__} leaked {leaked} checkpoints"


def test_iterative_queries_leave_bounded_state(spark, sf_smoke):
    """Registry-level sweep of every iterative query: after
    collect(), at most the documented live state remains — the final
    round's table (BFS/PageRank/PPR/SSSP/HITS/CC), none for BPE — never one
    block-set per round per table."""
    budgets = {
        "bfs_hops_trade_graph": 1,  # final visited; edge set released
        "pagerank_trade_graph": 1,  # final ranks; edges and deg released
        "ppr_trade_recommendations": 1,  # final ranks; edges and deg released
        "sssp_trade_graph": 1,  # final dist; edge set released
        "hits_authority_suppliers": 1,  # final authorities; edge set released
        "neardup_components": 1,  # final CC labels
        "neardup_components_star": 1,  # final star forest
        "bpe_merges_vocab": 0,  # driver-side rounds; merges are a local relation
    }
    for name, budget in budgets.items():
        before = _n_persistent(spark)
        REGISTRY[name].fn(spark, sf_smoke).collect()
        leaked = _n_persistent(spark) - before
        assert leaked <= budget, f"{name}: {leaked} persistent RDDs > {budget}"


#: The round a loop raises in: round 2, or a one-round loop's only round.
_RAISING_ROUND = {"hits_authority_suppliers": 1}


@pytest.mark.parametrize(
    "name",
    [
        "bfs_hops_trade_graph",
        "pagerank_trade_graph",
        "ppr_trade_recommendations",
        "sssp_trade_graph",
        "hits_authority_suppliers",
        "connected_components",
        "connected_components_star",
    ],
)
def test_loop_raising_in_round_2_leaves_no_blocks(spark, sf_smoke, monkeypatch, name):
    """A loop that raises in round 2 (a one-round loop in its only round:
    ``_RAISING_ROUND``) — after its invariants are filled and the previous
    round's state (if any) is held — must release every block it made."""
    advance = RoundState.advance
    raising_round = _RAISING_ROUND.get(name, 2)

    def flaky(self, df):
        out = advance(self, df)
        if self.round == raising_round:
            raise _Injected
        return out

    monkeypatch.setattr(RoundState, "advance", flaky)
    before = _persistent_ids(spark)
    with pytest.raises(_Injected):
        if name in _OPERATORS:
            edges = spark.createDataFrame(_TOY_EDGES, "src int, dst int")
            _OPERATORS[name](edges).collect()
        else:
            REGISTRY[name].fn(spark, sf_smoke).collect()
    # compared by id: the context cleaner may free an earlier test's blocks
    # mid-call, so a bare count could hide a leak
    leaked = _persistent_ids(spark) - before
    assert not leaked, f"{name} leaked persistent RDDs {leaked} on raise"

