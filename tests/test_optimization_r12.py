"""Round-12 optimization invariants (OPTIMIZATION_r12.md).

Three optimizations changed operator internals this round; each rests on an
invariant that must stay pinned so a later edit (or Spark upgrade) cannot
silently reintroduce the removed work:

1. The trade-graph symmetrize-distinct was removed (pagerank / BFS / PPR /
   degree histogram / assortativity): the even/odd vertex encoding makes the
   two union halves disjoint, so the outer ``.distinct()`` deduplicated
   nothing while shuffling 2|E| rows.
2. The iterative edge sets are repartitioned+sorted on the round join key
   BEFORE ``localCheckpoint`` / ``cache``, relying on Spark preserving
   outputPartitioning/outputOrdering through the checkpoint's LogicalRDD —
   that is what removes the per-round edge Exchange and Sort.
3. ``cosine_topk_pairs`` dispatches on the cheap ``emb.count()`` upper bound
   before paying the dup-collapse rep count; the DECISION must stay
   identical to dispatching on ``reps.count()`` alone.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cbde_mapreduce_spark.operators.similarity import cosine_topk_pairs
from cbde_mapreduce_spark.sources import load_table


def _fmt_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _trade_edges_symmetrized(spark, sf_dir):
    """The shared trade-graph build — since r13 (ADVICE r12) the PRODUCTION
    helper itself, so the disjoint-halves invariant below exercises exactly
    the code the five graph builders run, and an encoding edit cannot
    desynchronize from the removed symmetrize-distinct."""
    from cbde_mapreduce_spark.plans.graph_q import _encoded_sym_edges

    return _encoded_sym_edges(spark, sf_dir)


def test_trade_graph_symmetrize_halves_disjoint(spark, sf_smoke):
    """Invariant behind dropping the outer .distinct(): customer vertices are
    even (2k), supplier vertices odd (2k+1), so e0 (even->odd) and its
    reversal (odd->even) can never produce the same (a, b) row and each half
    is already distinct — the symmetrized union IS a set."""
    e = _trade_edges_symmetrized(spark, sf_smoke)
    n = e.count()
    assert n > 0
    assert n == e.distinct().count()
    # the parity property itself, row-level: every edge is even->odd or odd->even
    mixed = e.filter((F.col("a") % 2) == (F.col("b") % 2)).count()
    assert mixed == 0


def test_persist_disk_preserves_partitioning_and_ordering(spark, sf_smoke):
    """The per-round zero-exchange edge join relies on a data-sized loop
    invariant, persist(DISK_ONLY) (operators/loop.py::RoundState.invariant),
    carrying the repartition + sortWithinPartitions layout through the
    InMemoryRelation UNDER AQE — which localCheckpoint does NOT (it records
    UnknownPartitioning; measured r12, the reason loop invariants are
    persisted rather than checkpointed). If a Spark upgrade or a
    session-conf change (e.g. canChangeCachedPlanOutputPartitioning=true)
    drops the guarantee, the graph loops silently pay a full |E| shuffle +
    sort per round again — this test fails instead."""
    from cbde_mapreduce_spark.operators.loop import DATA_SIZED, RoundState

    with RoundState() as rs:
        e = rs.invariant(
            _trade_edges_symmetrized(spark, sf_smoke)
            # session-default partition count, exactly as graph_q.py does it
            .repartition("a")
            .sortWithinPartitions("a", "b"),
            DATA_SIZED,
        )
        e.count()  # materialize the cache like the loops' first round does
        ranks = e.select(F.col("a").alias("v")).distinct().select(
            "v", F.lit(1.0).alias("r")
        )
        # disable auto-broadcast so the join must plan for co-partitioning
        # (a broadcast join would hide a lost partitioning), and AQE for a
        # plain executedPlan tree — the CACHED relation was already built
        # under AQE, which is the production state being pinned
        old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            j = e.join(ranks.withColumnRenamed("v", "a"), "a")
            exec_plan = j._jdf.queryExecution().executedPlan()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
            spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        # Walk the physical plan OBJECT tree: InMemoryTableScanExec is a
        # leaf, so the cached plan's legitimate build-time repartition
        # exchange is invisible here — any Exchange found would be the
        # per-round shuffle this optimization removed.
        def node_names(plan) -> list[str]:
            names = [plan.getClass().getSimpleName()]
            kids = plan.children()
            for i in range(kids.size()):
                names.extend(node_names(kids.apply(i)))
            return names

        names = node_names(exec_plan)
        assert any("Join" in n for n in names), names
        assert not any("Exchange" in n for n in names), names
        assert any("InMemoryTableScan" in n for n in names), names


def test_cosine_gate_dispatch_unchanged(spark):
    """The emb.count() shortcut must never CHANGE the kernel choice, only
    skip the expensive rep count. Regression scenario pinned here: a
    dup-heavy corpus whose raw count exceeds the gate while its rep count
    does not — dispatch must still pick the broadcast kernel (MapInPandas),
    exactly as the old reps.count()-only logic did; dispatching on the raw
    count alone would flip it to the sharded kernel
    (FlatMapGroupsInPandas)."""
    base = [[1.0, 0.0], [0.0, 2.0], [3.0, 4.0]]
    rows = [(i, base[i % 3]) for i in range(12)]  # 12 rows, 3 unique vectors
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    top = cosine_topk_pairs(emb, k=5, broadcast_threshold_rows=5)
    plan = _fmt_plan(top)
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    # and above the gate on BOTH counts it still shards (existing behavior)
    top_sharded = cosine_topk_pairs(emb, k=5, broadcast_threshold_rows=1)
    plan_sharded = _fmt_plan(top_sharded)
    assert "FlatMapGroupsInPandas" in plan_sharded, plan_sharded
