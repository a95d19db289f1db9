"""Round-13 optimization invariants (OPTIMIZATION_r13.md).

1. The iterative loops' PER-ROUND vertex state (SSSP dist, PPR ranks)
   moved from ``localCheckpoint`` to persisted state (MEMORY_AND_DISK —
   ``RoundState(layout_rounds=N)`` in operators/loop.py; the edge sets
   stay DISK_ONLY): the groupBy that produces each round's state already lays
   it out on the next round's join key, and the persisted relation KEEPS
   that layout under AQE where a checkpoint records UnknownPartitioning —
   removing one vertex-sized Exchange per round past the broadcast gate.
   (connected_components was MEASURED with the same mechanism and kept on
   per-round localCheckpoint instead: each CC round references the label
   table twice, so a lineage-keeping persist embeds the caller's upstream
   pipeline plan 2^r times in driver analysis, and CC's label table is
   broadcast-small in every dedup regime — OPTIMIZATION_r13.md.) Pinned
   here: a persisted round-state joined against the pre-laid edge cache
   plans with ZERO exchanges on either side (the only shuffle of a full
   round is the propagation groupBy itself).
2. hits_authority_suppliers' edge set is laid out on the hub key c with
   the incidence dedup RIDING the layout exchange: hashpartitioning(c)
   satisfies the (c, s) clustering requirement of dropDuplicates, so |E|
   crosses the network exactly once AND h1's groupBy("c") is exchange-free
   over the persisted set (a ``RoundState`` invariant). Pinned here: the
   build plan has exactly one shuffle, and groupBy("c") over the persisted
   set plans without an Exchange.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cbde_mapreduce_spark.operators.loop import DATA_SIZED, RoundState, release


def _node_names(plan) -> list[str]:
    """Physical plan object walk; InMemoryTableScanExec is a leaf (the
    cached build plan's own exchanges are one-time, not per-round)."""
    name = plan.getClass().getSimpleName()
    names = [name]
    if name == "InMemoryTableScanExec":
        return names
    if "QueryStage" in name:
        names.extend(_node_names(plan.plan()))
        return names
    kids = plan.children()
    for i in range(kids.size()):
        names.extend(_node_names(kids.apply(i)))
    return names


def test_per_round_state_persist_keeps_layout(spark):
    """One SSSP-shaped round reading a persisted previous-round state must
    plan with NO exchange on either join side under AQE with auto-broadcast
    off (the at-scale regime): the edge side reads its pre-laid cache, the
    state side reads the persisted groupBy output whose hash(v) partitioning
    satisfies the join. The only exchange of a full round is the relaxation
    groupBy — asserted by running the full round and counting exactly one."""
    # round 1 of 2 is an intermediate round: persisted with its layout kept
    rs = RoundState(layout_rounds=2)
    e = rs.invariant(
        spark.range(50_000)
        .select(
            (F.col("id") % 5_000).alias("a"),
            ((F.col("id") * 7919) % 5_000).alias("b"),
            (F.col("id") % 13 + 1).alias("w"),
        )
        .repartition("a")
        .sortWithinPartitions("a", "b"),
        DATA_SIZED,
    )
    e.count()

    def sssp_round(dist):
        relaxed = e.join(dist.withColumnRenamed("v", "a"), "a").select(
            F.col("b").alias("v"), (F.col("dist") + F.col("w")).alias("dist")
        )
        return (
            dist.unionByName(relaxed)
            .groupBy("v")
            .agg(F.min("dist").alias("dist"))
        )

    seed = spark.range(5_000).select(
        F.col("id").alias("v"), (F.col("id") % 100).cast("long").alias("dist")
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # AQE ON: the production regime where localCheckpoint loses the layout
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        with rs:
            state = rs.advance(sssp_round(seed))
            nxt = sssp_round(state)
            # execute so the adaptive plan finalizes, then walk the final plan
            nxt.write.format("noop").mode("overwrite").save()
            jp = nxt._jdf.queryExecution().executedPlan()
            if jp.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
                jp = jp.finalPhysicalPlan()
            names = _node_names(jp)
            n_exchange = sum(n.startswith("ShuffleExchange") for n in names)
            assert any("Join" in n for n in names), names
            # exactly the one irreducible propagation groupBy exchange; a lost
            # state layout would add a second (the vertex re-shuffle this
            # round's optimization removed), a lost edge layout a third
            assert n_exchange == 1, (n_exchange, names)
            release(state)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_hits_c_layout_single_build_shuffle(spark):
    """hashpartitioning(c) must keep satisfying dropDuplicates([c, s])'s
    clustering requirement (the dedup rides the layout exchange), and the
    h1-side groupBy("c") over the persisted edge set must stay
    exchange-free."""
    raw = spark.range(20_000).select(
        (F.col("id") % 700).alias("c"), (F.col("id") % 97).alias("s")
    )
    build = raw.repartition("c").dropDuplicates(["c", "s"])
    build.write.format("noop").mode("overwrite").save()
    jp = build._jdf.queryExecution().executedPlan()
    if jp.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        jp = jp.finalPhysicalPlan()
    names = _node_names(jp)
    # count ShuffleExchangeExec only: a ShuffleQueryStage wrapper always
    # CONTAINS its exchange, so counting both would double-count under AQE
    n_exchange = sum(n.startswith("ShuffleExchange") for n in names)
    assert n_exchange == 1, (n_exchange, names)

    with RoundState() as rs:  # the storage hits_authority_suppliers holds it in
        e = rs.invariant(build, DATA_SIZED)
        e.count()
        h1 = e.groupBy("c").agg(F.count(F.lit(1)).alias("h"))
        h1.write.format("noop").mode("overwrite").save()
        jp = h1._jdf.queryExecution().executedPlan()
        if jp.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            jp = jp.finalPhysicalPlan()
        names = _node_names(jp)
        assert not any(n.startswith("ShuffleExchange") for n in names), names
        assert any("InMemoryTableScan" in n for n in names), names


def test_cc_still_converges_and_releases(spark):
    """connected_components under the round-state scope must still
    converge to min-label components on a multi-round path graph — a shape
    that needs >1 round so the state handoff (materialize round k, release
    round k-1) is actually exercised."""
    from cbde_mapreduce_spark.operators.iterative import connected_components

    # path 0-1-2-3-4-5 plus a separate triangle {10, 11, 12}
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)] + [(10, 11), (11, 12), (10, 12)],
        "src bigint, dst bigint",
    )
    got = {
        (r.v, r.component) for r in connected_components(edges).collect()
    }
    want = {(i, 0) for i in range(6)} | {(i, 10) for i in (10, 11, 12)}
    assert got == want
