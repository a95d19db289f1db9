"""Join matrix (SURVEY.md §2.3): outer/semi/anti/cross/theta/as-of.

MapReduce parity: the reference model has exactly two join algorithms —
the reduce-side repartition join (both inputs tagged and shuffled on the
key; Spark: SortMergeJoin/ShuffledHashJoin) and the map-side replicated
join (small table in the distributed cache; Spark: BroadcastHashJoin).
Outer/semi/anti are reducer emit-rules over the tagged groups; Spark
expresses them as join types on the same two algorithms.

Scale notes: semi/anti joins never materialize right-side payloads; the
theta join keeps its small side literal (broadcast nested loop is only safe
because one side is O(10) rows); the as-of join is one shuffle via the
union+window trick (see operators/asof.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cbde_mapreduce_spark.operators.asof import asof_join
from cbde_mapreduce_spark.plans.money import avg_money, cents
from cbde_mapreduce_spark.plans.registry import query
from cbde_mapreduce_spark.sources import load_table


@query(
    "left_outer_order_counts",
    oracle="""
        SELECT c.c_custkey, c.c_mktsegment,
               count(o.o_orderkey)                       AS n_orders,
               round(coalesce(sum(round(o.o_totalprice * 100)::bigint), 0)
                     / 100.0, 2) AS total_spent
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey, c.c_mktsegment
    """,
    category="join",
)
def left_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + aggregate — customers with zero orders kept."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(
                F.coalesce(F.sum(cents("o_totalprice")), F.lit(0))
                / F.lit(100.0),
                2,
            ).alias("total_spent"),
        )
    )


@query(
    "full_outer_nation_activity",
    oracle="""
        WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust
                   FROM customer GROUP BY 1),
             s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp
                   FROM supplier GROUP BY 1)
        SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
               coalesce(c.n_cust, 0)              AS n_cust,
               coalesce(s.n_supp, 0)              AS n_supp
        FROM c FULL JOIN s ON c.nationkey = s.nationkey
    """,
    category="join",
)
def full_outer_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    c = cust.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    s = supp.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return (
        c.join(s, "nationkey", "full")
        .select(
            "nationkey",
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


@query(
    "semi_join_active_customers",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
    """,
    category="join",
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — reducer emits left group iff right group non-empty."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 400000)
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "anti_join_inactive_customers",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 400000)
    """,
    category="join",
)
def anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join — reducer emits left group iff right group empty.

    The right side is filtered to high-value orders so the result is
    non-empty AND a strict subset at every SF: referential integrity makes
    the unfiltered anti join vacuously 0 rows (round-1 verdict), which
    proves nothing — here a wrong join type produces a visibly wrong set
    (the complement of semi_join_active_customers).
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 400000)
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "cross_join_region_segments",
    oracle="""
        SELECT r.r_name, s.c_mktsegment
        FROM region r
        CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) s
    """,
    category="join",
)
def cross_join_region_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (guarded: both sides tiny)."""
    region = load_table(spark, sf_dir, "region")
    segs = load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()
    return region.select("r_name").crossJoin(segs)


@query(
    "theta_join_price_bands",
    oracle="""
        WITH bands(band, lo, hi) AS (VALUES
            ('budget',   0.0,   930.0),
            ('standard', 930.0, 960.0),
            ('premium',  960.0, 1000.0))
        SELECT b.band, count(*) AS n_parts,
               round(sum(round(p.p_retailprice * 100)::bigint) / 100.0
                     / count(p.p_retailprice), 6) AS avg_price
        FROM part p JOIN bands b ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
        GROUP BY b.band
    """,
    category="join",
)
def theta_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi) join against a literal band table.

    Physical plan: BroadcastNestedLoopJoin — correct here because the band
    side is O(1) rows; a large-large theta join would instead be bucketed
    (see operators/similarity.py for the banding pattern).
    """
    part = load_table(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("budget", 0.0, 930.0), ("standard", 930.0, 960.0), ("premium", 960.0, 1000.0)],
        "band string, lo double, hi double",
    )
    return (
        part.join(
            F.broadcast(bands),
            (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            avg_money("p_retailprice", 6).alias("avg_price"),
        )
    )


@query(
    "range_join_ship_lag",
    oracle="""
        SELECT year(o.o_orderdate)::int AS o_year, count(*) AS n_late_items
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
          AND l.l_shipdate <= o.o_orderdate + INTERVAL 180 DAY
        GROUP BY 1
    """,
    category="join",
)
def range_join_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi join + range predicate (interval window on the join pair)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
            & (F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 180 DAYS"))
        )
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(F.count(F.lit(1)).alias("n_late_items"))
    )


@query(
    "asof_join_purchase_click",
    oracle="""
        WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             c AS (SELECT user_id, ts, max(value) AS click_value
                   FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
        SELECT p.event_id, p.user_id, p.ts, c.click_value
        FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    category="join",
)
def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the user's latest click value at-or-before.

    Differential check is genuine: DuckDB runs its native ASOF JOIN; we run
    the union+window secondary-sort algorithm (operators/asof.py).
    """
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    return asof_join(purchases, clicks, by="user_id", ts="ts", value_cols=["click_value"])


@query(
    "binned_range_join_orders",
    oracle="""
        SELECT year(a.o_orderdate)::int AS o_year,
               count(*)::bigint AS n_pairs,
               round(avg(datediff('day', a.o_orderdate, b.o_orderdate)), 6)
                   AS avg_gap_days
        FROM orders a JOIN orders b
          ON b.o_orderdate >= a.o_orderdate
         AND b.o_orderdate < a.o_orderdate + INTERVAL 3 DAY
         AND a.o_orderkey <> b.o_orderkey
        GROUP BY 1
    """,
    category="join",
)
def binned_range_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range (non-equi, no equi key) self-join via BIN BUCKETING — the
    scale path for interval joins that would otherwise fall to a
    BroadcastNestedLoopJoin / O(n·m) theta join.

    Pairs of orders placed within 3 days of each other: the interval side
    [d, d+3) explodes to the (at most 2) 3-day-wide bins it overlaps, the
    point side maps to exactly ONE bin, and the match becomes an EQUI join
    on bin + residual predicate. Each qualifying pair joins exactly once
    (the point's bin is unique), so no post-join dedup. This is the
    binned-range-join rewrite (DuckDB/Databricks range-join optimization)
    expressed in plain DataFrame ops. At 100 TB the bin width is the
    tuning knob (≈ interval length keeps the fan-out ≤ 2).

    Density-collapse (round-6 scale fix): the output is an AGGREGATE over
    pairs, so the pairs themselves never need to materialize — c orders on
    one day contribute weight c_a·c_b to a day pair (minus the c same-key
    pairs when the days coincide). The binned range join therefore runs on
    the DISTINCT-DATE spine weighted by multiplicity: n rows collapse to
    ~|dates| rows before the join, pair counts are exact integer sums, and
    the per-bin work is width·|dates-in-bin| regardless of row density.
    The old row-level join enumerated ~Σ_day c²·w pairs — quadratic in
    per-day density, which timed out at 100× replication (15M orders,
    ~6.2k/day → ~2.8·10¹¹ pairs; SCALING.md round 6). Day-level sums of
    gap·weight stay exact in int64 and bit-identical to DuckDB's IEJoin
    row-level avg (integer sums < 2⁵³ are exact in its double
    accumulator; one final division on each side).

    DuckDB's oracle runs its native IEJoin over the same predicate — a
    genuinely different physical algorithm checking the same semantics.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    c = o.groupBy("o_orderdate").agg(F.count(F.lit(1)).alias("cnt"))
    jd = F.datediff("o_orderdate", F.lit("1990-01-01").cast("date"))
    w = 3  # bin width (days) == interval length -> each interval spans <= 2 bins
    a = c.select(
        F.col("o_orderdate").alias("a_date"),
        F.col("cnt").alias("a_cnt"),
        jd.alias("a_jd"),
        F.explode(
            F.sequence(F.floor(jd / w), F.floor((jd + (w - 1)) / w))
        ).alias("bin"),
    )
    b = c.select(
        F.col("cnt").alias("b_cnt"),
        jd.alias("b_jd"),
        F.floor(jd / w).alias("bin"),
    )
    pairs = (
        a.join(b.hint("shuffle_hash"), "bin")
        .filter(
            (F.col("b_jd") >= F.col("a_jd")) & (F.col("b_jd") < F.col("a_jd") + w)
        )
        .select(
            "a_date",
            (F.col("b_jd") - F.col("a_jd")).alias("gap"),
            (
                F.col("a_cnt") * F.col("b_cnt")
                - F.when(F.col("b_jd") == F.col("a_jd"), F.col("a_cnt")).otherwise(0)
            ).alias("weight"),
        )
    )
    # weight-0 rows (a lone order pairing with its own day) carry no pairs
    # and would otherwise mint spurious 0/0 years absent from the oracle
    pairs = pairs.filter(F.col("weight") > 0)
    return pairs.groupBy(F.year("a_date").cast("int").alias("o_year")).agg(
        F.sum("weight").cast("bigint").alias("n_pairs"),
        F.round(
            F.sum(F.col("gap") * F.col("weight")).cast("double") / F.sum("weight"),
            6,
        ).alias("avg_gap_days"),
    )


@query(
    "lateral_top_customers_per_nation",
    oracle="""
        SELECT n.n_name, x.c_name, x.c_acctbal
        FROM nation n, LATERAL (
            SELECT c_name, c_acctbal FROM customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_name LIMIT 2) x
    """,
    category="join",
)
def lateral_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join: each nation's top-2 customers by balance —
    the per-row-subquery shape (SQL-standard LATERAL / CROSS APPLY).

    Catalyst decorrelates the correlated ORDER BY + LIMIT subquery into a
    rank-over-partition + filter (no per-nation re-scan of customer, one
    window shuffle on the correlation key) — the plan a hand-written
    topk_window_per_user produces, reached from declarative SQL. DuckDB
    runs the identical LATERAL syntax as the oracle.
    """
    return spark.sql(
        """
        SELECT n.n_name, x.c_name, x.c_acctbal
        FROM {nation} n JOIN LATERAL (
            SELECT c_name, c_acctbal FROM {customer} c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_name LIMIT 2) x
        """,
        nation=load_table(spark, sf_dir, "nation"),
        customer=load_table(spark, sf_dir, "customer"),
    )


@query(
    "point_in_time_status_join",
    oracle="""
        WITH s AS (
            SELECT o_custkey, o_orderstatus AS status, o_orderdate AS d,
                   o_orderkey,
                   lag(o_orderstatus) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate, o_orderkey)
                       AS prev
            FROM orders),
        c AS (SELECT o_custkey, status, d, o_orderkey
              FROM s WHERE prev IS NULL OR status <> prev),
        h AS (SELECT o_custkey, status,
                     d AS valid_from,
                     lead(d) OVER (PARTITION BY o_custkey
                                   ORDER BY d, o_orderkey) AS valid_to
              FROM c),
        li AS (SELECT l.l_quantity, l.l_shipdate, o.o_custkey
               FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        SELECT coalesce(h.status, '<no-state>') AS status_at_ship,
               count(*) AS n_lines,
               round(sum(li.l_quantity), 2) AS total_qty
        FROM li LEFT JOIN h
          ON li.o_custkey = h.o_custkey
         AND li.l_shipdate >= h.valid_from
         AND (h.valid_to IS NULL OR li.l_shipdate < h.valid_to)
        GROUP BY 1
    """,
    category="join",
)
def point_in_time_status_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time correct enrichment (the feature-store lookup): each
    lineitem joined to the customer-status SCD2 interval that was valid AT
    ITS SHIP DATE — ship happens after order, so this is a genuine temporal
    lookup, not an identity.

    Composes the registry's own scd2_customer_status build, then an
    equi+interval LEFT join: the equi key (custkey) carries the shuffle,
    the interval predicate is a residual, and [from, to) chaining
    guarantees at most one match per fact row. Facts that predate any
    known state surface as an explicit '<no-state>' class — an inner join
    SILENTLY DROPS them (5,168 lines at sf0.01; the fixture's ship dates
    are independent of order dates), which is the classic PIT-join bug
    this operator exists to avoid. At 100 TB this is one fact-sized
    shuffle on the equi key; the history side is change-points only
    (vastly smaller than the fact), so AQE typically broadcasts it.
    """
    from cbde_mapreduce_spark.plans.windows import scd2_customer_status

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    hist = scd2_customer_status(spark, sf_dir).withColumnRenamed("o_custkey", "h_custkey")
    facts = li.join(o, li.l_orderkey == o.o_orderkey)
    joined = facts.join(
        hist,
        (F.col("o_custkey") == F.col("h_custkey"))
        & (F.col("l_shipdate") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("l_shipdate") < F.col("valid_to"))),
        "left",
    )
    return joined.groupBy(
        F.coalesce(F.col("status"), F.lit("<no-state>")).alias("status_at_ship")
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


@query(
    "null_safe_join_types",
    oracle="""
        WITH l AS (SELECT nullif(event_type, 'error') AS k, value FROM events),
        d AS (SELECT DISTINCT nullif(event_type, 'error') AS k,
                     coalesce(nullif(event_type, 'error'), '<err-null>')
                       AS label
              FROM events)
        SELECT label,
               count(*)::bigint AS n,
               round(sum(round(l.value * 100)::bigint) / 100.0, 2) AS sum_value
        FROM l JOIN d ON l.k IS NOT DISTINCT FROM d.k
        GROUP BY label
    """,
    category="join",
)
def null_safe_join_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): error events carry
    a NULL key and still match the dimension's NULL row — ordinary equality
    silently DROPS them (NULL = NULL is NULL), the classic silent-data-loss
    bug in key-normalization joins.

    Non-vacuous by construction: the '<err-null>' output row exists only
    because the null-safe semantics matched the NULL keys; a plain join
    would lose those rows and the value hash would differ. Spark plans <=>
    as a regular hash join key (no BNLJ penalty).
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("nullif(event_type, 'error')")
    l = ev.select(k.alias("k"), "value")
    d = (
        ev.select(k.alias("k"))
        .distinct()
        .select("k", F.coalesce(F.col("k"), F.lit("<err-null>")).alias("label"))
    )
    j = l.join(d, l["k"].eqNullSafe(d["k"]))
    return j.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(cents("value")) / F.lit(100.0), 2).alias("sum_value"),
    )


_FWD_ORACLE = """
    WITH ev AS (
        SELECT user_id, event_id, ts, epoch_us(ts)::bigint AS ts_us, event_type
        FROM events),
    carry AS (
        SELECT user_id, event_id, ts_us, event_type,
               min(CASE WHEN event_type = 'click' THEN ts_us END)
                 OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                 AS next_click_us
        FROM ev)
    SELECT user_id, event_id, ts_us,
           (next_click_us - ts_us) AS lag_us
    FROM carry WHERE event_type = 'purchase'
"""


@query("asof_forward_next_click", oracle=_FWD_ORACLE, category="join")
def asof_forward_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: for every purchase, the microsecond lag to the user's
    NEXT click strictly after it (NULL when none follows) — the mirror of
    asof_join_purchase_click's backward match, closing the as-of family
    (backward / forward correspond to ASOF >= / <= directions).

    Same one-shuffle carry shape as the backward join, with the frame
    reversed: a conditional min over (1 FOLLOWING, UNBOUNDED FOLLOWING)
    carries the next click UP to each row — no purchases×clicks pair
    join, integer-µs arithmetic end to end.
    """
    events = load_table(spark, sf_dir, "events")
    us = F.expr("ts_ns div 1000")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    carry = events.select(
        "user_id", "event_id", us.alias("ts_us"), "event_type"
    ).select(
        "user_id",
        "event_id",
        "ts_us",
        "event_type",
        F.min(
            F.when(F.col("event_type") == "click", F.col("ts_us"))
        ).over(w).alias("next_click_us"),
    )
    return carry.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        "ts_us",
        (F.col("next_click_us") - F.col("ts_us")).alias("lag_us"),
    )
