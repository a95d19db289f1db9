"""Window functions (SURVEY.md §2.5) — the MR secondary-sort family.

MapReduce parity: every query here is, in MR terms, a composite-key
(partitionkey, orderkey) job with a custom partitioner + grouping comparator
and a stateful single pass inside reduce(). Spark's Window operator IS that
machinery: one shuffle on partitionBy keys, sort within partitions, single
streaming pass.

Determinism discipline: every ORDER BY carries a unique tiebreaker
(event_id / orderkey), rank-family outputs are cast to bigint to match
DuckDB, and float window aggregates are rounded on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cbde_mapreduce_spark.operators.prefix import exclusive_prefix_sum
from cbde_mapreduce_spark.plans.money import cents, disc_units
from cbde_mapreduce_spark.plans.registry import query
from cbde_mapreduce_spark.sources import load_table


@query(
    "topk_window_per_user",
    oracle="""
        SELECT user_id, event_id, value, rn FROM (
            SELECT user_id, event_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY value DESC, event_id) AS rn
            FROM events) t
        WHERE rn <= 3
    """,
    category="window",
)
def topk_window_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group via row_number."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        events.select(
            "user_id", "event_id", "value",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "sessionize_events",
    oracle="""
        WITH g AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                          OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sess
            FROM g
        )
        SELECT user_id, sess::bigint AS sess, count(*) AS n_events,
               min(ts) AS sess_start, max(ts) AS sess_end
        FROM s GROUP BY user_id, sess
    """,
    category="window",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap): lag-diff → break flag → running sum.

    Event-time arithmetic is integer microseconds (ts_ns div 1000) — no float
    seconds, no timezone dependence (SURVEY §7 hard-part 1).
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.expr("ts_ns div 1000")
    gap_us = 30 * 60 * 1_000_000
    brk = F.when(
        (ts_us - F.lag(ts_us).over(w) > gap_us) | F.lag(ts_us).over(w).isNull(), 1
    ).otherwise(0)
    sess = F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        events.select("user_id", "ts", F.col("event_id"), sess.alias("sess"))
        .groupBy("user_id", "sess")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("sess_start"),
            F.max("ts").alias("sess_end"),
        )
    )


@query(
    "running_revenue_per_customer",
    oracle="""
        SELECT o_custkey, o_orderkey,
               round(sum(round(o_totalprice * 100)::bigint)
                       OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey
                             ROWS UNBOUNDED PRECEDING) / 100.0, 2) AS running_total
        FROM orders
    """,
    category="window",
)
def running_revenue_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total (cumulative sum) per customer over order date."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(cents("o_totalprice")).over(w) / F.lit(100.0), 2
        ).alias("running_total"),
    )


@query(
    "lag_lead_event_values",
    oracle="""
        SELECT event_id, user_id,
               round(value - lag(value)  OVER w, 2) AS delta_prev,
               round(lead(value) OVER w - value, 2) AS delta_next
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    category="window",
)
def lag_lead_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead — per-user deltas between consecutive events."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta_prev"),
        F.round(F.lead("value").over(w) - F.col("value"), 2).alias("delta_next"),
    )


@query(
    "rank_customers_in_nation",
    oracle="""
        SELECT c_custkey, c_nationkey,
               rank()       OVER w AS rnk,
               dense_rank() OVER w AS drnk
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC)
    """,
    category="window",
)
def rank_customers_in_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank — tie semantics are part of the contract."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"))
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
    )


@query(
    "ntile_percentile_orders",
    oracle="""
        SELECT o_orderkey,
               ntile(4)       OVER w            AS quartile,
               round(percent_rank() OVER w, 6)  AS pct_rank,
               round(cume_dist()    OVER w, 6)  AS cume
        FROM orders
        WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
    """,
    category="window",
)
def ntile_percentile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist over a global order — computed on
    the DISTRIBUTED prefix-sum rank path, not a single-partition window.

    Rounds 1-3 kept the naive ``Window.orderBy(...)`` form (a deliberate,
    documented single-partition demo). Round 4 re-expresses the same
    per-row semantics over ``exclusive_prefix_sum`` (operators/prefix.py):
    range-partition + local sort gives each row its global rank r without
    ever collapsing to one partition, and with a UNIQUE order key
    (o_totalprice, o_orderkey) the three window functions are closed forms
    of (r, n): percent_rank = (r-1)/(n-1), cume_dist = r/n, and ntile(4)
    is the SQL-standard floor split (first n mod 4 buckets get one extra
    row). The count n broadcasts as a one-row aggregate. Output is
    bit-identical to the window form; the bucket-edge re-expression for
    histogram-style use stays `decile_histogram_orders` below.
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_totalprice").withColumn(
        "__one", F.lit(1)
    )
    ranked = exclusive_prefix_sum(
        base, ["o_totalprice", "o_orderkey"], "__one", out_col="__r0"
    ).withColumn("r", (F.col("__r0") + 1))
    # n as a driver scalar: count() moves O(partitions) partial counts, and
    # inlining it as a literal keeps the rank branch from being recomputed
    # under a crossJoin with a one-row aggregate.
    n = base.count()
    # SQL-standard ntile(t): n div t rows per bucket, the first n mod t
    # buckets take one extra. Exact integer arithmetic (div, not floating
    # floor) so bucket edges can never drift at scale.
    t = 4
    q, rem = n // t, n % t
    threshold = rem * (q + 1)
    bucket = F.expr(
        f"CASE WHEN r <= {threshold} THEN (r - 1) div {q + 1}"
        f" ELSE {rem} + (r - {threshold} - 1) div {max(q, 1)} END"
    )
    return ranked.select(
        "o_orderkey",
        (bucket + 1).cast("bigint").alias("quartile"),
        # max(n-1, 1): percent_rank of a single-row relation is 0 by the
        # SQL convention, never a 0/0
        F.round((F.col("r") - 1) / F.lit(float(max(n - 1, 1))), 6).alias("pct_rank"),
        F.round(F.col("r") / F.lit(float(max(n, 1))), 6).alias("cume"),
    )


@query(
    "first_last_event_per_user",
    oracle="""
        SELECT DISTINCT user_id,
               first_value(event_id) OVER w AS first_event,
               last_value(event_id)  OVER w AS last_event,
               round(first_value(value) OVER w, 2) AS first_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    category="window",
)
def first_last_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value over the full partition frame."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return events.select(
        "user_id",
        F.first("event_id").over(w).alias("first_event"),
        F.last("event_id").over(w).alias("last_event"),
        F.round(F.first("value").over(w), 2).alias("first_value"),
    ).distinct()


@query(
    "moving_avg_user_value",
    oracle="""
        SELECT event_id, user_id,
               round(sum(round(value * 100)::bigint)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) / 100.0
                     / count(value)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
                     6) AS mavg5
        FROM events
    """,
    category="window",
)
def moving_avg_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving aggregate over a bounded row frame (5-row trailing mean)."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.round(
            F.sum(cents("value")).over(w) / F.lit(100.0)
            / F.count("value").over(w),
            6,
        ).alias("mavg5"),
    )


@query(
    "range_frame_hourly_sum",
    oracle="""
        SELECT event_id, user_id,
               round(sum(round(value * 100)::bigint)
                       OVER (PARTITION BY user_id ORDER BY ts
                             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                                   AND CURRENT ROW) / 100.0,
                     2) AS hour_sum
        FROM events
    """,
    category="window",
)
def range_frame_hourly_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per event, the user's value sum over the trailing
    hour — a VALUE-based frame (all events within the interval), distinct
    from the ROWS frames elsewhere in this module.

    Ordering key is integer nanoseconds (ts_ns), so the frame boundary
    arithmetic is exact and matches DuckDB's timestamp RANGE frame; equal
    timestamps share one frame on both engines by RANGE semantics.
    """
    events = load_table(spark, sf_dir, "events")
    hour_ns = 3_600 * 1_000_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns")
        .rangeBetween(-hour_ns, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.round(F.sum(cents("value")).over(w) / F.lit(100.0), 2).alias(
            "hour_sum"
        ),
    )


@query(
    "scd2_customer_status",
    oracle="""
        WITH s AS (
            SELECT o_custkey, o_orderstatus AS status, o_orderdate AS d,
                   o_orderkey,
                   lag(o_orderstatus) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate, o_orderkey)
                       AS prev
            FROM orders),
        c AS (SELECT o_custkey, status, d, o_orderkey
              FROM s WHERE prev IS NULL OR status <> prev)
        SELECT o_custkey, status,
               d AS valid_from,
               lead(d) OVER (PARTITION BY o_custkey
                             ORDER BY d, o_orderkey) AS valid_to
        FROM c
    """,
    category="window",
)
def scd2_customer_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension built from an event log: compress
    each customer's order-status sequence to its CHANGE points, then stitch
    [valid_from, valid_to) intervals with lead() — valid_to NULL marks the
    current row. The warehouse history-table build as two chained window
    passes over ONE shuffle key (both windows partition on o_custkey, so the
    second reuses the first's partitioning+sort — no extra exchange; the
    100 TB cost is one sort-shuffle of the change log).

    Determinism: ties inside a (customer, date) are broken by o_orderkey in
    both engines.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    s = o.select(
        "o_custkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("d"),
        "o_orderkey",
        F.lag("o_orderstatus").over(w).alias("prev"),
    )
    c = s.filter(F.col("prev").isNull() | (F.col("status") != F.col("prev")))
    w2 = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    return c.select(
        "o_custkey",
        "status",
        F.col("d").cast("timestamp_ntz").alias("valid_from"),
        F.lead("d").over(w2).cast("timestamp_ntz").alias("valid_to"),
    )


@query(
    "global_rank_prefix_orders",
    oracle="""
        SELECT o_orderkey, o_totalprice,
               row_number() OVER (ORDER BY o_totalprice, o_orderkey)::bigint
                   AS rn
        FROM orders
    """,
    category="window",
)
def global_rank_prefix_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL row_number at scale: rank every order by (price, key) using
    the two-phase distributed prefix sum (operators/prefix.py) — counting
    ones over the global order — instead of an empty-partitionBy window.

    This is the scale-correct re-expression of what
    ``ntile_percentile_orders`` deliberately demos the single-partition way:
    range-partition + P-way local cumsum + a P-row offset table; no stage
    sees more than 1/P of the data. The DuckDB oracle runs a true global
    row_number() — same semantics, different algorithm. Plan-asserted
    SinglePartition-free in tests/test_plans_audit.py.
    """
    from cbde_mapreduce_spark.operators.prefix import exclusive_prefix_sum

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = exclusive_prefix_sum(
        o.withColumn("__one", F.lit(1)),
        ["o_totalprice", "o_orderkey"],
        "__one",
        out_col="rn0",
    )
    return ranked.select(
        "o_orderkey",
        "o_totalprice",
        (F.col("rn0") + 1).cast("bigint").alias("rn"),
    )


@query(
    "gapfill_weekly_orders",
    oracle="""
        WITH RECURSIVE weeks(ws) AS (
            SELECT TIMESTAMP '1996-01-01 00:00:00'  -- a Monday: date_trunc('week') alignment
            UNION ALL
            SELECT ws + INTERVAL 7 DAY FROM weeks
            WHERE ws + INTERVAL 7 DAY < TIMESTAMP '1998-01-06 00:00:00'
        )
        SELECT w.ws AS week_start, count(o.o_orderkey) AS n_orders
        FROM weeks w LEFT JOIN orders o
          ON date_trunc('week', o.o_orderdate) = w.ws
         AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o.o_orderdate <  TIMESTAMP '1998-01-05 00:00:00'
        GROUP BY 1
    """,
    category="window",
)
def gapfill_weekly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled weekly order counts via a RECURSIVE CTE date scaffold
    (Spark 4 WITH RECURSIVE): generate every week between min and max order
    date, left-join the facts, so ZERO-activity weeks appear as 0 rows —
    the time-series gap-filling pattern a plain GROUP BY cannot produce.

    A fixed two-year scaffold (1996-01-01, a Monday, so the anchor equals
    its own date_trunc('week') and fact weeks align) keeps the recursion depth bounded;
    Spark's MAX RECURSION LEVEL is raised explicitly, DuckDB runs the same
    recursion uncapped — a genuine differential of two recursive-CTE
    engines. The scaffold is tiny (one row per week) and the fact side is
    joined ONCE after generation, never re-scanned per level.
    """
    return spark.sql(
        """
        WITH RECURSIVE weeks(ws) MAX RECURSION LEVEL 200 AS (
            SELECT TIMESTAMP '1996-01-01 00:00:00'
            UNION ALL
            SELECT ws + INTERVAL 7 DAY FROM weeks
            WHERE ws + INTERVAL 7 DAY < TIMESTAMP '1998-01-06 00:00:00'
        )
        SELECT w.ws AS week_start, count(o.o_orderkey) AS n_orders
        FROM weeks w LEFT JOIN {orders} o
          ON date_trunc('week', o.o_orderdate) = w.ws
         AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o.o_orderdate <  TIMESTAMP '1998-01-05 00:00:00'
        GROUP BY 1
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "mode_event_type_per_user",
    oracle="""
        WITH c AS (SELECT user_id, event_type, count(*) AS n
                   FROM events GROUP BY 1, 2),
        r AS (SELECT user_id, event_type, n,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY n DESC, event_type) AS rn
              FROM c)
        SELECT user_id, event_type AS mode_type, n AS mode_count
        FROM r WHERE rn = 1
    """,
    category="window",
)
def mode_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: each user's most frequent event type,
    ties broken lexicographically. Built-in ``mode()`` breaks ties
    arbitrarily on BOTH engines, so the portable form is count + rank with
    an explicit total order — the same argmax discipline as
    argmax_order_per_customer. One combinable count + one
    WindowGroupLimit-pruned rank; no mode()-specific machinery needed.
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_type"),
            F.col("n").alias("mode_count"),
        )
    )


@query(
    "forward_fill_user_values",
    oracle="""
        WITH s AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN event_type = 'purchase' THEN value END AS v
            FROM events)
        SELECT user_id,
               count(*) AS n_rows,
               count(last_v) AS n_filled,
               round(sum(round(last_v * 100)::bigint) / 100.0, 2) AS filled_sum
        FROM (SELECT user_id,
                     last_value(v IGNORE NULLS) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS last_v
              FROM s)
        GROUP BY user_id
    """,
    category="window",
)
def forward_fill_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (LOCF imputation): carry each user's last purchase
    value forward onto every subsequent event — the sparse-to-dense
    imputation every time-series feature pipeline runs. Rows before the
    first observation stay NULL (count(last_v) < count(*) proves the
    leading-edge semantics is exercised, not vacuous).

    ``last(col, ignorenulls=True)`` over a running ROWS frame is the
    canonical Spark form; DuckDB's ``last_value(x IGNORE NULLS)`` is the
    oracle twin. One window shuffle on user_id; aggregated per user so the
    comparison is dense without shipping the full filled series.
    """
    ev = load_table(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = ev.select(
        "user_id", F.last(v, ignorenulls=True).over(w).alias("last_v")
    )
    return filled.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("last_v").alias("n_filled"),
        F.round(F.sum(cents("last_v")) / F.lit(100.0), 2).alias("filled_sum"),
    )


@query(
    "ratio_to_report_nation_revenue",
    oracle="""
        WITH rev AS (
            SELECT n.n_name AS nation,
                   sum((round(l.l_extendedprice * 100)::bigint
                        * (100 - round(l.l_discount * 100)::bigint)
                       )::decimal(38,0)) AS u
            FROM lineitem l
            JOIN orders o   ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n   ON c.c_nationkey = n.n_nationkey
            GROUP BY 1)
        SELECT nation, round(u::double / 10000.0, 2) AS revenue,
               round(u::double / sum(u) OVER ()::double, 6) AS share,
               rank() OVER (ORDER BY u DESC, nation)::bigint AS rnk
        FROM rev
    """,
    category="window",
)
def ratio_to_report_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of total revenue + rank — the
    BI percent-of-total pattern. The share window runs over the
    NATION-SIZED aggregate (25 rows), never the fact table: aggregate
    first, window second — the ordering that keeps global windows safe at
    any scale. Rank orders by the ROUNDED measure (cross-engine float
    noise cannot reorder near-ties)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(disc_units()).alias("u"))
    )
    w = Window.partitionBy()
    return rev.select(
        "nation",
        F.round(F.col("u").cast("double") / F.lit(10000.0), 2).alias("revenue"),
        # try_divide: zero grand-total revenue is 0/0 — DuckDB yields NULL,
        # ANSI Spark raises (numeric-extremes sweep). Rank orders by the
        # EXACT integer unit sum (money.py): deterministic on both engines.
        F.round(
            F.try_divide(
                F.col("u").cast("double"), F.sum("u").over(w).cast("double")
            ),
            6,
        ).alias("share"),
        F.rank()
        .over(Window.orderBy(F.desc("u"), F.asc("nation")))
        .cast("bigint")
        .alias("rnk"),
    )


@query(
    "ewma_user_value",
    oracle="""
        WITH s AS (
            SELECT user_id, value,
                   row_number() OVER w AS rn,
                   count(*)    OVER (PARTITION BY user_id) AS n
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        t AS (SELECT user_id,
                     sum((round(value * pow(0.9, n - rn) * 1000000)::bigint
                         )::decimal(38,0)) AS num,
                     sum(round(pow(0.9, n - rn) * 1000000000)::bigint) AS den
              FROM s GROUP BY user_id)
        SELECT user_id,
               round(num::double * 1000.0 / den::double, 4) AS ewma
        FROM t
    """,
    category="window",
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (α = 0.1) of each user's value
    at their latest event — the standard smoothing feature. The recursive
    EWMA definition unrolls to a closed form, Σ vᵢ·(1−α)^(n−i) / Σ (1−α)^(n−i),
    so one rank window + one combinable weighted sum replaces a sequential
    scan — the rewrite that makes EWMA distributable at all.

    Weights are exact powers of the same double on both engines (pow is
    correctly rounded for these inputs); per-row weighted terms quantize
    to fixed grids and sum as exact integers (money.py round-11), so the
    4dp ratio is reproducible at any partition count.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id")
    s = ev.select(
        "user_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    decay = F.pow(F.lit(0.9), F.col("n") - F.col("rn"))
    # per-row weighted values quantized to fixed grids (1e-6 for the
    # numerator, 1e-9 for the weight mass), summed as exact integers
    # (money.py): pow is per-row deterministic; the double SUM order was
    # the only flake vector. num/den scales differ by 1e3, restored in
    # the single final division.
    num = F.round(F.col("value") * decay * 1000000).cast("bigint").cast(
        "decimal(38,0)"
    )
    den = F.round(decay * 1000000000).cast("bigint")
    return (
        s.groupBy("user_id")
        .agg(
            (
                F.sum(num).cast("double") * F.lit(1000.0)
                / F.sum(den).cast("double")
            ).alias("__e"),
        )
        .select("user_id", F.round("__e", 4).alias("ewma"))
    )


_DECILE_EDGES = [i / 10.0 for i in range(1, 10)]


@query(
    "decile_histogram_orders",
    oracle="""
        WITH e AS (SELECT quantile_cont(o_totalprice,
                              [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
                     AS qs
                   FROM orders),
        b AS (SELECT (CASE WHEN o_totalprice >= qs[1] THEN 1 ELSE 0 END
                    + CASE WHEN o_totalprice >= qs[2] THEN 1 ELSE 0 END
                    + CASE WHEN o_totalprice >= qs[3] THEN 1 ELSE 0 END
                    + CASE WHEN o_totalprice >= qs[4] THEN 1 ELSE 0 END
                    + CASE WHEN o_totalprice >= qs[5] THEN 1 ELSE 0 END
                    + CASE WHEN o_totalprice >= qs[6] THEN 1 ELSE 0 END
                    + CASE WHEN o_totalprice >= qs[7] THEN 1 ELSE 0 END
                    + CASE WHEN o_totalprice >= qs[8] THEN 1 ELSE 0 END
                    + CASE WHEN o_totalprice >= qs[9] THEN 1 ELSE 0 END)::int
                     AS decile,
                     o_totalprice
              FROM orders, e)
        SELECT decile,
               count(*)::bigint AS n,
               round(min(o_totalprice), 2) AS lo,
               round(max(o_totalprice), 2) AS hi,
               round(sum(round(o_totalprice * 100)::bigint) / 100.0, 2)
                 AS revenue
        FROM b GROUP BY decile
    """,
    category="window",
)
def decile_histogram_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency decile assignment WITHOUT a global window — the
    100 TB re-expression that ntile_percentile_orders' docstring promises:
    compute the nine interpolated decile edges once (combinable aggregate,
    broadcast as one row), then assign each order its decile by counting
    edges ≤ value — one scan, no single-partition sort, same buckets
    ntile(10) would produce up to edge-tie handling.

    Edge determinism: both engines interpolate type-7 quantiles from the
    same sorted values; a data point equals an edge only when the quantile
    lands exactly on it (frac = 0), where both formulas return the point
    itself — comparisons are therefore cross-engine stable with no
    rounding on the path. At 100 TB the edges step swaps percentile for
    approx_percentile (t-digest) and nothing else changes.
    """
    orders = load_table(spark, sf_dir, "orders")
    edges = orders.agg(
        *[
            F.expr(f"percentile(o_totalprice, {q})").alias(f"q{i}")
            for i, q in enumerate(_DECILE_EDGES, 1)
        ]
    )
    b = orders.crossJoin(F.broadcast(edges))
    decile = sum(
        F.when(F.col("o_totalprice") >= F.col(f"q{i}"), 1).otherwise(0)
        for i in range(1, 10)
    ).cast("int")
    return (
        b.select(decile.alias("decile"), "o_totalprice")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.round(F.sum(cents("o_totalprice")) / F.lit(100.0), 2).alias(
                "revenue"
            ),
        )
    )


_WCD_ORACLE = """
    WITH r AS (
        SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal,
               dense_rank() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_mktsegment) AS dr
        FROM customer),
    w AS (SELECT c_custkey, c_nationkey, c_acctbal,
                 max(dr) OVER (PARTITION BY c_nationkey) AS n_segments
          FROM r)
    SELECT c_nationkey,
           max(n_segments)::bigint AS n_segments,
           count(*)::bigint AS n_customers,
           round(sum(round(c_acctbal * 100)::bigint) / 100.0, 2) AS balance
    FROM w GROUP BY c_nationkey
"""


@query("window_count_distinct_rewrite", oracle=_WCD_ORACLE, category="window")
def window_count_distinct_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT x) OVER (PARTITION BY k) — which Spark's window
    functions reject outright — via the canonical dense_rank rewrite:
    dense_rank ordered by x within the partition reaches its maximum at
    exactly the number of distinct x values, and max(dense_rank) over the
    same partition broadcasts it to every row.

    Both windows share one hash partitioning on the key (a single
    exchange; the second window reuses the first's sort), so the rewrite
    costs what one window costs — the reason it is THE idiom for
    windowed distinct counts on every engine that lacks the native form.
    The oracle runs the same rewrite in DuckDB, certifying the identity
    end-to-end before the per-nation rollup.
    """
    cust = load_table(spark, sf_dir, "customer")
    wk = Window.partitionBy("c_nationkey").orderBy("c_mktsegment")
    r = cust.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.dense_rank().over(wk).alias("dr"),
    )
    w = r.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.max("dr").over(Window.partitionBy("c_nationkey")).alias("n_segments"),
    )
    return w.groupBy("c_nationkey").agg(
        F.max("n_segments").cast("bigint").alias("n_segments"),
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.round(F.sum(cents("c_acctbal")) / F.lit(100.0), 2).alias("balance"),
    )


_MOVERS_Y1, _MOVERS_Y2 = 1997, 1998
_MOVERS_TOP = 20

_MOVERS_ORACLE = f"""
    WITH rev AS (
        SELECT l_partkey AS partkey,
               year(o_orderdate) AS y,
               sum((round(l_extendedprice * 100)::bigint
                    * (100 - round(l_discount * 100)::bigint)
                   )::decimal(38,0)) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE year(o_orderdate) IN ({_MOVERS_Y1}, {_MOVERS_Y2})
        GROUP BY 1, 2),
    rk AS (SELECT partkey, y,
                  row_number() OVER (PARTITION BY y
                                     ORDER BY revenue DESC, partkey)
                    AS rnk
           FROM rev),
    j AS (SELECT a.partkey, a.rnk AS rank_{_MOVERS_Y1}, b.rnk AS rank_{_MOVERS_Y2},
                 a.rnk - b.rnk AS moved
          FROM rk a JOIN rk b ON a.partkey = b.partkey
          WHERE a.y = {_MOVERS_Y1} AND b.y = {_MOVERS_Y2})
    SELECT partkey, rank_{_MOVERS_Y1}, rank_{_MOVERS_Y2}, moved
    FROM j
    ORDER BY abs(moved) DESC, partkey
    LIMIT {_MOVERS_TOP}
"""


@query("rank_movers_parts", oracle=_MOVERS_ORACLE, category="window")
def rank_movers_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year rank movers: each part's revenue rank in 1997 vs
    1998 and the top-20 largest rank swings — the leaderboard-delta
    query behind "what rose/fell fastest" dashboards.

    The ranks LOOK like the global-window trap but are not: ranking runs
    AFTER the fact table reduces to the (part, year) aggregate, so each
    per-year window covers a part-dimension-bounded relation (|parts|
    rows), not lineitems. Ranks order by ROUNDED revenue with a partkey
    tiebreak (the cross-engine float discipline), the year join is a
    self-join of the small rank table, and the final top-20 is
    TakeOrdered on |moved|.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.year("o_orderdate").isin(_MOVERS_Y1, _MOVERS_Y2))
        .groupBy(
            F.col("l_partkey").alias("partkey"),
            F.year("o_orderdate").alias("y"),
        )
        .agg(F.sum(disc_units()).alias("revenue"))
    )
    wy = Window.partitionBy("y").orderBy(F.desc("revenue"), F.asc("partkey"))
    rk = rev.select("partkey", "y", F.row_number().over(wy).alias("rnk"))
    a = rk.filter(F.col("y") == _MOVERS_Y1).select(
        "partkey", F.col("rnk").alias(f"rank_{_MOVERS_Y1}")
    )
    b = rk.filter(F.col("y") == _MOVERS_Y2).select(
        "partkey", F.col("rnk").alias(f"rank_{_MOVERS_Y2}")
    )
    j = a.join(b, "partkey").select(
        "partkey",
        f"rank_{_MOVERS_Y1}",
        f"rank_{_MOVERS_Y2}",
        (F.col(f"rank_{_MOVERS_Y1}") - F.col(f"rank_{_MOVERS_Y2}")).alias("moved"),
    )
    return j.orderBy(F.abs(F.col("moved")).desc(), F.asc("partkey")).limit(
        _MOVERS_TOP
    )
