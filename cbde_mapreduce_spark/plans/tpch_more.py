"""Extended TPC-H-shaped queries (adapted to the fixture schema).

Exercises the relational shapes the core module doesn't: simple predicate
aggregation (Q6), EXISTS-driven counts (Q4), correlated scalar subqueries
with decorrelation (Q2), conditional-share aggregation (Q14), NOT IN +
multi-distinct (Q16), HAVING-gated join (Q18), OR-of-ANDs multi-table
predicates (Q19), and returned-item revenue ranking (Q10). Columns absent
from the fixtures (shipmode, container, partsupp) are substituted with
available ones; the *plan shapes* are the point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cbde_mapreduce_spark.plans.money import disc_units, promo_units, sum_units
from cbde_mapreduce_spark.plans.registry import query
from cbde_mapreduce_spark.plans.tpch import DISC_UNITS_SQL  # noqa: F401 (shared SQL fragment)
from cbde_mapreduce_spark.sources import load_table

#: extendedprice * discount in exact 1e-4-dollar units (money.py twin)
PROMO_UNITS_SQL = (
    "(round(l_extendedprice * 100)::bigint"
    " * round(l_discount * 100)::bigint)::decimal(38,0)"
)


@query(
    "q6_forecast_revenue",
    oracle=f"""
        SELECT round(sum({PROMO_UNITS_SQL})::double / 10000.0, 2) AS promo_revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """,
    category="aggregation",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure predicate aggregation — everything pushes to the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            sum_units(promo_units(), 4).alias("promo_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q4_priority_late_ship",
    oracle="""
        SELECT o.o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o.o_orderpriority
    """,
    category="join",
)
def q4_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a correlated range condition → semi join."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = li.select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            late,
            (orders.o_orderkey == late.l_orderkey)
            & (late.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q2_cheapest_part_per_type",
    oracle="""
        SELECT p.p_partkey, p.p_name, p.p_type, p.p_retailprice
        FROM part p
        WHERE p.p_retailprice = (
            SELECT min(p2.p_retailprice) FROM part p2 WHERE p2.p_type = p.p_type)
    """,
    category="join",
)
def q2_cheapest_part_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar subquery (min per group), expressed
    through spark.sql so Catalyst's subquery decorrelation runs."""
    return spark.sql(
        """
        SELECT p.p_partkey, p.p_name, p.p_type, p.p_retailprice
        FROM {part} p
        WHERE p.p_retailprice = (
            SELECT min(p2.p_retailprice) FROM {part} p2 WHERE p2.p_type = p.p_type)
        """,
        part=load_table(spark, sf_dir, "part"),
    )


@query(
    "q10_returned_revenue",
    oracle=f"""
        SELECT c.c_custkey, c.c_name,
               round(sum({DISC_UNITS_SQL})::double / 10000.0, 2) AS revenue
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    category="join",
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue, top-20 customers."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("c_custkey", "c_name")
        .agg(sum_units(disc_units(), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q14_promo_share",
    oracle=f"""
        SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                      THEN {DISC_UNITS_SQL}
                                      ELSE 0::decimal(38,0) END)::double
                     / sum({DISC_UNITS_SQL})::double, 6) AS promo_share
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
    category="aggregation",
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional revenue share over a join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = disc_units()  # exact units; the share ratio cancels the 1e-4 scale
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(38,0)")
    )
    return joined.agg(
        # try_divide: zero window revenue (all discounts 1.0) is 0/0 —
        # DuckDB yields NULL, ANSI Spark raises (numeric-extremes sweep).
        F.round(
            F.try_divide(
                100.0 * F.sum(promo).cast("double"), F.sum(rev).cast("double")
            ),
            6,
        ).alias("promo_share")
    )


@query(
    "q16_supplier_part_counts",
    oracle="""
        SELECT p.p_brand, p.p_type, p.p_size,
               count(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
        WHERE p.p_brand <> 'Brand#1'
          AND p.p_size NOT IN (11, 21, 31)
        GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    category="aggregation",
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: negated predicates + NOT IN + count distinct."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        part.filter(
            (F.col("p_brand") != "Brand#1") & ~F.col("p_size").isin(11, 21, 31)
        )
        .join(li, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q18_large_orders",
    oracle="""
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
               round(sum(l.l_quantity), 2) AS total_qty
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY c.c_custkey, o.o_orderkey, o.o_totalprice
        HAVING sum(l.l_quantity) > 250
    """,
    category="join",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a multi-way join aggregate."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("c_custkey", "o_orderkey", "o_totalprice")
        .agg(
            F.sum("l_quantity").alias("__qty"),
        )
        .filter(F.col("__qty") > 250)
        .select(
            "c_custkey",
            "o_orderkey",
            "o_totalprice",
            F.round("__qty", 2).alias("total_qty"),
        )
    )


@query(
    "q19_disjunctive_revenue",
    oracle=f"""
        SELECT round(sum({DISC_UNITS_SQL})::double / 10000.0, 2) AS revenue,
               count(*) AS n_items
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_type = 'ECONOMY'  AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 1 AND 20)
           OR (p.p_type = 'STANDARD' AND p.p_size BETWEEN 10 AND 30
               AND l.l_quantity BETWEEN 10 AND 30)
           OR (p.p_type = 'PROMO'    AND p.p_size BETWEEN 20 AND 50
               AND l.l_quantity BETWEEN 20 AND 50)
    """,
    category="join",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicates spanning both join sides."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), part.p_partkey == li.l_partkey)
    cond = (
        ((F.col("p_type") == "ECONOMY") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_type") == "PROMO") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 50))
    )
    return j.filter(cond).agg(
        sum_units(disc_units(), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )
