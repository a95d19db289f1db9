"""Projections, filters, predicates, and scalar functions (SURVEY.md §2.2, §2.8).

MapReduce parity: all of these are in-``map()`` record transforms — emit a
subset of fields, gate on a predicate, or compute derived values per record.
In Spark they are narrow (shuffle-free) operations that Catalyst pushes into
the parquet scan: predicate pushdown skips row groups, column pruning reads
only the referenced columns. At 100 TB these queries never shuffle at all
(except where they end in a small aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cbde_mapreduce_spark.plans.registry import query
from cbde_mapreduce_spark.plans.money import cents
from cbde_mapreduce_spark.sources import load_table


@query(
    "filter_project_orders",
    oracle="""
        SELECT o_orderkey, o_custkey,
               round(o_totalprice * 0.9, 4) AS discounted,
               year(o_orderdate)::int       AS o_year
        FROM orders
        WHERE o_orderstatus = 'O'
          AND o_totalprice BETWEEN 100000 AND 200000
          AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
    category="filter",
)
def filter_project_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicates (=, BETWEEN, IN) + projection + computed columns."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(
            (F.col("o_orderstatus") == "O")
            & F.col("o_totalprice").between(100000, 200000)
            & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * 0.9, 4).alias("discounted"),
            F.year("o_orderdate").alias("o_year"),
        )
    )


@query(
    "like_rlike_filter",
    oracle="""
        SELECT p_partkey, p_name, p_brand
        FROM part
        WHERE p_name LIKE '%blue%'
          AND regexp_matches(p_brand, '^Brand#1[0-9]$')
    """,
    category="filter",
)
def like_rlike_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE and regex predicates (the MR 'grep job')."""
    part = load_table(spark, sf_dir, "part")
    return part.filter(
        F.col("p_name").like("%blue%") & F.col("p_brand").rlike("^Brand#1[0-9]$")
    ).select("p_partkey", "p_name", "p_brand")


@query(
    "explode_doc_tokens",
    oracle="""
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
        WHERE doc_id < 10
    """,
    category="explode",
)
def explode_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N emit (the MR multi-write pattern) via explode."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") < 10)
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    )


@query(
    "string_funcs_customer",
    oracle="""
        SELECT c_custkey,
               upper(substr(c_name, 1, 8))                       AS name_prefix,
               length(c_name)::int                               AS name_len,
               concat_ws('-', c_mktsegment, c_nationkey::varchar) AS seg_nation,
               lpad(c_custkey::varchar, 12, '0')                 AS padded_key,
               instr(c_name, '#')::int                           AS hash_pos,
               translate(c_mktsegment, 'AEIOU', 'aeiou')         AS seg_translated
        FROM customer
        WHERE c_custkey < 200
    """,
    category="scalar",
)
def string_funcs_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar functions: upper/substr/length/concat_ws/lpad/instr/translate."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.filter(F.col("c_custkey") < 200)
        .select(
            "c_custkey",
            F.upper(F.substring("c_name", 1, 8)).alias("name_prefix"),
            F.length("c_name").alias("name_len"),
            F.concat_ws("-", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias("seg_nation"),
            F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("padded_key"),
            F.instr(F.col("c_name"), "#").alias("hash_pos"),
            F.translate("c_mktsegment", "AEIOU", "aeiou").alias("seg_translated"),
        )
    )


@query(
    "conditional_case_orders",
    oracle="""
        SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                    WHEN o_totalprice < 150000 THEN 'mid'
                    ELSE 'big' END                                   AS bucket,
               coalesce(nullif(o_orderstatus, 'P'), 'PENDING')       AS status_norm,
               count(*)                                              AS n,
               round(sum(round(greatest(o_totalprice, 10000.0) * 100)::bigint)
                     / 100.0, 2)                                     AS sum_floored,
               round(sum(round(least(o_totalprice, 400000.0) * 100)::bigint)
                     / 100.0, 2)                                     AS sum_capped
        FROM orders
        GROUP BY 1, 2
    """,
    category="scalar",
)
def conditional_case_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / coalesce / nullif / greatest / least."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("big")
    )
    status_norm = F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING"))
    return (
        orders.groupBy(bucket.alias("bucket"), status_norm.alias("status_norm"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(cents(F.greatest(F.col("o_totalprice"), F.lit(10000.0))))
                / F.lit(100.0),
                2,
            ).alias("sum_floored"),
            F.round(
                F.sum(cents(F.least(F.col("o_totalprice"), F.lit(400000.0))))
                / F.lit(100.0),
                2,
            ).alias("sum_capped"),
        )
    )


@query(
    "math_funcs_lineitem",
    oracle="""
        SELECT l_returnflag,
               round(sum(round(sqrt(l_quantity) * 1000000)::bigint)
                     / 1000000.0, 4)                      AS sum_sqrt_qty,
               round(sum(abs(round(l_discount * 100)::bigint - 5))
                     / 100.0, 4)                          AS sum_abs_disc,
               round(sum((100 + round(l_tax * 100)::bigint)
                         * (100 + round(l_tax * 100)::bigint))
                     / 10000.0, 4)                        AS sum_pow_tax,
               round(sum(round(ln(l_extendedprice) * 1000000)::bigint)
                     / 1000000.0, 4)                      AS sum_ln_price,
               round(sum(floor(l_quantity) + ceil(l_discount * 100)), 1) AS sum_floor_ceil
        FROM lineitem
        GROUP BY l_returnflag
    """,
    category="scalar",
)
def math_funcs_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar functions: sqrt/abs/pow/ln/floor/ceil under aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    # Exact-sum discipline (money.py): abs-disc and pow-tax regroup into
    # exact integer percent units; the two IRRATIONAL per-row transforms
    # (sqrt, ln) quantize per row to a 1e-6 grid before the bigint sum —
    # per-row values are run-deterministic on each engine (sqrt is IEEE
    # correctly-rounded; ln agreement is sampled by parity + dup sweeps),
    # so the order-dependent double SUM was the only flake vector and it
    # is gone. Summed-then-rounded-at-4dp results differ from the old
    # double path by at most n*5e-7 (invisible at the 4dp output grid for
    # fixture group sizes, identical on both engines at any size).
    tax_u = F.lit(100) + F.round(F.col("l_tax") * 100).cast("bigint")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.round(F.sqrt("l_quantity") * 1000000).cast("bigint"))
            / F.lit(1000000.0),
            4,
        ).alias("sum_sqrt_qty"),
        F.round(
            F.sum(F.abs(F.round(F.col("l_discount") * 100).cast("bigint") - 5))
            / F.lit(100.0),
            4,
        ).alias("sum_abs_disc"),
        F.round(F.sum(tax_u * tax_u) / F.lit(10000.0), 4).alias("sum_pow_tax"),
        F.round(
            F.sum(
                F.round(F.log(F.col("l_extendedprice")) * 1000000).cast("bigint")
            )
            / F.lit(1000000.0),
            4,
        ).alias("sum_ln_price"),
        F.round(
            F.sum((F.floor("l_quantity") + F.ceil(F.col("l_discount") * 100)).cast("double")), 1
        ).alias("sum_floor_ceil"),
    )


@query(
    "datetime_funcs_orders",
    oracle="""
        SELECT year(o_orderdate)::int  AS o_year,
               month(o_orderdate)::int AS o_month,
               count(*)                AS n_orders,
               min(date_trunc('month', o_orderdate)) AS month_start,
               round(avg(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00')), 4) AS avg_days_to_2002
        FROM orders
        GROUP BY 1, 2
    """,
    category="scalar",
)
def datetime_funcs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time functions: year/month/date_trunc/datediff under aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("o_year"),
            F.month("o_orderdate").alias("o_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min(F.date_trunc("month", F.col("o_orderdate")).cast("timestamp_ntz")).alias("month_start"),
            F.round(
                F.avg(
                    F.datediff(
                        F.lit("2002-01-01 00:00:00").cast("timestamp_ntz"),
                        F.col("o_orderdate"),
                    )
                ),
                4,
            ).alias("avg_days_to_2002"),
        )
    )


@query(
    "pipe_syntax_revenue",
    oracle="""
        SELECT l_returnflag,
               round(sum((round(l_extendedprice * 100)::bigint
                          * (100 - round(l_discount * 100)::bigint)
                         )::decimal(38,0))::double / 10000.0, 2) AS revenue,
               count(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY l_returnflag
    """,
    category="relational",
)
def pipe_syntax_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 `|>` operators): the same filtered revenue
    aggregation written as a linear FROM → WHERE → AGGREGATE pipeline —
    the dataflow-ordered SQL dialect. Catalyst plans it identically to the
    nested form (the oracle is classic SQL), so this is a pure
    surface-coverage differential: two syntaxes, one plan, one result.
    """
    return spark.sql(
        """
        FROM {lineitem}
        |> WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |> AGGREGATE round(cast(sum(cast(cast(round(l_extendedprice * 100) AS bigint)
                                     * (100 - cast(round(l_discount * 100) AS bigint))
                                     AS decimal(38,0))) AS double)
                           / double(10000), 2) AS revenue,
                     count(*) AS n
           GROUP BY l_returnflag
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@query(
    "collation_distinct_segments",
    oracle="""
        WITH m AS (
            SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                        ELSE c_mktsegment END AS seg
            FROM customer)
        SELECT count(DISTINCT seg)        AS n_distinct_binary,
               count(DISTINCT lower(seg)) AS n_distinct_ci
        FROM m
    """,
    category="relational",
)
def collation_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4): case-insensitive DISTINCT via
    UTF8_LCASE collation on a deterministically mixed-case column —
    10 binary-distinct values collapse to 5 under the collation. The
    oracle reaches the same answer through explicit lower(); the Spark
    side changes the comparison SEMANTICS, not the data — which is the
    point of collated types (one declaration, every comparison/join/group
    follows, no scattered lower() calls to forget).
    """
    c = load_table(spark, sf_dir, "customer")
    mixed = F.when(
        F.col("c_custkey") % 2 == 0, F.lower("c_mktsegment")
    ).otherwise(F.col("c_mktsegment"))
    return c.select(mixed.alias("seg")).agg(
        F.countDistinct("seg").alias("n_distinct_binary"),
        F.countDistinct(F.expr("seg COLLATE UTF8_LCASE")).alias("n_distinct_ci"),
    )


# business days from the Monday epoch 1970-01-05 to date x (half-open):
# f(x) = 5 * (days div 7) + least(days mod 7, 5); lag = f(ship) - f(order).
# Pure integer arithmetic on datediff — no engine weekday() numbering
# (Spark weekday is Monday=0, DuckDB dayofweek is Sunday=0; this formula
# never consults either).
_BDAY_F = (
    "(5 * ((datediff(to_date({col}), DATE '1970-01-05')) div 7)"
    " + least((datediff(to_date({col}), DATE '1970-01-05')) % 7, 5))"
)
_BDAY_F_DUCK = (
    "(5 * ((date_diff('day', DATE '1970-01-05', {col}::date)) // 7)"
    " + least((date_diff('day', DATE '1970-01-05', {col}::date)) % 7, 5))"
)

_BDAY_ORACLE = f"""
    WITH j AS (
        SELECT {_BDAY_F_DUCK.format(col='l.l_shipdate')}
               - {_BDAY_F_DUCK.format(col='o.o_orderdate')} AS bdays
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
    SELECT bdays::bigint AS bdays,
           count(*)::bigint AS n
    FROM j GROUP BY bdays
"""


@query("business_days_to_ship", oracle=_BDAY_ORACLE, category="scalar")
def business_days_to_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship lag in BUSINESS days (weekends excluded), as a histogram
    over all lineitems — calendar arithmetic done the engine-portable way.

    The trap: each engine numbers weekdays differently (Spark weekday()
    Monday=0, DuckDB dayofweek Sunday=0, isodow Monday=1), so any formula
    consulting a weekday function must be re-derived per engine. Instead,
    business-days-since-a-known-Monday is the closed form
    f(x) = 5·⌊d/7⌋ + min(d mod 7, 5) with d = days since 1970-01-05 — one
    datediff and integer arithmetic that is textually near-identical on
    both engines, and the lag is f(ship) − f(order). One broadcast-joined
    scan plus a combinable histogram groupBy.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    bdays = F.expr(
        _BDAY_F.format(col="l_shipdate")
    ) - F.expr(_BDAY_F.format(col="o_orderdate"))
    return (
        j.select(bdays.cast("bigint").alias("bdays"))
        .groupBy("bdays")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
