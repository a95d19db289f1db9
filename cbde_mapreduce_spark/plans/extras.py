"""Inventory completions (SURVEY.md §2): the remaining scalar/join/API
variants not covered by the core modules — right outer join, null
predicates, regexp extraction, JSON path access, array functions, date
formatting, and the SQL-string entry path."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cbde_mapreduce_spark.plans.money import cents
from cbde_mapreduce_spark.plans.registry import query
from cbde_mapreduce_spark.sources import load_table


@query(
    "right_outer_supplier_items",
    oracle="""
        SELECT s.s_suppkey, s.s_name, count(l.l_orderkey) AS n_items
        FROM lineitem l
        RIGHT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY s.s_suppkey, s.s_name
    """,
    category="join",
)
def right_outer_supplier_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join — suppliers with zero lineitems preserved."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey, "right")
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("l_orderkey").alias("n_items"))
    )


@query(
    "null_predicates_unmatched",
    oracle="""
        SELECT c.c_custkey,
               o.o_orderkey IS NULL     AS no_order,
               coalesce(o.o_totalprice, -1.0) AS price_or_default
        FROM customer c
        LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o
          ON c.c_custkey = o.o_custkey
        WHERE o.o_orderkey IS NULL OR o.o_totalprice IS NOT NULL
    """,
    category="filter",
)
def null_predicates_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """isNull / isNotNull predicates over join-produced nulls."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    joined = cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
    return joined.filter(
        F.col("o_orderkey").isNull() | F.col("o_totalprice").isNotNull()
    ).select(
        "c_custkey",
        F.col("o_orderkey").isNull().alias("no_order"),
        F.coalesce("o_totalprice", F.lit(-1.0)).alias("price_or_default"),
    )


@query(
    "regexp_json_extract_events",
    oracle="""
        SELECT event_id,
               regexp_extract(props, '"k": ([0-9]+)', 1)::bigint AS k_regex,
               regexp_extract(event_type, '^([a-z]{3})', 1)      AS type_prefix
        FROM events
        WHERE event_id < 1000
    """,
    category="scalar",
)
def regexp_json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract + get_json_object — both extraction idioms on one row.

    Spark pulls ``k`` with a real JSON-path accessor while the oracle uses
    regex; the regex-prefix column runs the same pattern on both engines.
    """
    events = load_table(spark, sf_dir, "events")
    return events.filter(F.col("event_id") < 1000).select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_regex"),
        F.regexp_extract("event_type", "^([a-z]{3})", 1).alias("type_prefix"),
    )


@query(
    "array_funcs_embeddings",
    oracle="""
        SELECT vec_id,
               len(embedding)::int                                    AS dim,
               round(embedding[1]::double, 6)                         AS first_val,
               round(list_sum(list_transform(embedding[1:8],
                              x -> x::double)), 6)                    AS head8_sum,
               list_contains(list_transform(embedding, x -> x > 0),
                             true)                                    AS has_positive
        FROM embeddings
        WHERE vec_id < 100
    """,
    category="scalar",
)
def array_funcs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions: size / element_at / slice / aggregate / array_contains."""
    emb = load_table(spark, sf_dir, "embeddings")
    head8 = F.slice(F.col("embedding").cast("array<double>"), 1, 8)
    return emb.filter(F.col("vec_id") < 100).select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        F.round(F.aggregate(head8, F.lit(0.0), lambda a, x: a + x), 6).alias("head8_sum"),
        F.array_contains(
            F.transform("embedding", lambda x: x > 0), F.lit(True)
        ).alias("has_positive"),
    )


@query(
    "date_format_buckets",
    oracle="""
        SELECT strftime(o_orderdate, '%Y-%m') AS ym,
               epoch(min(o_orderdate))::bigint AS first_epoch,
               count(*) AS n
        FROM orders
        GROUP BY 1
    """,
    category="scalar",
)
def date_format_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_format + unix_timestamp (UTC session makes epoch deterministic)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("ym")
    ).agg(
        F.unix_timestamp(F.min("o_orderdate").cast("timestamp")).alias("first_epoch"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "sql_entry_revenue_by_nation",
    oracle="""
        SELECT n.n_name, count(DISTINCT c.c_custkey) AS n_customers,
               round(sum(round(o.o_totalprice * 100)::bigint) / 100.0, 2) AS total_revenue
        FROM nation n
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o   ON o.o_custkey = c.c_custkey
        GROUP BY n.n_name
    """,
    category="sql-api",
)
def sql_entry_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql(...) entry path (SURVEY §3.2): same engine, SQL text in.

    The tables go in as DataFrame arguments: Spark registers each under a
    generated view name, analyses the query and drops the views before
    ``sql()`` returns, so concurrent calls in one session share no name and
    leave nothing in its catalog.
    """
    return spark.sql(
        """
        SELECT n.n_name, count(DISTINCT c.c_custkey) AS n_customers,
               round(sum(cast(round(o.o_totalprice * 100) AS bigint))
                     / double(100), 2) AS total_revenue
        FROM {nation} n
        JOIN {customer} c ON c.c_nationkey = n.n_nationkey
        JOIN {orders} o   ON o.o_custkey = c.c_custkey
        GROUP BY n.n_name
        """,
        nation=load_table(spark, sf_dir, "nation"),
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "merge_upsert_customers",
    oracle="""
        WITH ch AS (
            SELECT c_custkey AS k, 'D' AS op,
                   NULL::double AS acctbal, NULL::varchar AS seg
            FROM customer WHERE c_custkey % 17 = 0
            UNION ALL
            SELECT c_custkey, 'U', round(c_acctbal + 100.0, 2), c_mktsegment
            FROM customer WHERE c_custkey % 17 <> 0 AND c_custkey % 10 = 0
            UNION ALL
            SELECT c_custkey + 1000000, 'I', 500.0, 'NEWSEG'
            FROM customer WHERE c_custkey % 23 = 0
        ),
        merged AS (
            SELECT coalesce(ch.k, c.c_custkey) AS k,
                   coalesce(ch.acctbal, c.c_acctbal) AS acctbal,
                   coalesce(ch.seg, c.c_mktsegment) AS seg
            FROM customer c FULL OUTER JOIN ch ON c.c_custkey = ch.k
            WHERE ch.op IS NULL OR ch.op <> 'D'
        )
        SELECT seg AS c_mktsegment, count(*)::bigint AS n_customers,
               round(sum(round(acctbal * 100)::bigint) / 100.0, 2)
                 AS total_acctbal
        FROM merged GROUP BY 1
    """,
    category="merge",
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (matched-delete / matched-update / not-matched-
    insert) as ONE full-outer join — the CDC-apply operator core Spark
    lacks as a primitive (Delta/Iceberg implement exactly this plan shape).

    The change batch is derived deterministically from the base table
    (deletes: key%17, updates: key%10 +100 balance, inserts: key%23 under
    shifted keys), so the differential is self-contained. One shuffle on the
    merge key for both sides; at 100 TB the same plan benefits from
    pre-bucketed storage on the key, and AQE handles the typically tiny
    change side via broadcast conversion.
    """
    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    deletes = c.filter(k % 17 == 0).select(
        k.alias("k"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("acctbal"),
        F.lit(None).cast("string").alias("seg"),
    )
    updates = c.filter((k % 17 != 0) & (k % 10 == 0)).select(
        k.alias("k"),
        F.lit("U").alias("op"),
        F.round(F.col("c_acctbal") + 100.0, 2).alias("acctbal"),
        F.col("c_mktsegment").alias("seg"),
    )
    inserts = c.filter(k % 23 == 0).select(
        (k + 1000000).alias("k"),
        F.lit("I").alias("op"),
        F.lit(500.0).alias("acctbal"),
        F.lit("NEWSEG").alias("seg"),
    )
    ch = deletes.unionAll(updates).unionAll(inserts)
    merged = (
        c.join(ch, c.c_custkey == ch.k, "full_outer")
        .filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            F.coalesce("acctbal", "c_acctbal").alias("acctbal"),
            F.coalesce("seg", "c_mktsegment").alias("seg"),
        )
    )
    return merged.groupBy(F.col("seg").alias("c_mktsegment")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.round(F.sum(cents("acctbal")) / F.lit(100.0), 2).alias(
            "total_acctbal"
        ),
    )


@query(
    "table_diff_cdc",
    oracle="""
        WITH a AS (SELECT o_orderkey AS k, o_orderstatus AS payload
                   FROM orders
                   WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                     AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'),
        b AS (SELECT o_orderkey AS k,
                     CASE WHEN o_totalprice > 300000 THEN 'P'
                          ELSE o_orderstatus END AS payload
              FROM orders
              WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND o_orderdate <  TIMESTAMP '2000-01-01 00:00:00')
        SELECT CASE WHEN a.k IS NULL THEN 'insert'
                    WHEN b.k IS NULL THEN 'delete'
                    WHEN a.payload <> b.payload THEN 'update'
                    ELSE 'unchanged' END AS change_type,
               count(*) AS n
        FROM a FULL OUTER JOIN b ON a.k = b.k
        GROUP BY 1
    """,
    category="warehouse",
)
def table_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC generation): classify every key across two table
    states as insert / delete / update / unchanged — the change feed a
    MERGE consumes, produced by ONE full-outer join on the key comparing
    payloads. Completes the warehouse CDC triangle with
    merge_upsert_customers (apply) and scd2_customer_status (history).

    The two states are deterministic date-windowed views of orders with a
    simulated in-place update rule, chosen so ALL FOUR classes are
    non-empty at sf0.01 — a wrong join type or comparison visibly shifts
    the counts. At scale this is one co-partitioned shuffle on the key;
    with both snapshots bucketed on the key it is exchange-free.
    """
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp_ntz"))
    ).select(F.col("o_orderkey").alias("ka"), F.col("o_orderstatus").alias("pa"))
    b = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("2000-01-01 00:00:00").cast("timestamp_ntz"))
    ).select(
        F.col("o_orderkey").alias("kb"),
        F.when(F.col("o_totalprice") > 300000, "P")
        .otherwise(F.col("o_orderstatus"))
        .alias("pb"),
    )
    change = (
        F.when(F.col("ka").isNull(), "insert")
        .when(F.col("kb").isNull(), "delete")
        .when(F.col("pa") != F.col("pb"), "update")
        .otherwise("unchanged")
    )
    return (
        a.join(b, a.ka == b.kb, "full_outer")
        .select(change.alias("change_type"))
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_RI_ORACLE = """
    SELECT 'lineitem->orders' AS fk, (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))::bigint AS orphans
    UNION ALL
    SELECT 'lineitem->part', (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))::bigint
    UNION ALL
    SELECT 'lineitem->supplier', (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM supplier s
                          WHERE s.s_suppkey = l.l_suppkey))::bigint
    UNION ALL
    SELECT 'orders->customer', (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))::bigint
    UNION ALL
    SELECT 'customer->nation', (SELECT count(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = c.c_nationkey))::bigint
    UNION ALL
    SELECT 'nation->region', (SELECT count(*) FROM nation n
        WHERE NOT EXISTS (SELECT 1 FROM region r
                          WHERE r.r_regionkey = n.n_regionkey))::bigint
"""


@query("referential_integrity_audit", oracle=_RI_ORACLE, category="quality")
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the whole star: orphan counts for
    all six FK edges in one result — the ingest-gate companion to
    data_quality_checks (which audits values; this audits the JOIN GRAPH,
    where a single orphan silently deletes rows from every inner join
    downstream).

    Each edge is one left-anti join counted; dimension sides broadcast, so
    the fact table is scanned once per edge with no shuffle (at 100 TB the
    three lineitem edges fuse into one scan by rewriting as a triple
    left join + three conditional counts — same contract, one pass; kept
    as anti joins here because the anti join IS the audited semantic).
    The expected result on this referentially-intact fixture is six zero
    rows — the audit's passing state, asserted non-vacuously by the FK
    names themselves being present.
    """
    t = {n: load_table(spark, sf_dir, n) for n in
         ("lineitem", "orders", "part", "supplier", "customer", "nation", "region")}

    def orphans(fact, dim, fk, pk, label):
        return (
            t[fact]
            .join(F.broadcast(t[dim].select(pk)), F.col(fk) == F.col(pk), "left_anti")
            .agg(
                F.lit(label).alias("fk"),
                F.count(F.lit(1)).cast("bigint").alias("orphans"),
            )
        )

    edges = [
        orphans("lineitem", "orders", "l_orderkey", "o_orderkey", "lineitem->orders"),
        orphans("lineitem", "part", "l_partkey", "p_partkey", "lineitem->part"),
        orphans("lineitem", "supplier", "l_suppkey", "s_suppkey", "lineitem->supplier"),
        orphans("orders", "customer", "o_custkey", "c_custkey", "orders->customer"),
        orphans("customer", "nation", "c_nationkey", "n_nationkey", "customer->nation"),
        orphans("nation", "region", "n_regionkey", "r_regionkey", "nation->region"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out
