"""Aggregations (SURVEY.md §2.4) and sorts/limits/top-k (§2.6).

MapReduce parity: group-by aggregation is THE MapReduce primitive —
map emits (groupkey, value), the combiner does partial folds, reducers
finalize. Catalyst generates exactly that shape for every ``groupBy().agg()``
(partial HashAggregate → shuffle on the group key → final HashAggregate), so
the combiner optimization is automatic. COUNT(DISTINCT) is MR's two-job
dedupe-then-count pattern; Spark plans it as a two-phase expand+aggregate.
Rollup/cube are MR multi-emit (one record per grouping set); Spark's Expand
node is the same trick. Global top-k is MR's per-mapper heap + single-reducer
merge; Spark's TakeOrderedAndProject is that exact algorithm.

Scale notes: all aggregates here are partial-aggregatable (no
driver materialization); top-k never performs a global sort — each partition
keeps k rows and the driver merges k·p rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cbde_mapreduce_spark.operators.prefix import exclusive_prefix_sum
from cbde_mapreduce_spark.plans.registry import query
from cbde_mapreduce_spark.plans.money import avg_money, cents, disc_units
from cbde_mapreduce_spark.sources import load_table


@query(
    "global_agg_lineitem",
    oracle="""
        SELECT count(*)                         AS n_rows,
               round(sum(l_quantity), 2)        AS sum_qty,
               min(l_shipdate)                  AS min_ship,
               max(l_shipdate)                  AS max_ship,
               count(DISTINCT l_suppkey)        AS n_suppliers,
               round(sum(round(l_extendedprice * 100)::bigint) / 100.0
                     / count(l_extendedprice), 6) AS avg_price
        FROM lineitem
    """,
    category="aggregation",
)
def global_agg_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-key) aggregation — MR's single-reducer job, combiner-tree'd."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        avg_money("l_extendedprice", 6).alias("avg_price"),
    )


@query(
    "count_distinct_by_status",
    oracle="""
        SELECT o_orderstatus,
               count(*)                  AS n_orders,
               count(DISTINCT o_custkey) AS n_customers
        FROM orders
        GROUP BY o_orderstatus
    """,
    category="aggregation",
)
def count_distinct_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group — MR's two-job dedupe-then-count pattern."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@query(
    "rollup_lineitem_flags",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               grouping(l_returnflag, l_linestatus)::bigint AS gid,
               count(*)                                     AS n,
               round(sum(l_quantity), 2)                    AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    category="aggregation",
)
def rollup_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping_id — MR multi-emit per grouping set."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
    )


@query(
    "cube_orders_status_priority",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               grouping(o_orderstatus, o_orderpriority)::bigint AS gid,
               count(*)                                         AS n,
               round(sum(round(o_totalprice * 100)::bigint) / 100.0, 2)
                                                                AS sum_price
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    category="aggregation",
)
def cube_orders_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions with grouping_id."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(cents("o_totalprice")) / F.lit(100.0), 2).alias(
                "sum_price"
            ),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "sum_price")
    )


@query(
    "having_busy_suppliers",
    oracle="""
        SELECT l_suppkey, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY l_suppkey
        HAVING count(*) > 550
    """,
    category="aggregation",
)
def having_busy_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING — MR's second filter job over aggregate output."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .filter(F.col("n_items") > 550)
    )


@query(
    "collect_set_priorities",
    oracle="""
        SELECT o_orderstatus,
               array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
                                                         AS priorities,
               count(*)                                  AS n
        FROM orders
        GROUP BY o_orderstatus
    """,
    category="aggregation",
)
def collect_set_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set per group, sorted then serialized to a scalar string.

    The set is joined to a ','-string on BOTH engine sides: array-typed
    output columns are unhashable for the driver's canonicalizer (round-1
    ERROR row), and a sorted join is the standard engine-neutral encoding.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ",").alias(
            "priorities"
        ),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "histogram_event_types",
    oracle="""
        SELECT event_type, count(*) AS n
        FROM events
        GROUP BY event_type
    """,
    category="aggregation",
)
def histogram_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value histogram — the word-count pattern on a column."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@query(
    "distinct_segment_nation",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    category="dedup",
)
def distinct_segment_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT rows — MR's emit-(record,null)-reduce-once job."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select("c_mktsegment", "c_nationkey").distinct()


@query(
    "top50_parts_ranked",
    oracle="""
        SELECT p_partkey, p_name, p_retailprice,
               row_number() OVER (ORDER BY p_retailprice DESC, p_partkey) AS rn
        FROM part
        ORDER BY p_retailprice DESC, p_partkey
        LIMIT 50
    """,
    category="sort",
)
def top50_parts_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k with explicit rank column.

    Scale shape: orderBy().limit(k) compiles to TakeOrderedAndProject —
    per-partition heaps of k rows, merged on the driver (the MR top-k
    pattern). The rank window then runs on k rows only, never globally.
    """
    part = load_table(spark, sf_dir, "part")
    top = part.select("p_partkey", "p_name", "p_retailprice").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    ).limit(50)
    w = Window.orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return top.withColumn("rn", F.row_number().over(w).cast("bigint"))


@query("approx_distinct_users", oracle=None, category="aggregation")
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog approx count-distinct — MR's sketch-in-combiner pattern.

    No oracle: approximate result is engine-specific (SURVEY §2.4), driver
    records rows-only. Accuracy is asserted in tests/test_aggregates.py.
    """
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "stats_agg_lineitem",
    oracle="""
        WITH r AS (SELECT l_returnflag,
                          round(l_quantity)::bigint AS q,
                          round(l_extendedprice * 100)::bigint AS yc
                   FROM lineitem),
        m AS (SELECT l_returnflag,
                     count(*)::double AS n,
                     sum(q)::double AS sq, sum(yc)::double AS sy,
                     sum(q * q)::double AS sqq,
                     sum((q * yc)::decimal(38,0))::double AS sqy,
                     sum((yc * yc)::decimal(38,0))::double AS syy
              FROM r GROUP BY l_returnflag),
        f AS (SELECT l_returnflag, n,
                     n * sqy - sq * sy AS cov,
                     n * sqq - sq * sq AS dx,
                     n * syy - sy * sy AS dy
              FROM m)
        SELECT l_returnflag,
               round(CASE WHEN n < 2 OR dx <= 0 OR dy <= 0 THEN NULL
                          ELSE cov / sqrt(dx * dy) END, 6)  AS qty_price_corr,
               round(CASE WHEN n < 2 THEN NULL
                          ELSE cov / (n * (n - 1)) / 100.0 END, 4)
                 AS qty_price_covar,
               round(CASE WHEN n < 2 THEN NULL
                          ELSE sqrt(greatest(dy, 0) / (n * (n - 1))) / 100.0
                     END, 4)                                AS price_stddev,
               round(CASE WHEN n < 2 THEN NULL
                          ELSE dx / (n * (n - 1)) END, 4)   AS qty_var
        FROM f
    """,
    category="aggregation",
)
def stats_agg_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: corr / covar_samp / stddev_samp / var_samp.

    The correlation is composed as try_divide(covar_samp, stddev·stddev)
    — identical co-moments to F.corr (both columns are non-nullable, so
    pairwise-complete and per-column moments coincide) — because ANSI
    Spark's corr RAISES on a zero-variance column (e.g. every quantity
    identical) where DuckDB's corr yields NULL (numeric-extremes sweep).
    """
    li = load_table(spark, sf_dir, "lineitem")
    q = F.round(F.col("l_quantity")).cast("bigint")
    yc = cents("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).cast("double").alias("sq"),
        F.sum(yc).cast("double").alias("sy"),
        F.sum(q * q).cast("double").alias("sqq"),
        F.sum((q * yc).cast("decimal(38,0)")).cast("double").alias("sqy"),
        F.sum((yc * yc).cast("decimal(38,0)")).cast("double").alias("syy"),
    )
    f = m.select(
        "l_returnflag",
        "n",
        (F.col("n") * F.col("sqy") - F.col("sq") * F.col("sy")).alias("cov"),
        (F.col("n") * F.col("sqq") - F.col("sq") * F.col("sq")).alias("dx"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("dy"),
    )
    small = F.col("n") < 2
    return f.select(
        "l_returnflag",
        F.round(
            F.when(small | (F.col("dx") <= 0) | (F.col("dy") <= 0), F.lit(None))
            .otherwise(F.col("cov") / F.sqrt(F.col("dx") * F.col("dy"))),
            6,
        ).alias("qty_price_corr"),
        F.round(
            F.when(small, F.lit(None)).otherwise(
                F.col("cov") / (F.col("n") * (F.col("n") - 1)) / F.lit(100.0)
            ),
            4,
        ).alias("qty_price_covar"),
        F.round(
            F.when(small, F.lit(None)).otherwise(
                F.sqrt(
                    F.greatest(F.col("dy"), F.lit(0.0))
                    / (F.col("n") * (F.col("n") - 1))
                )
                / F.lit(100.0)
            ),
            4,
        ).alias("price_stddev"),
        F.round(
            F.when(small, F.lit(None)).otherwise(
                F.col("dx") / (F.col("n") * (F.col("n") - 1))
            ),
            4,
        ).alias("qty_var"),
    )


@query(
    "argmax_order_per_customer",
    oracle="""
        SELECT o_custkey,
               arg_max(o_orderkey, o_totalprice + o_orderkey * 1e-9) AS biggest_order,
               arg_min(o_orderkey, o_totalprice - o_orderkey * 1e-9) AS smallest_order,
               round(max(o_totalprice), 2) AS max_price
        FROM orders
        GROUP BY o_custkey
    """,
    category="aggregation",
)
def argmax_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by (argmax aggregates — MR's carry-the-record-with-the-
    key reduce). The epsilon·key term makes the ordering total, so ties
    cannot make arg_max engine-dependent."""
    orders = load_table(spark, sf_dir, "orders")
    eps = F.col("o_orderkey") * F.lit(1e-9)
    return orders.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", F.col("o_totalprice") + eps).alias("biggest_order"),
        F.min_by("o_orderkey", F.col("o_totalprice") - eps).alias("smallest_order"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@query(
    "unpivot_event_matrix",
    oracle="""
        WITH m AS (
            SELECT user_id,
                   sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::bigint    AS click,
                   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::bigint AS purchase
            FROM events GROUP BY user_id
        )
        SELECT user_id, 'click' AS etype, click AS n FROM m
        UNION ALL
        SELECT user_id, 'purchase' AS etype, purchase AS n FROM m
    """,
    category="aggregation",
)
def unpivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt (stack) — the inverse of the pivot demux."""
    events = load_table(spark, sf_dir, "events")
    wide = (
        events.groupBy("user_id")
        .pivot("event_type", ["click", "purchase"])
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(c, F.lit(0)).cast("bigint").alias(c) for c in ["click", "purchase"]],
        )
    )
    return wide.unpivot("user_id", ["click", "purchase"], "etype", "n")


@query("approx_percentile_values", oracle=None, category="aggregation")
def approx_percentile_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (the 100 TB path for percentiles_order_value).

    Sketch-based (engine-specific) ⇒ rows-only for the driver; accuracy vs
    the exact interpolated percentile is asserted in tests/test_aggregates.py.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("approx_percentile(o_totalprice, 0.5, 10000)"), 4).alias("p50_approx"),
        F.round(F.expr("approx_percentile(o_totalprice, 0.9, 10000)"), 4).alias("p90_approx"),
    )


@query("freq_items_words", oracle=None, category="aggregation")
def freq_items_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items sketch over document tokens (heavy-hitters family).

    Engine-specific support threshold semantics ⇒ rows-only; containment of
    the true top words is asserted in tests/test_aggregates.py.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
    freq = tok.stat.freqItems(["word"], support=0.02)
    return freq.select(
        F.explode(F.sort_array("word_freqItems")).alias("frequent_word")
    )


@query(
    "grouping_sets_orders",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               round(sum(round(o_totalprice * 100)::bigint) / 100.0, 2) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
    """,
    category="aggregation",
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube specialize):
    three simultaneous groupings expanded in ONE pass over the fact table —
    the MR multi-key-emit job, planned by Catalyst as a single Expand +
    aggregate, not three scans."""
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               round(sum(cast(round(o_totalprice * 100) AS bigint))
                     / double(100), 2) AS total
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


#: DuckDB twin of the FULL count-min pipeline: same md5-affine buckets
#: (CM_AFFINE frozen constants in the VALUES list), same counter matrix,
#: same min-over-rows estimate, same 0.5% threshold. Built lazily (needs
#: the operators module's constants).
def _cm_oracle() -> str:
    from cbde_mapreduce_spark.operators.dedup import MH_PRIME
    from cbde_mapreduce_spark.operators.sketches import CM_AFFINE, WIDTH

    values = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(CM_AFFINE))
    return f"""
    WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS word
                 FROM documents),
    h AS (SELECT word,
                 ('0x' || substr(md5(word), 1, 15))::bigint % {MH_PRIME} AS hm
          FROM tok),
    cells AS (SELECT r.i AS row,
                     ((r.a * hm + r.b) % {MH_PRIME}) % {WIDTH} AS bucket
              FROM h CROSS JOIN (VALUES {values}) r(i, a, b)),
    sk AS (SELECT row, bucket, count(*)::bigint AS cnt
           FROM cells GROUP BY 1, 2),
    n AS (SELECT sum(cnt) AS n FROM sk WHERE row = 0),
    q AS (SELECT DISTINCT word, hm FROM h),
    probes AS (SELECT q.word, r.i AS row,
                      ((r.a * hm + r.b) % {MH_PRIME}) % {WIDTH} AS bucket
               FROM q CROSS JOIN (VALUES {values}) r(i, a, b)),
    est AS (SELECT word, min(coalesce(sk.cnt, 0)) AS est
            FROM probes LEFT JOIN sk USING (row, bucket)
            GROUP BY word)
    SELECT word, est FROM est, n WHERE est >= 0.005 * n.n
    """


@query("cm_sketch_heavy_hitters", oracle=_cm_oracle(), category="aggregation")
def cm_sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a count-min sketch (operators/sketches.py): words
    whose ESTIMATED frequency is >= 0.5% of the token stream.

    Sketch counters are one map-side-combinable groupBy over (row, bucket) —
    depth·width cells total, independent of corpus size; estimation probes
    the broadcast sketch. Fully oracled since round 11 (the rows-only
    adjudication): bucketing rides the same engine-portable md5-affine
    hash family as MinHash, so the DuckDB twin rebuilds the IDENTICAL
    counter matrix and min-estimates — every overcount is reproduced
    cell-exact, not merely bounded. tests/test_aggregates.py still asserts
    the count-min guarantees against exact counts: est >= truth for every
    word, and every true heavy hitter is returned.
    """
    from cbde_mapreduce_spark.operators.sketches import cm_build, cm_estimate

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
    sketch = cm_build(tok, "word").localCheckpoint()  # build once, probe twice
    # the stream total N is already IN the sketch (any row sums to N) —
    # no extra pass over the tokens
    n_tokens = (
        sketch.filter(F.col("row") == 0).agg(F.sum("cnt").alias("n")).first()["n"]
        or 0  # empty corpus: sum() is NULL; threshold 0 over no rows
    )
    return (
        cm_estimate(tok, "word", sketch)
        .filter(F.col("est") >= 0.005 * n_tokens)
        .orderBy(F.desc("est"), F.asc("word"))
    )


@query("hll_rollup_daily_users", oracle=None, category="aggregation")
def hll_rollup_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct counts: per-day HLL sketches of user_id,
    MERGED up to per-week estimates with hll_union_agg — the sketch-rollup
    pattern that makes 100 TB distinct-count dashboards incremental (store
    tiny daily sketches, never rescan raw events for a coarser grain).

    Merging is lossless at equal precision (register-wise max), so the
    rolled-up weekly estimate is EXACTLY the direct weekly sketch's — that
    invariant plus a <2% error bound vs exact COUNT(DISTINCT) is asserted in
    tests/test_aggregates.py. Rows-only: sketch binaries/estimates are
    engine-specific (Apache DataSketches).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.date_trunc("week", "ts").cast("date").alias("week"),
            F.col("ts").cast("date").alias("day"),
            "user_id",
        )
        .groupBy("week", "day")
        .agg(F.hll_sketch_agg("user_id").alias("sketch"))
    )
    return (
        daily.groupBy("week")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch"))
            .cast("bigint")
            .alias("est_distinct_users")
        )
        .select(F.col("week").cast("timestamp_ntz").alias("week"), "est_distinct_users")
    )


@query(
    "table_fingerprint_orders",
    oracle="""
        SELECT count(*)::bigint AS n_rows,
               sum(('0x' || substr(md5(
                     coalesce(o_orderkey::varchar, '') || '|' ||
                     coalesce(o_custkey::varchar, '') || '|' ||
                     coalesce(o_orderstatus, '') || '|' ||
                     coalesce(o_orderpriority, '') || '|' ||
                     coalesce(o_orderdate::date::varchar, '')),
                   1, 8))::bigint)::bigint AS fingerprint
        FROM orders
    """,
    category="aggregation",
)
def table_fingerprint_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint: SUM of a per-row content hash —
    the anti-entropy / replication-integrity check (compare fingerprints of
    two copies without moving either). One scan, map-side-combinable global
    agg, zero shuffle of data rows; commutative sum makes it partitioning-
    and order-insensitive by construction.

    md5 is identical in both engines, so this is a genuine cross-engine
    differential of the whole canonicalize→hash→fold chain. Floats stay OUT
    of the canonical string (engine float-formatting differs); keys, codes,
    and dates only.
    """
    o = load_table(spark, sf_dir, "orders")
    # explicit coalesce-to-'' per field: concat_ws SKIPS a NULL field (and
    # its separator) while the oracle's '||' nulls the whole string — a
    # NULL FK made the two engines fingerprint the row differently
    # (NULL-FK value-parity sweep). Coalescing per field keeps the field
    # count stable and both engines byte-identical.
    canon = F.concat_ws(
        "|",
        F.coalesce(F.col("o_orderkey").cast("string"), F.lit("")),
        F.coalesce(F.col("o_custkey").cast("string"), F.lit("")),
        F.coalesce(F.col("o_orderstatus"), F.lit("")),
        F.coalesce(F.col("o_orderpriority"), F.lit("")),
        F.coalesce(F.col("o_orderdate").cast("date").cast("string"), F.lit("")),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("bigint")
    return o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(h).cast("bigint").alias("fingerprint"),
    )


@query("hll_intersect_estimate", oracle=None, category="aggregation")
def hll_intersect_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra: estimate |clickers ∩ purchasers| by
    inclusion-exclusion over three HLL cardinalities (|A| + |B| − |A∪B|)
    — the distinct-overlap question answered WITHOUT ever shuffling user
    sets, the way audience-overlap runs at 100 TB (three mergeable
    sketches over one scan; the union sketch is the merge of the others
    in a sketch store, re-aggregated here).

    No oracle: HLL estimates are engine-specific. Accuracy vs the exact
    intersection is asserted in tests/test_aggregates.py.
    """
    events = load_table(spark, sf_dir, "events")
    both = events.filter(F.col("event_type").isin("click", "purchase"))
    est = both.agg(
        F.approx_count_distinct(
            F.when(F.col("event_type") == "click", F.col("user_id")), 0.02
        ).alias("est_click"),
        F.approx_count_distinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id")), 0.02
        ).alias("est_purchase"),
        F.approx_count_distinct("user_id", 0.02).alias("est_union"),
    )
    return est.select(
        "est_click",
        "est_purchase",
        "est_union",
        (F.col("est_click") + F.col("est_purchase") - F.col("est_union")).alias(
            "est_intersect"
        ),
    )


@query(
    "range_fingerprint_orders",
    oracle="""
        SELECT (o_orderkey // 1000)::bigint AS key_range,
               count(*)::bigint AS n_rows,
               sum(('0x' || substr(md5(
                     coalesce(o_orderkey::varchar, '') || '|' ||
                     coalesce(o_custkey::varchar, '') || '|' ||
                     coalesce(o_orderstatus, '') || '|' ||
                     coalesce(o_orderpriority, '') || '|' ||
                     coalesce(o_orderdate::date::varchar, '')),
                   1, 8))::bigint)::bigint AS fingerprint
        FROM orders
        GROUP BY 1
    """,
    category="aggregation",
)
def range_fingerprint_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-bucketed fingerprints (the Merkle level below
    table_fingerprint_orders): one commutative hash-sum per 1000-key range,
    so when two replicas' TABLE fingerprints disagree, comparing the
    range rows localizes the divergence to a resync-sized key range
    instead of re-shipping the table — the anti-entropy descent every
    replicated store runs. Same canonical string and fold as the global
    fingerprint; one map-side-combinable aggregation on the derived range
    key."""
    o = load_table(spark, sf_dir, "orders")
    # explicit coalesce-to-'' per field: concat_ws SKIPS a NULL field (and
    # its separator) while the oracle's '||' nulls the whole string — a
    # NULL FK made the two engines fingerprint the row differently
    # (NULL-FK value-parity sweep). Coalescing per field keeps the field
    # count stable and both engines byte-identical.
    canon = F.concat_ws(
        "|",
        F.coalesce(F.col("o_orderkey").cast("string"), F.lit("")),
        F.coalesce(F.col("o_custkey").cast("string"), F.lit("")),
        F.coalesce(F.col("o_orderstatus"), F.lit("")),
        F.coalesce(F.col("o_orderpriority"), F.lit("")),
        F.coalesce(F.col("o_orderdate").cast("date").cast("string"), F.lit("")),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("bigint")
    return (
        o.groupBy(F.expr("o_orderkey div 1000").alias("key_range"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(h).cast("bigint").alias("fingerprint"),
        )
    )


@query("mg_heavy_hitter_words", oracle=None, category="aggregation")
def mg_heavy_hitter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via Misra-Gries counters (k=8) over the token stream —
    the deterministic, hash-free counterpart of cm_sketch_heavy_hitters on
    the SAME stream: <=k counters per partition, merged by pointwise sum
    plus one threshold subtraction (operators/sketches.py::mg_heavy_hitters).

    Rows-only by design: MG counts are exact only up to the n/(k+1) band
    and depend on partition layout within it. tests/test_sketches_mg.py
    asserts the mergeable-summary guarantees against exact counts
    (underestimate-only, band-bounded, no heavy hitter missed, exactness
    when k >= vocabulary) and partitioning-invariance of the guarantee.
    """
    from cbde_mapreduce_spark.operators.sketches import mg_heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split(F.lower("text"), " ")).alias("word")).filter(
        F.col("word") != ""
    )
    return mg_heavy_hitters(tok, "word", k=8).orderBy(F.desc("est"), F.asc("item"))


_ABC_ORACLE = """
    WITH rev AS (SELECT l_partkey AS partkey,
                        sum((round(l_extendedprice * 100)::bigint
                             * (100 - round(l_discount * 100)::bigint)
                            )::decimal(38,0)) AS u
                 FROM lineitem GROUP BY l_partkey),
    c AS (SELECT partkey, u,
                 round(u::double / 100.0)::bigint AS cents
          FROM rev),
    rk AS (SELECT partkey, u, cents,
                  sum(cents) OVER (ORDER BY cents DESC, partkey) AS cum_c,
                  sum(cents) OVER () AS tot_c
           FROM c),
    cls AS (SELECT partkey, u,
                   CASE WHEN 10 * cum_c <= 8 * tot_c  THEN 'A'
                        WHEN 20 * cum_c <= 19 * tot_c THEN 'B'
                        ELSE 'C' END AS abc
            FROM rk)
    SELECT abc,
           count(*)::bigint AS n_parts,
           round(sum(u)::double / 10000.0, 2) AS revenue,
           round(sum(u)::double
                 / (SELECT sum(u) FROM rev)::double, 6) AS rev_share
    FROM cls GROUP BY abc
"""


@query("abc_analysis_parts", oracle=_ABC_ORACLE, category="aggregation")
def abc_analysis_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by revenue: class A = the
    top-revenue parts carrying the first 80% of cumulative revenue, B =
    the next 15%, C = the tail — the 80/20 inventory-prioritization
    query.

    Round 4: the cumulative ranking rides the distributed prefix-sum
    machinery (operators/prefix.py), not a single-partition window — at
    the 100 TB design point parts are dimension-sized but still ~1e8
    rows. Exactness discipline (money.py, round-11): per-part revenue is
    summed as exact 1e-4-dollar integer units, the ranking cents derive
    from that integer, the prefix sums are associative integers — the
    distributed two-phase sum cannot drift a Pareto boundary the way
    reassociated double addition could — and the 80%/95% thresholds are
    exact integer comparisons (10*cum <= 8*tot, 20*cum <= 19*tot) on
    both engines; class revenue and share are single divisions of the
    exact class totals.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # per-part revenue as exact 1e-4-dollar units (money.py); the ranking
    # cents, the class sums, and the share ratio all derive from this one
    # exact integer — no double sum anywhere in the Pareto pipeline
    rev = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(disc_units()).alias("u")
    )
    cents = F.round(F.col("u").cast("double") / F.lit(100.0)).cast("bigint")
    c = rev.select(
        "partkey", "u", cents.alias("cents"), (-cents).alias("neg_cents")
    )
    ranked = exclusive_prefix_sum(
        c, ["neg_cents", "partkey"], "cents", out_col="pre"
    ).withColumn("cum_c", F.col("pre") + F.col("cents"))
    tot_c = int(c.agg(F.sum("cents")).first()[0] or 0)
    abc = (
        F.when(10 * F.col("cum_c") <= 8 * F.lit(tot_c), "A")
        .when(20 * F.col("cum_c") <= 19 * F.lit(tot_c), "B")
        .otherwise("C")
    )
    tot = rev.agg(F.sum("u").alias("t"))
    return (
        ranked.select(abc.alias("abc"), "u")
        .groupBy("abc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.round(F.sum("u").cast("double") / F.lit(10000.0), 2).alias(
                "revenue"
            ),
            F.sum("u").alias("_raw"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "abc",
            "n_parts",
            "revenue",
            # try_divide: zero total revenue (all-free lineitems) is 0/0 —
            # DuckDB yields NULL, ANSI Spark raises (numeric-extremes sweep).
            F.round(
                F.try_divide(
                    F.col("_raw").cast("double"), F.col("t").cast("double")
                ),
                6,
            ).alias("rev_share"),
        )
    )


_CR_K = 10

_CR_ORACLE = f"""
    WITH cr AS (SELECT year(o_orderdate) AS y, o_custkey,
                       sum(round(o_totalprice * 100)::bigint) AS rc
                FROM orders GROUP BY 1, 2),
    rk AS (SELECT y, rc,
                  row_number() OVER (PARTITION BY y
                                     ORDER BY rc DESC, o_custkey)
                    AS rn
           FROM cr)
    SELECT y AS year,
           count(*)::bigint AS n_customers,
           round(sum(CASE WHEN rn <= {_CR_K} THEN rc ELSE 0 END) / 100.0, 2)
             AS top{_CR_K}_revenue,
           round(sum(CASE WHEN rn <= {_CR_K} THEN rc ELSE 0 END)::double
                 / sum(rc)::double, 6) AS cr{_CR_K}
    FROM rk GROUP BY y
"""


@query("cr10_concentration_by_year", oracle=_CR_ORACLE, category="aggregation")
def cr10_concentration_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-concentration trend: the CR-10 ratio (share of each year's
    revenue held by its top-10 customers) per year — the time-series
    companion to gini_customer_revenue's single-point inequality measure,
    and the early-warning number for key-account dependency.

    Ranking runs per year over the customer dimension AFTER the revenue
    aggregation (|years|·|customers| rows), ordered by rounded revenue
    with a custkey tiebreak; the CR share is a conditional sum over the
    same ranked relation — one fact scan, one dimension-bounded window.
    """
    orders = load_table(spark, sf_dir, "orders")
    # per-customer revenue in exact integer cents: ranking by cents is
    # identical to the old round(rev,2) order (cent-quantized inputs make
    # the yearly sum an exact integer number of cents), and the CR share
    # is one division of two exact integers
    cr = orders.groupBy(
        F.year("o_orderdate").alias("y"), "o_custkey"
    ).agg(F.sum(cents("o_totalprice")).alias("rc"))
    wy = Window.partitionBy("y").orderBy(F.desc("rc"), F.asc("o_custkey"))
    rk = cr.select("y", "rc", F.row_number().over(wy).alias("rn"))
    top = F.when(F.col("rn") <= _CR_K, F.col("rc")).otherwise(F.lit(0))
    return rk.groupBy(F.col("y").alias("year")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.round(F.sum(top) / F.lit(100.0), 2).alias(f"top{_CR_K}_revenue"),
        # try_divide: a zero-revenue year is 0/0 — DuckDB NULL, ANSI raises.
        F.round(
            F.try_divide(
                F.sum(top).cast("double"), F.sum("rc").cast("double")
            ),
            6,
        ).alias(f"cr{_CR_K}"),
    )
