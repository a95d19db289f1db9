"""Closed-form statistical models from combinable aggregates (SURVEY.md §2
widened): weight-of-evidence binning, multivariate OLS via normal equations,
and the Kaplan-Meier survival estimator.

The common scale shape: every model here reduces the fact table to a tiny
sufficient-statistics relation in ONE map-side-combinable aggregation pass
(10 bins / 9 raw moments / a day-domain lifetable), and all model arithmetic
runs over that bounded relation. No MLlib, no iteration, no driver-side data
movement beyond the statistics themselves.

- ``woe_iv_binning_orders``: equal-frequency deciles come from broadcast
  quantile edges (the decile_histogram_orders pattern — no global window),
  then WOE/IV over the 10-row bin table.
- ``ols_normal_equations``: 2-regressor least squares from raw moments
  (Σx, Σx², Σxy …) solved by Cramer's rule on the centered 2×2 system —
  the classic "ML on MapReduce" reduction (one pass, nine sums).
- ``kaplan_meier_customers``: per-customer lifetimes (one shuffle on
  custkey), then the product-limit estimator over the duration lifetable.
  The cumulative window runs on the day-domain lifetable (bounded by the
  calendar span, not the row count), ordered identically on both engines so
  the ln-sum accumulates in the same order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cbde_mapreduce_spark.plans.registry import query
from cbde_mapreduce_spark.sources import load_table

_DECILE_QS = [i / 10.0 for i in range(1, 10)]

_WOE_ORACLE = """
    WITH e AS (SELECT quantile_cont(o_totalprice,
                          [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
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
                 CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS pos
          FROM orders, e),
    g AS (SELECT decile,
                 count(*)::bigint AS n,
                 sum(pos)::bigint AS pos
          FROM b GROUP BY decile),
    t AS (SELECT decile, n, pos, n - pos AS neg,
                 sum(pos) OVER () AS pos_tot,
                 sum(n - pos) OVER () AS neg_tot
          FROM g)
    SELECT decile, n, pos,
           round(ln((pos::double / pos_tot) / (neg::double / neg_tot)), 6)
             AS woe,
           round((pos::double / pos_tot - neg::double / neg_tot)
                 * ln((pos::double / pos_tot) / (neg::double / neg_tot)), 6)
             AS iv
    FROM t
"""


@query("woe_iv_binning_orders", oracle=_WOE_ORACLE, category="ml-prep")
def woe_iv_binning_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value binning: o_totalprice deciles
    scored against the URGENT-priority target — the credit-scoring feature
    transform, model-free.

    Deciles are assigned by counting broadcast quantile edges (the
    decile_histogram_orders scale pattern: one combinable aggregate for the
    edges, one scan to bin — no global window). WOE/IV arithmetic runs on
    the 10-row bin table; the window totals there cover 10 rows, not the
    fact table. Every decile holds ~10% of orders so both classes are
    populated and the log-odds are finite by construction at this skew.
    """
    orders = load_table(spark, sf_dir, "orders")
    edges = orders.agg(
        *[
            F.expr(f"percentile(o_totalprice, {q})").alias(f"q{i}")
            for i, q in enumerate(_DECILE_QS, 1)
        ]
    )
    b = orders.crossJoin(F.broadcast(edges))
    decile = sum(
        F.when(F.col("o_totalprice") >= F.col(f"q{i}"), 1).otherwise(0)
        for i in range(1, 10)
    ).cast("int")
    pos = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
    g = (
        b.select(decile.alias("decile"), pos.alias("pos"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("pos").cast("bigint").alias("pos"),
        )
    )
    w = Window.partitionBy()  # 10-row bin table, not the fact table
    t = g.select(
        "decile",
        "n",
        "pos",
        (F.col("n") - F.col("pos")).alias("neg"),
        F.sum("pos").over(w).alias("pos_tot"),
        F.sum(F.col("n") - F.col("pos")).over(w).alias("neg_tot"),
    )
    # try_divide: a single-class input (pos_tot or neg_tot = 0) has no
    # defined odds — NULL WOE like DuckDB, not an ANSI error
    pr = F.try_divide(F.col("pos").cast("double"), F.col("pos_tot"))
    nr = F.try_divide(F.col("neg").cast("double"), F.col("neg_tot"))
    lo = F.log(F.try_divide(pr, nr))
    return t.select(
        "decile",
        "n",
        "pos",
        F.round(lo, 6).alias("woe"),
        F.round((pr - nr) * lo, 6).alias("iv"),
    )


_OLS_ORACLE = """
    WITH r AS (
        SELECT round(l_quantity)::bigint AS q,
               round(l_discount * 100)::bigint AS dp,
               round(l_extendedprice * 100)::bigint AS yc
        FROM lineitem),
    m AS (
        SELECT count(*)::double AS n,
               sum(q)::double AS sx1,
               sum(dp)::double AS sx2,
               sum(yc)::double AS sy,
               sum(q * q)::double AS sx1x1,
               sum(dp * dp)::double AS sx2x2,
               sum(q * dp)::double AS sx1x2,
               sum((q * yc)::decimal(38,0))::double AS sx1y,
               sum((dp * yc)::decimal(38,0))::double AS sx2y,
               sum((yc * yc)::decimal(38,0))::double AS syy
        FROM r),
    c AS (SELECT n,
                 sx1x1 - sx1 * sx1 / n AS s11,
                 sx2x2 - sx2 * sx2 / n AS s22,
                 sx1x2 - sx1 * sx2 / n AS s12,
                 sx1y - sx1 * sy / n AS s1y,
                 sx2y - sx2 * sy / n AS s2y,
                 syy - sy * sy / n AS syy_c,
                 sx1 / n AS mx1, sx2 / n AS mx2, sy / n AS my
          FROM m),
    s AS (SELECT n, mx1, mx2, my, s1y, s2y, syy_c,
                 (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS b1,
                 (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2
          FROM c)
    SELECT n::bigint AS n,
           round((my - b1 * mx1 - b2 * mx2) / 100.0, 4) AS b0,
           round(b1 / 100.0, 4) AS b1,
           round(b2, 4) AS b2,
           round((b1 * s1y + b2 * s2y) / syy_c, 6) AS r2
    FROM s
"""


@query("ols_normal_equations", oracle=_OLS_ORACLE, category="ml-prep")
def ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-regressor least squares fit l_extendedprice ~ l_quantity +
    l_discount, solved in closed form: one aggregation pass collects the
    nine raw moments, Cramer's rule on the centered 2×2 normal equations
    yields the coefficients, plus R².

    This is the canonical "learning as aggregation" reduction: the only
    corpus-sized work is one map-side-combinable agg; the solve touches a
    single row. Since round 11 the nine moments are EXACT integers
    (quantities x percent units x cents; decimal(38,0) for the y products
    — money.py): double raw-moment sums merge in scheduler-dependent
    order, the conformal/regr flake class. The solve runs in the integer
    unit system and converts scales once at the end (b1, b0 /100; b2 and
    r2 scale-invariant).
    """
    li = load_table(spark, sf_dir, "lineitem")
    q = F.round(F.col("l_quantity")).cast("bigint")
    dp = F.round(F.col("l_discount") * 100).cast("bigint")
    yc = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).cast("double").alias("sx1"),
        F.sum(dp).cast("double").alias("sx2"),
        F.sum(yc).cast("double").alias("sy"),
        F.sum(q * q).cast("double").alias("sx1x1"),
        F.sum(dp * dp).cast("double").alias("sx2x2"),
        F.sum(q * dp).cast("double").alias("sx1x2"),
        F.sum((q * yc).cast("decimal(38,0)")).cast("double").alias("sx1y"),
        F.sum((dp * yc).cast("decimal(38,0)")).cast("double").alias("sx2y"),
        F.sum((yc * yc).cast("decimal(38,0)")).cast("double").alias("syy"),
    )
    c = m.select(
        "n",
        (F.col("sx1x1") - F.col("sx1") * F.col("sx1") / F.col("n")).alias("s11"),
        (F.col("sx2x2") - F.col("sx2") * F.col("sx2") / F.col("n")).alias("s22"),
        (F.col("sx1x2") - F.col("sx1") * F.col("sx2") / F.col("n")).alias("s12"),
        (F.col("sx1y") - F.col("sx1") * F.col("sy") / F.col("n")).alias("s1y"),
        (F.col("sx2y") - F.col("sx2") * F.col("sy") / F.col("n")).alias("s2y"),
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")).alias("syy_c"),
        (F.col("sx1") / F.col("n")).alias("mx1"),
        (F.col("sx2") / F.col("n")).alias("mx2"),
        (F.col("sy") / F.col("n")).alias("my"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    s = c.select(
        "n",
        "mx1",
        "mx2",
        "my",
        "s1y",
        "s2y",
        "syy_c",
        # try_divide: a degenerate design (n = 1, constant regressors)
        # has det = 0 and no defined fit — NULL like DuckDB
        F.try_divide(
            F.col("s22") * F.col("s1y") - F.col("s12") * F.col("s2y"), det
        ).alias("b1"),
        F.try_divide(
            F.col("s11") * F.col("s2y") - F.col("s12") * F.col("s1y"), det
        ).alias("b2"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(
            (
                F.col("my")
                - F.col("b1") * F.col("mx1")
                - F.col("b2") * F.col("mx2")
            )
            / F.lit(100.0),
            4,
        ).alias("b0"),
        F.round(F.col("b1") / F.lit(100.0), 4).alias("b1"),
        F.round("b2", 4).alias("b2"),
        F.round(
            F.try_divide(
                F.col("b1") * F.col("s1y") + F.col("b2") * F.col("s2y"),
                F.col("syy_c"),
            ),
            6,
        ).alias("r2"),
    )


_KM_HORIZON_DAYS = 90

_KM_ORACLE = f"""
    WITH mx AS (SELECT max(o_orderdate)::date AS mend FROM orders),
    u AS (SELECT o_custkey,
                 date_diff('day', min(o_orderdate)::date,
                           max(o_orderdate)::date) AS dur,
                 CASE WHEN max(o_orderdate)::date
                       <= (SELECT mend FROM mx) - INTERVAL {_KM_HORIZON_DAYS} DAY
                      THEN 1 ELSE 0 END AS churned
          FROM orders GROUP BY o_custkey),
    lt AS (SELECT dur,
                  sum(churned)::bigint AS d,
                  sum(1 - churned)::bigint AS c
           FROM u GROUP BY dur),
    ar AS (SELECT dur, d, c,
                  (SELECT count(*) FROM u)
                  - coalesce(sum(d + c) OVER (ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS at_risk
           FROM lt),
    km AS (SELECT dur, d, c, at_risk,
                  exp(sum(CASE WHEN d = 0 THEN 0.0
                               ELSE ln(greatest(1.0 - d::double / at_risk,
                                                1e-15)) END)
                      OVER (ORDER BY dur)) AS surv
           FROM ar)
    SELECT dur::bigint AS dur, d, c, at_risk::bigint AS at_risk,
           round(surv, 6) AS survival
    FROM km
"""


@query("kaplan_meier_customers", oracle=_KM_ORACLE, category="ml-prep")
def kaplan_meier_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival curve over customer lifetimes.

    A customer's lifetime is first→last order date; customers whose last
    order falls within 90 days of the corpus end are right-CENSORED (still
    active), the rest are churn events. S(t) = Π_{{t_i<=t}} (1 - d_i/n_i).

    Scale shape: one shuffle on custkey reduces orders to per-customer
    (dur, churned); the lifetable groups that to one row per distinct
    duration — bounded by the calendar span in days, not by customers — and
    the at-risk / cumulative-hazard windows run over that bounded lifetable
    in a deterministic dur order, so both engines accumulate the ln-sum in
    the same sequence. The 1e-15 floor only engages if a duration exhausts
    the risk set (S(t) collapses to 0 identically on both engines).
    """
    orders = load_table(spark, sf_dir, "orders")
    mend = orders.agg(F.max(F.to_date("o_orderdate")).alias("mend"))
    u = (
        orders.groupBy("o_custkey")
        .agg(
            F.min(F.to_date("o_orderdate")).alias("a"),
            F.max(F.to_date("o_orderdate")).alias("b"),
        )
        .crossJoin(F.broadcast(mend))
        .select(
            F.datediff("b", "a").alias("dur"),
            F.when(
                F.col("b") <= F.date_sub(F.col("mend"), _KM_HORIZON_DAYS), 1
            )
            .otherwise(0)
            .alias("churned"),
        )
    )
    total = u.agg(F.count(F.lit(1)).alias("n_users"))
    lt = (
        u.groupBy("dur")
        .agg(
            F.sum("churned").cast("bigint").alias("d"),
            F.sum(1 - F.col("churned")).cast("bigint").alias("c"),
        )
        .crossJoin(F.broadcast(total))
    )
    # windows below run on the day-domain lifetable (~10^3 rows), not orders
    wprev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    wcum = Window.orderBy("dur")
    ar = lt.select(
        "dur",
        "d",
        "c",
        (
            F.col("n_users")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0))
        ).alias("at_risk"),
    )
    lnf = F.when(F.col("d") == 0, F.lit(0.0)).otherwise(
        F.log(
            F.greatest(
                F.lit(1.0) - F.col("d").cast("double") / F.col("at_risk"),
                F.lit(1e-15),
            )
        )
    )
    km = ar.select(
        F.col("dur").cast("bigint").alias("dur"),
        "d",
        "c",
        F.col("at_risk").cast("bigint").alias("at_risk"),
        F.round(F.exp(F.sum(lnf).over(wcum)), 6).alias("survival"),
    )
    return km


_BOOT_B = 32  # bootstrap replicates
# floor(cumsum(Poisson(1) pmf) * 65536) for k = 0..6: the md5-derived
# 16-bit uniform is compared against this ladder to draw a weight in 0..7
_BOOT_T = [24109, 48218, 60273, 64291, 65296, 65497, 65530]

_BOOT_LADDER_SQL = " + ".join(f"CASE WHEN u >= {t} THEN 1 ELSE 0 END" for t in _BOOT_T)

_BOOT_ORACLE = f"""
    WITH reps AS (
        SELECT o_totalprice AS x, b,
               (ascii(substr(md5(o_orderkey::varchar || ':' || b::varchar), 1, 1)) * 256
                + ascii(substr(md5(o_orderkey::varchar || ':' || b::varchar), 2, 1))) AS u
        FROM orders, generate_series(0, {_BOOT_B - 1}) t(b)),
    w AS (SELECT b, round(x * 100)::bigint AS xc,
                 ({_BOOT_LADDER_SQL}) AS w FROM reps),
    means AS (SELECT b,
                     sum((w * xc)::decimal(38,0))::double
                       / sum(w)::double / 100.0 AS m
              FROM w GROUP BY b),
    mq AS (SELECT m, round(m * 10000)::bigint AS q FROM means),
    sq AS (SELECT count(*)::bigint AS nb,
                  sum(q)::bigint AS s1, sum((q * q)::decimal(38,0)) AS s2,
                  quantile_cont(m, 0.025) AS lo, quantile_cont(m, 0.975) AS hi
           FROM mq),
    pt AS (SELECT sum(round(o_totalprice * 100)::bigint) / 100.0
                    / count(o_totalprice) AS mean
           FROM orders)
    SELECT round(pt.mean, 4) AS mean,
           round(sq.lo, 4) AS ci_lo,
           round(sq.hi, 4) AS ci_hi,
           round(sqrt((nb::double * s2::double - s1::double * s1::double)
                      / (nb::double * (nb::double - 1))) / 10000.0, 4)
             AS se_boot
    FROM sq, pt
"""


@query("bootstrap_ci_order_value", oracle=_BOOT_ORACLE, category="ml-prep")
def bootstrap_ci_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al., the resampling scheme built for
    map-reduce): a 95% CI and bootstrap SE for mean(o_totalprice) from 32
    replicates, each row carrying an independent Poisson(1) weight per
    replicate — the streaming-safe surrogate for multinomial resampling,
    since no replicate ever needs a global row count.

    Determinism discipline: the weight is drawn from the first two md5
    bytes of (orderkey ':' replicate) against a hard-coded inverse-CDF
    ladder — the same engine-portable md5-bucket scheme as the dataset
    splitters, so both engines draw IDENTICAL weights and the oracle
    check is exact, not statistical. Scale shape: the replicate explode is
    map-side (B× rows but zero extra shuffle width — the reduce is a
    combinable sum keyed on the 32 replicate ids); the percentile runs
    over the 32-row replicate-mean table.
    """
    orders = load_table(spark, sf_dir, "orders")
    reps = orders.select(
        F.col("o_totalprice").alias("x"),
        "o_orderkey",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    h = F.md5(
        F.encode(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit(":"),
                F.col("b").cast("string"),
            ),
            "UTF-8",
        )
    )
    u = F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    w = sum(F.when(u >= t, 1).otherwise(0) for t in _BOOT_T)
    # exact integer arithmetic (money.py): replicate means ride integer
    # weights x integer cents; the bootstrap SE derives from exact moments
    # of the 1e-4-quantized means instead of a stddev_samp double
    # co-moment merge (the conformal/regr flake class)
    xc = F.round(F.col("x") * 100).cast("bigint")
    means = (
        reps.select("b", xc.alias("xc"), w.alias("w"))
        .groupBy("b")
        # try_divide: a tiny corpus can draw total weight 0 for a
        # replicate — NULL mean like DuckDB, not an ANSI error
        .agg(
            (
                F.try_divide(
                    F.sum((F.col("w") * F.col("xc")).cast("decimal(38,0)")).cast(
                        "double"
                    ),
                    F.sum("w").cast("double"),
                )
                / F.lit(100.0)
            ).alias("m")
        )
    )
    mq = means.select("m", F.round(F.col("m") * 10000).cast("bigint").alias("q"))
    sq = mq.agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("q").alias("s1"),
        F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("s2"),
        F.expr("percentile(m, 0.025)").alias("lo"),
        F.expr("percentile(m, 0.975)").alias("hi"),
    )
    pt = orders.agg(
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            / F.lit(100.0)
            / F.count("o_totalprice")
        ).alias("mean")
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731 — mirror ::double
    return sq.crossJoin(F.broadcast(pt)).select(
        F.round("mean", 4).alias("mean"),
        F.round("lo", 4).alias("ci_lo"),
        F.round("hi", 4).alias("ci_hi"),
        F.round(
            F.sqrt(
                (dbl("nb") * dbl("s2") - dbl("s1") * dbl("s1"))
                / (dbl("nb") * (dbl("nb") - 1))
            )
            / F.lit(10000.0),
            4,
        ).alias("se_boot"),
    )


_ANOVA_ORACLE = """
    WITH g AS (SELECT c_mktsegment AS seg,
                      count(*)::bigint AS n,
                      sum(round(c_acctbal * 100)::bigint) AS s,
                      sum((round(c_acctbal * 100)::bigint
                           * round(c_acctbal * 100)::bigint
                          )::decimal(38,0)) AS ss
               FROM customer GROUP BY c_mktsegment),
    tot AS (SELECT sum(n)::double AS n, sum(s)::double AS s,
                   sum(ss)::double AS ss, count(*)::double AS k,
                   sum(round(s::double * s::double / n)::decimal(38,0))::double
                     AS sgs
            FROM g),
    parts AS (SELECT k, n,
                     sgs - s * s / n AS ssb,
                     ss - sgs AS ssw,
                     ss - s * s / n AS sst
              FROM tot
              -- k = 0: empty input must yield ZERO rows, matching the
              -- Spark side's k > 0 filter (the old g-join form vanished
              -- on empty g implicitly)
              WHERE k > 0)
    SELECT k::bigint AS k, n::bigint AS n,
           round(ssb / (k - 1) / (ssw / (n - k)), 6) AS f_stat,
           round(ssb / sst, 6) AS eta_sq
    FROM parts
"""


@query("anova_f_segments", oracle=_ANOVA_ORACLE, category="ml-prep")
def anova_f_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does mean account balance differ across the five
    market segments? F statistic and effect size (η²) from the
    between/within sum-of-squares decomposition.

    Same sufficient-statistics reduction as the OLS fit: ONE combinable
    groupBy collects (n, Σy, Σy²) per segment; SSB/SSW/SST and the F ratio
    are arithmetic over the 5-row group table (computational formulas —
    no mean-subtraction second pass). The χ²/MI queries cover categorical×
    categorical dependence; this is the categorical×continuous screen.
    """
    cust = load_table(spark, sf_dir, "customer")
    # exact cents moments per segment (money.py); the five per-segment
    # s^2/n rationals quantize to integer cents^2 before their sum so no
    # double accumulation survives anywhere in the decomposition
    yc = F.round(F.col("c_acctbal") * 100).cast("bigint")
    g = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(yc).alias("s"),
        F.sum((yc * yc).cast("decimal(38,0)")).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").cast("double").alias("tn"),
        F.sum("s").cast("double").alias("ts"),
        F.sum("ss").cast("double").alias("tss"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(
            F.round(
                F.col("s").cast("double") * F.col("s").cast("double")
                / F.col("n")
            ).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("sgs"),
    )
    # k > 0: the oracle's parts CTE joins the (empty-on-empty-input) group
    # table, so an empty relation yields zero rows, not a NULL-stat row
    parts = tot.filter(F.col("k") > 0).select(
        "k",
        F.col("tn").alias("n"),
        (F.col("sgs") - F.col("ts") * F.col("ts") / F.col("tn")).alias("ssb"),
        (F.col("tss") - F.col("sgs")).alias("ssw"),
        (F.col("tss") - F.col("ts") * F.col("ts") / F.col("tn")).alias("sst"),
    )
    return parts.select(
        F.col("k").cast("bigint").alias("k"),
        F.col("n").cast("bigint").alias("n"),
        # try_divide: k = 1 or n = k makes the F ratio undefined — NULL
        # like DuckDB, not an ANSI error
        F.round(
            F.try_divide(
                F.try_divide(F.col("ssb"), F.col("k") - 1),
                F.try_divide(F.col("ssw"), F.col("n") - F.col("k")),
            ),
            6,
        ).alias("f_stat"),
        F.round(F.try_divide(F.col("ssb"), F.col("sst")), 6).alias("eta_sq"),
    )


_DID_CUT = "1999-01-01"
_DID_SEG = "BUILDING"

_DID_ORACLE = f"""
    WITH j AS (
        SELECT CASE WHEN c.c_mktsegment = '{_DID_SEG}' THEN 1 ELSE 0 END AS treat,
               CASE WHEN o.o_orderdate >= TIMESTAMP '{_DID_CUT}'
                    THEN 1 ELSE 0 END AS post,
               o.o_totalprice AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    g AS (SELECT treat, post, avg(y) AS m, count(*)::bigint AS n
          FROM j GROUP BY treat, post),
    p AS (SELECT
            max(CASE WHEN treat = 1 AND post = 1 THEN m END) AS t_post,
            max(CASE WHEN treat = 1 AND post = 0 THEN m END) AS t_pre,
            max(CASE WHEN treat = 0 AND post = 1 THEN m END) AS c_post,
            max(CASE WHEN treat = 0 AND post = 0 THEN m END) AS c_pre,
            sum(n)::bigint AS n
          FROM g)
    SELECT n, round(t_pre, 4) AS treat_pre, round(t_post, 4) AS treat_post,
           round(c_pre, 4) AS ctrl_pre, round(c_post, 4) AS ctrl_post,
           round((t_post - t_pre) - (c_post - c_pre), 4) AS did
    FROM p
"""


@query("diff_in_diff_orders", oracle=_DID_ORACLE, category="ml-prep")
def diff_in_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the change in mean order value for the
    BUILDING segment (treatment) across the 1999-01-01 cut, net of the
    change for everyone else (control) — the workhorse causal estimator
    when only parallel trends can be assumed, beside ab_test_conversion's
    randomized-split z-test.

    One broadcast join tags orders with the treatment flag, one combinable
    groupBy produces the 2×2 cell means, and the estimator is arithmetic
    over 4 rows pivoted into a single row via conditional max — no second
    scan, no window.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        F.when(F.col("c_mktsegment") == _DID_SEG, 1).otherwise(0).alias("treat"),
        F.when(
            F.col("o_orderdate") >= F.lit(_DID_CUT).cast("timestamp_ntz"), 1
        )
        .otherwise(0)
        .alias("post"),
        F.col("o_totalprice").alias("y"),
    )
    g = j.groupBy("treat", "post").agg(
        F.avg("y").alias("m"), F.count(F.lit(1)).cast("bigint").alias("n")
    )
    cell = lambda t, p: F.max(
        F.when((F.col("treat") == t) & (F.col("post") == p), F.col("m"))
    )
    p = g.agg(
        cell(1, 1).alias("t_post"),
        cell(1, 0).alias("t_pre"),
        cell(0, 1).alias("c_post"),
        cell(0, 0).alias("c_pre"),
        F.sum("n").alias("n"),
    )
    return p.select(
        "n",
        F.round("t_pre", 4).alias("treat_pre"),
        F.round("t_post", 4).alias("treat_post"),
        F.round("c_pre", 4).alias("ctrl_pre"),
        F.round("c_post", 4).alias("ctrl_post"),
        F.round(
            (F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre")), 4
        ).alias("did"),
    )


_ELAST_ORACLE = """
    WITH lx AS (
        SELECT l_partkey,
               CASE WHEN l_quantity > 0
                    THEN round(ln(l_quantity) * 1e9)::bigint END AS qy,
               CASE WHEN l_extendedprice > 0
                    THEN round(ln(l_extendedprice) * 1e9)::bigint END AS qx
        FROM lineitem),
    m AS (SELECT p.p_type,
                 count(*)::double AS n,
                 sum(l.qx)::double AS sx, sum(l.qy)::double AS sy,
                 sum(l.qx::decimal(19,0) * l.qx)::double AS sxx,
                 sum(l.qx::decimal(19,0) * l.qy)::double AS sxy,
                 sum(l.qy::decimal(19,0) * l.qy)::double AS syy
          FROM lx l JOIN part p ON l.l_partkey = p.p_partkey
          WHERE l.qx IS NOT NULL AND l.qy IS NOT NULL
          GROUP BY p.p_type)
    SELECT p_type,
           n::bigint AS n,
           round(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                      ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx)
                 END, 6) AS elasticity,
           round(CASE WHEN n * sxx - sx * sx <= 0
                        OR n * syy - sy * sy <= 0 THEN NULL
                      ELSE (n * sxy - sx * sy) * (n * sxy - sx * sy)
                           / ((n * sxx - sx * sx) * (n * syy - sy * sy))
                 END, 6) AS r2
    FROM m
"""


@query("grouped_elasticity_slopes", oracle=_ELAST_ORACLE, category="ml-prep")
def grouped_elasticity_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group regression: log-log price elasticity of demand
    (d ln qty / d ln price) fitted independently for each part type via
    the built-in regr_* aggregates — grouped closed-form model fitting
    with zero extra machinery.

    regr_slope/regr_r2 are combinable aggregates (running co-moments), so
    the whole per-type fit rides ONE shuffle of the broadcast-joined fact
    table on p_type — the grouped companion to ols_normal_equations
    (global, multivariate) and regr_aggs_lineitem (global, simple).
    """
    # The non-positive guard is EXPLICIT on both sides: Spark's ln yields
    # NULL for <= 0 while DuckDB's ln RAISES on 0 (numeric-extremes sweep
    # — a zero-quantity row crashed only the oracle); the shared CASE
    # makes both engines drop those rows from the regression identically.
    # Per-row ln values quantize at 1e-9 and the fit derives from EXACT
    # integer moments (money.py round-11): regr_* merges double co-moments
    # in scheduler order. Slope/r2 are invariant in the quantized units.
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    qy = F.expr(
        "CASE WHEN l_quantity > 0"
        " THEN cast(round(ln(l_quantity) * 1e9) as bigint) END"
    )
    qx = F.expr(
        "CASE WHEN l_extendedprice > 0"
        " THEN cast(round(ln(l_extendedprice) * 1e9) as bigint) END"
    )
    m = (
        j.select("p_type", qy.alias("qy"), qx.alias("qx"))
        .filter(F.col("qx").isNotNull() & F.col("qy").isNotNull())
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("qx").cast("double").alias("sx"),
            F.sum("qy").cast("double").alias("sy"),
            F.sum(F.col("qx").cast("decimal(19,0)") * F.col("qx"))
            .cast("double")
            .alias("sxx"),
            F.sum(F.col("qx").cast("decimal(19,0)") * F.col("qy"))
            .cast("double")
            .alias("sxy"),
            F.sum(F.col("qy").cast("decimal(19,0)") * F.col("qy"))
            .cast("double")
            .alias("syy"),
        )
    )
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.select(
        "p_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.when(dx == 0, F.lit(None)).otherwise(cov / dx), 6
        ).alias("elasticity"),
        F.round(
            F.when((dx <= 0) | (dy <= 0), F.lit(None)).otherwise(
                cov * cov / (dx * dy)
            ),
            6,
        ).alias("r2"),
    )


_CONF_ALPHA = 0.9  # target coverage

#: The fit rides EXACT integer moments (round-10 dup-sweep finding on the
#: rolled corpus dup_r19_p532): regr_slope/regr_intercept accumulate double
#: co-moments in engine-specific partial-merge order, so m/c differed in
#: the last ulps — invisible in the rounded outputs, but the coverage test
#: compares |y − (m·x + c)| ≤ qhat at FULL precision, and 19× replication
#: put 19 copies of one boundary order on the band edge (coverage moved by
#: exactly 19/n_test). Now: y in bigint cents, x in bigint days, the five
#: sums (n, Σx, Σy, Σx², Σxy) are exact order-independent integer
#: aggregates, and slope/intercept are ONE deterministic double expression
#: over identical operands — bit-equal in both engines. The band cutoff is
#: rounded to 2 cent-decimals before comparison so percentile-interpolation
#: ulps cannot reclassify a row either.
_CONF_ORACLE = f"""
    WITH base AS (
        SELECT round(o_totalprice * 100)::bigint AS yc,
               date_diff('day', DATE '1995-01-01', o_orderdate::date)::bigint AS x,
               (ascii(substr(md5(o_orderkey::varchar), 1, 1)) * 256
                + ascii(substr(md5(o_orderkey::varchar), 2, 1))) % 100 AS b
        FROM orders),
    cal AS (SELECT * FROM base WHERE b < 50),
    tst AS (SELECT * FROM base WHERE b >= 50),
    mom AS (SELECT count(*)::bigint AS n,
                   sum(x)::bigint AS sx, sum(yc)::bigint AS sy,
                   sum(x * x)::bigint AS sxx, sum(x * yc)::bigint AS sxy
            FROM cal),
    fitm AS (SELECT n, sx, sy,
                    -- the degenerate-fit guard tests the SAME double
                    -- expression the slope divides by, never the bigint
                    -- product: at sf10 n*sxx ~ 1.0e20 overflows int64
                    -- under ANSI (ADVICE r10 medium) while the double
                    -- form is deterministic from identical exact operands
                    CASE WHEN n::double * sxx::double
                              - sx::double * sx::double = 0 THEN NULL
                         ELSE (n::double * sxy::double - sx::double * sy::double)
                              / (n::double * sxx::double - sx::double * sx::double)
                    END AS m
             FROM mom),
    fit AS (SELECT n, m,
                   (sy::double - m * sx::double) / n::double AS c
            FROM fitm),
    q AS (SELECT round(quantile_cont(abs(cal.yc::double
                                         - (fit.m * cal.x::double + fit.c)),
                                     {_CONF_ALPHA}), 2) AS qhat
          FROM cal, fit),
    cov AS (SELECT count(*)::bigint AS n_test,
                   sum(CASE WHEN abs(tst.yc::double - (fit.m * tst.x::double + fit.c))
                             <= q.qhat
                            THEN 1 ELSE 0 END)::bigint AS covered
            FROM tst, fit, q)
    SELECT (SELECT n FROM fit) AS n_cal,
           cov.n_test,
           round(q.qhat / 100.0, 4) AS qhat,
           round(cov.covered / cov.n_test::double, 6) AS coverage
    FROM cov, q
"""


@query("conformal_interval_orders", oracle=_CONF_ORACLE, category="ml-prep")
def conformal_interval_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval around a linear model of order
    value: fit on a hash-split calibration half, take the 90th percentile
    of absolute calibration residuals as the interval half-width q̂, and
    measure empirical coverage on the held-out half — distribution-free
    uncertainty with finite-sample guarantee, no model internals needed.

    The split is the md5-bucket hash (never rand() — the same leakage-
    safe discipline as the dataset splitters, and what makes the oracle
    comparison exact); the fit is ONE combinable pass of exact integer
    moments (bigint cents × bigint days — see the oracle's header note:
    regr_* double co-moments merge in engine-specific order, and the
    unrounded band comparison downstream amplified an ulp of slope into a
    19-row coverage flip on the rolled dup corpus); q̂ is one percentile
    over calibration residuals, rounded to 2 cent-decimals before the
    band test so interpolation ulps can't reclassify a row; coverage is
    one conditional count over the test half with the 1-row fit and q̂
    broadcast. Two scans total regardless of scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    h = F.md5(F.encode(F.col("o_orderkey").cast("string"), "UTF-8"))
    b = (F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))) % 100
    base = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
        b.alias("b"),
    )
    cal = base.filter(F.col("b") < 50)
    tst = base.filter(F.col("b") >= 50)
    # GLOBAL aggregates (no groupBy on carried scalars): the oracle's CTEs
    # aggregate without GROUP BY, so an empty split still yields the one
    # NULL-stat summary row — a grouped Spark agg would vanish instead.
    mom = cal.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("yc").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("yc")).cast("bigint").alias("sxy"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731 — mirror ::double
    # guard in DOUBLE, mirroring the oracle's CASE: the bigint product
    # n*sxx overflows int64 at sf10 under ANSI; testing the exact double
    # denominator the slope uses keeps guard and division consistent
    m_expr = F.when(
        dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx") == 0, F.lit(None)
    ).otherwise(
        (dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy"))
        / (dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx"))
    )
    fit = mom.select(
        F.col("n").alias("n_cal"),
        m_expr.alias("m"),
    ).crossJoin(F.broadcast(mom.select("sx", "sy"))).select(
        "n_cal",
        "m",
        ((dbl("sy") - F.col("m") * dbl("sx")) / dbl("n_cal")).alias("c"),
    )
    q = (
        cal.crossJoin(F.broadcast(fit.select("m", "c")))
        .select(
            F.abs(dbl("yc") - (F.col("m") * dbl("x") + F.col("c"))).alias("r")
        )
        .agg(F.round(F.expr(f"percentile(r, {_CONF_ALPHA})"), 2).alias("qhat"))
    )
    fitq = fit.crossJoin(F.broadcast(q))
    cov = (
        tst.crossJoin(F.broadcast(fitq.select("m", "c", "qhat")))
        .select(
            # when/otherwise, not cast(int): a degenerate fit (constant x
            # -> NULL slope -> NULL qhat) makes the band test NULL, and the
            # oracle's CASE ... ELSE 0 counts that as uncovered — cast(int)
            # would carry the NULL into sum() and emit NaN coverage instead
            # (uniform-timestamp value-parity probe).
            F.when(
                F.abs(dbl("yc") - (F.col("m") * dbl("x") + F.col("c")))
                <= F.col("qhat"),
                1,
            )
            .otherwise(0)
            .alias("in_band"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum("in_band").cast("bigint").alias("covered"),
        )
    )
    return cov.crossJoin(F.broadcast(fitq.select("n_cal", "qhat"))).select(
        "n_cal",
        "n_test",
        F.round(F.col("qhat") / F.lit(100.0), 4).alias("qhat"),
        F.round(F.col("covered") / F.col("n_test").cast("double"), 6).alias(
            "coverage"
        ),
    )


_CLV_HORIZON_M = 24

_CLV_ORACLE = f"""
    WITH mx AS (SELECT max(o_orderdate)::date AS mend FROM orders),
    u AS (SELECT o_custkey,
                 (date_diff('day', min(o_orderdate)::date,
                            max(o_orderdate)::date) // 30)::bigint AS dur_m,
                 CASE WHEN max(o_orderdate)::date
                       <= (SELECT mend FROM mx) - INTERVAL 90 DAY
                      THEN 1 ELSE 0 END AS churned,
                 sum(round(o_totalprice * 100)::bigint) AS rc
          FROM orders GROUP BY o_custkey),
    rate AS (SELECT sum(rc)::double / 100.0
                      / sum(dur_m + 1)::double AS m_rev FROM u),
    lt AS (SELECT dur_m, sum(churned)::bigint AS d,
                  sum(1 - churned)::bigint AS c
           FROM u GROUP BY dur_m),
    ar AS (SELECT dur_m, d, c,
                  (SELECT count(*) FROM u)
                  - coalesce(sum(d + c) OVER (ORDER BY dur_m
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS at_risk
           FROM lt),
    km AS (SELECT dur_m,
                  exp(sum(CASE WHEN d = 0 THEN 0.0
                               ELSE ln(greatest(1.0 - d::double / at_risk,
                                                1e-15)) END)
                      OVER (ORDER BY dur_m)) AS surv
           FROM ar),
    hz AS (SELECT m.m,
                  (SELECT surv FROM km WHERE km.dur_m <= m.m
                   ORDER BY km.dur_m DESC LIMIT 1) AS s_m
           FROM generate_series(1, {_CLV_HORIZON_M}) m(m)),
    acc AS (SELECT m, s_m,
                   sum(s_m) OVER (ORDER BY m) AS cum_s
            FROM hz)
    SELECT acc.m AS month, round(acc.s_m, 6) AS survival,
           round(rate.m_rev, 4) AS monthly_rev,
           round(rate.m_rev * acc.cum_s, 2) AS expected_clv
    FROM acc, rate
"""


@query("expected_clv_curve", oracle=_CLV_ORACLE, category="ml-prep")
def expected_clv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected customer-lifetime-value curve: survival-discounted revenue
    per 30-day month, CLV(h) = m̄ · Σ_{{m<=h}} S(m) for horizons 1..24 —
    the actuarial composition of the Kaplan-Meier estimator
    (kaplan_meier_customers, monthly buckets) with the average monthly
    spend rate. This is a composition proof: the survival lifetable and
    the spend rate are both sufficient-statistic relations, and the CLV
    curve is a 24-row window over their join.

    Per-horizon survival is the step-function value S(m) = survival at
    the largest lifetable duration <= m — an as-of lookup expressed as a
    conditional max_by over the (horizon × lifetable) join of two
    bounded relations. The user count and the spend rate are whole-lifetable
    window sums, so the customer relation has one consumer: one
    customer-key shuffle total, nothing cached; everything after is
    calendar-bounded.
    """
    orders = load_table(spark, sf_dir, "orders")
    mend = orders.agg(F.max(F.to_date("o_orderdate")).alias("mend"))
    u = (
        orders.groupBy("o_custkey")
        .agg(
            F.min(F.to_date("o_orderdate")).alias("a"),
            F.max(F.to_date("o_orderdate")).alias("b"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "rc"
            ),
        )
        .crossJoin(F.broadcast(mend))
        .select(
            (F.datediff("b", "a").cast("bigint") / 30).cast("bigint").alias("dur_m"),
            F.when(F.col("b") <= F.date_sub(F.col("mend"), 90), 1)
            .otherwise(0)
            .alias("churned"),
            "rc",
        )
    )
    lt = u.groupBy("dur_m").agg(
        F.sum("churned").cast("bigint").alias("d"),
        F.sum(1 - F.col("churned")).cast("bigint").alias("c"),
        F.sum("rc").alias("rc"),
        F.sum(F.col("dur_m") + 1).alias("dm"),
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wprev = Window.orderBy("dur_m").rowsBetween(Window.unboundedPreceding, -1)
    wcum = Window.orderBy("dur_m")
    ar = lt.select(
        "dur_m",
        "d",
        (
            F.sum(F.col("d") + F.col("c")).over(wall)
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0))
        ).alias("at_risk"),
        # exact integer cents and integer month-counts; ONE deterministic
        # division chain (money.py)
        (
            F.sum("rc").over(wall).cast("double")
            / F.lit(100.0)
            / F.sum("dm").over(wall).cast("double")
        ).alias("m_rev"),
    )
    lnf = F.when(F.col("d") == 0, F.lit(0.0)).otherwise(
        F.log(
            F.greatest(
                F.lit(1.0) - F.col("d").cast("double") / F.col("at_risk"),
                F.lit(1e-15),
            )
        )
    )
    km = ar.select("dur_m", F.exp(F.sum(lnf).over(wcum)).alias("surv"), "m_rev")
    months = (
        orders.sparkSession.range(1, _CLV_HORIZON_M + 1)
        .select(F.col("id").cast("bigint").alias("m"))
    )
    hz = (
        # every (month, lifetable row) pair, LEFT so that an empty lifetable
        # still yields the 24 months; a month below the minimum lifetable
        # duration surfaces with NULL survival, as the oracle's correlated
        # subquery does, and with the rate all the same
        months.join(F.broadcast(km), F.lit(True), "left")
        .groupBy("m")
        .agg(
            F.max_by(
                "surv", F.when(F.col("dur_m") <= F.col("m"), F.col("dur_m"))
            ).alias("s_m"),
            F.max("m_rev").alias("m_rev"),
        )
    )
    acc = hz.select(
        "m", "s_m", "m_rev", F.sum("s_m").over(Window.orderBy("m")).alias("cum_s")
    )
    return acc.select(
        F.col("m").alias("month"),
        F.round("s_m", 6).alias("survival"),
        F.round("m_rev", 4).alias("monthly_rev"),
        F.round(F.col("m_rev") * F.col("cum_s"), 2).alias("expected_clv"),
    )


_TT_Z = 3.29  # ~ two-sided alpha 0.001 ≈ 0.005 Bonferroni-adjusted for 5 tests

#: Sufficient statistics ride EXACT integer cents (third rolled-corpus
#: catch, round 10: mean_bal = round(Σbal/n, 4) landed on a .00005
#: boundary that the engines' different summation orders crossed in
#: opposite directions). Σbal is a bigint cent sum, Σbal² a bigint
#: cent² sum (balances < 10⁶ cents ⇒ squares < 10¹², sums ≪ 2⁶³); every
#: complement statistic subtracts EXACT integers, and the only float ops
#: are deterministic divisions of identical operands.
_TT_ORACLE = f"""
    WITH g AS (SELECT c_mktsegment AS segment,
                      count(*)::double AS n,
                      sum(round(c_acctbal * 100)::bigint) AS sc,
                      sum(round(c_acctbal * 100)::bigint
                          * round(c_acctbal * 100)::bigint) AS ssc
               FROM customer GROUP BY c_mktsegment),
    tot AS (SELECT sum(n) AS tn,
                   sum(sc)::bigint AS tsc, sum(ssc)::bigint AS tssc
            FROM g),
    d AS (SELECT g.segment, g.n,
                 (g.sc / 100.0) / g.n AS m,
                 (g.ssc / 10000.0
                  - (g.sc / 100.0) * (g.sc / 100.0) / g.n) / (g.n - 1) AS v,
                 (tot.tn - g.n) AS rn,
                 ((tot.tsc - g.sc) / 100.0) / (tot.tn - g.n) AS rm,
                 ((tot.tssc - g.ssc) / 10000.0
                  - ((tot.tsc - g.sc) / 100.0) * ((tot.tsc - g.sc) / 100.0)
                    / (tot.tn - g.n)) / (tot.tn - g.n - 1) AS rv
          FROM g, tot)
    SELECT segment, n::bigint AS n,
           round(m, 4) AS mean_bal,
           round((m - rm) / sqrt(v / n + rv / rn), 4) AS t_stat,
           abs((m - rm) / sqrt(v / n + rv / rn)) > {_TT_Z} AS significant
    FROM d
"""


@query("segment_ttests_bonferroni", oracle=_TT_ORACLE, category="ml-prep")
def segment_ttests_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five simultaneous Welch t-tests — each market segment's mean
    account balance against the rest — with a Bonferroni-style critical
    value (|t| > 3.29 ≈ two-sided α 0.001, i.e. 0.005 family-wise over 5
    tests). The multiple-comparisons companion to anova_f_segments: the
    omnibus F says "some segment differs", these say WHICH, with the
    family-wise error controlled.

    Sufficient statistics again: one combinable groupBy yields (n, Σy,
    Σy²) per segment; every complement ("rest") statistic is derived by
    subtracting from the global totals — no second scan, no per-test
    pass. Welch's unequal-variance form avoids the pooled-variance
    assumption the segments would violate. The sums ride exact integer
    cents (see the oracle's header note — third rolled-corpus catch of
    the engine-order float-summation class), so every derived statistic
    is a deterministic float function of identical integer operands.
    """
    cust = load_table(spark, sf_dir, "customer")
    yc = F.round(F.col("c_acctbal") * 100).cast("bigint")
    g = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(yc).alias("sc"),
        F.sum(yc * yc).alias("ssc"),
    )
    tot = g.agg(
        F.sum("n").alias("tn"),
        F.sum("sc").cast("bigint").alias("tsc"),
        F.sum("ssc").cast("bigint").alias("tssc"),
    )
    # try_divide throughout: n = 1 (sample variance) or a single-segment
    # table (rest-size 0) makes the statistic undefined — NULL like
    # DuckDB, not an ANSI error
    c100 = F.lit(100.0)
    c1e4 = F.lit(10000.0)
    d = g.crossJoin(F.broadcast(tot)).select(
        "segment",
        "n",
        ((F.col("sc") / c100) / F.col("n")).alias("m"),
        F.try_divide(
            F.col("ssc") / c1e4
            - (F.col("sc") / c100) * (F.col("sc") / c100) / F.col("n"),
            F.col("n") - 1,
        ).alias("v"),
        (F.col("tn") - F.col("n")).alias("rn"),
        F.try_divide(
            (F.col("tsc") - F.col("sc")) / c100, F.col("tn") - F.col("n")
        ).alias("rm"),
        F.try_divide(
            (F.col("tssc") - F.col("ssc")) / c1e4
            - F.try_divide(
                ((F.col("tsc") - F.col("sc")) / c100)
                * ((F.col("tsc") - F.col("sc")) / c100),
                F.col("tn") - F.col("n"),
            ),
            F.col("tn") - F.col("n") - 1,
        ).alias("rv"),
    )
    t = F.try_divide(
        F.col("m") - F.col("rm"),
        F.sqrt(
            F.col("v") / F.col("n")
            + F.try_divide(F.col("rv"), F.col("rn"))
        ),
    )
    return d.select(
        "segment",
        F.col("n").cast("bigint").alias("n"),
        F.round("m", 4).alias("mean_bal"),
        F.round(t, 4).alias("t_stat"),
        (F.abs(t) > _TT_Z).alias("significant"),
    )
