"""UDF / UDAF / grouped-map surface (SURVEY.md §2.9).

MapReduce parity: the Mapper/Reducer classes ARE the reference's UDF
surface — arbitrary user code per record (map) and per key-group (reduce).
Spark order of preference (enforced across this repo): built-in functions
first; Arrow-vectorized pandas_udf when Python is genuinely needed;
applyInPandas for arbitrary per-group logic; row-at-a-time F.udf never on a
hot path. These queries exist to prove the custom-code path produces
oracle-exact results through the Arrow boundary.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from cbde_mapreduce_spark.plans.registry import query
from cbde_mapreduce_spark.sources import load_table


@query(
    "pandas_udf_net_revenue",
    oracle="""
        SELECT l_returnflag,
               round(sum((round(l_extendedprice * 100)::bigint
                          * (100 - round(l_discount * 100)::bigint)
                          * (100 + round(l_tax * 100)::bigint)
                         )::decimal(38,0))::double / 1000000.0, 2)
                 AS net_revenue,
               count(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
    """,
    category="udf",
)
def pandas_udf_net_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas_udf (vectorized 'Mapper') feeding a JVM aggregate."""
    li = load_table(spark, sf_dir, "lineitem")

    @pandas_udf("long")
    def net_units(price: pd.Series, discount: pd.Series, tax: pd.Series) -> pd.Series:
        # vectorized per-record transform (the Mapper body), Arrow-batched —
        # emits EXACT integer 1e-6-dollar units (money.py): cents x
        # (100-disc%) x (100+tax%), so the downstream JVM sum is
        # order-independent instead of a rounded double sum
        return (
            (price * 100).round().astype("int64")
            * (100 - (discount * 100).round().astype("int64"))
            * (100 + (tax * 100).round().astype("int64"))
        )

    return (
        li.withColumn(
            "net", net_units(F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.round(
                F.sum(F.col("net").cast("decimal(38,0)")).cast("double")
                / F.lit(1000000.0),
                2,
            ).alias("net_revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "grouped_map_zscore",
    oracle="""
        SELECT event_id, user_id, zscore FROM (
            SELECT event_id, user_id,
                   CASE WHEN n > 1 AND sc2::double - sc::double * sc::double / n > 0
                        THEN round((c - sc::double / n)
                                   / sqrt((sc2::double
                                           - sc::double * sc::double / n)
                                          / (n - 1)), 4)
                   END AS zscore
            FROM (SELECT event_id, user_id,
                         round(value * 100)::bigint AS c,
                         sum(round(value * 100)::bigint) OVER u AS sc,
                         sum(round(value * 100)::bigint
                             * round(value * 100)::bigint) OVER u AS sc2,
                         count(value) OVER u AS n
                  FROM events
                  WINDOW u AS (PARTITION BY user_id))
        ) WHERE zscore IS NOT NULL
    """,
    category="udf",
)
def grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas (the arbitrary 'Reducer' body): per-user z-scores.

    The pandas ddof=1 std matches SQL stddev_samp. Degenerate groups
    (single event / zero variance) are excluded on BOTH sides — pandas
    would yield NaN where SQL yields NULL, and NaN≠NULL under a strict
    value hash. Differential value: a genuinely different numeric path
    (pandas) must agree with the window-function oracle.
    """
    events = load_table(spark, sf_dir, "events")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        # exact integer cents moments (money.py): pandas' float mean/std
        # accumulate in group-arrival order, which varies run to run; the
        # oracle computes the IDENTICAL closed form from the same integer
        # moments, so both sides are bit-equal at any row order
        v = pdf["value"]
        out = pd.DataFrame(
            {"event_id": pdf["event_id"], "user_id": pdf["user_id"]}
        )
        c = (v * 100).round().astype("Int64")
        n = int(c.notna().sum())
        if n > 1:
            sc = int(c.sum())
            sc2 = int((c * c).sum())
            var_num = float(sc2) - float(sc) * float(sc) / n
            if var_num > 0:
                sd = ((var_num) / (n - 1)) ** 0.5
                z = (c.astype("float64") - float(sc) / n) / sd
                out["zscore"] = z.round(4)
                # NULL values carry no z-score (oracle: WHERE NOT NULL)
                return out[v.notna().to_numpy()]
        return out.iloc[0:0].assign(zscore=pd.Series(dtype="float64"))

    return (
        events.select("event_id", "user_id", "value")
        .groupBy("user_id")
        .applyInPandas(zscore, "event_id bigint, user_id bigint, zscore double")
    )


@query(
    "grouped_agg_pandas_median",
    oracle="""
        SELECT event_type,
               round(median(value), 4) AS med_value,
               count(*)                AS n
        FROM events
        GROUP BY event_type
    """,
    category="udf",
)
def grouped_agg_pandas_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas_udf (custom UDAF): exact median per group.

    Median is not partial-aggregatable — the canonical case where MR needs
    a full reducer and Spark needs a custom aggregate. (At 100 TB prefer
    approx_percentile; exactness is the point of this operator.)
    """
    events = load_table(spark, sf_dir, "events")

    @pandas_udf("double")
    def exact_median(v: pd.Series) -> float:
        return float(v.median())

    # A grouped-agg pandas UDF cannot share an .agg() with JVM aggregates —
    # compute it alone and join the plain count back in.
    med = events.groupBy("event_type").agg(
        F.round(exact_median(F.col("value")), 4).alias("med_value")
    )
    counts = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return med.join(counts, "event_type")


@query(
    "python_udtf_tokenize",
    oracle="""
        WITH u AS (
            SELECT doc_id,
                   unnest(list_transform(string_split(text, ' '),
                          (w, i) -> struct_pack(token := w, pos := i))) AS s
            FROM documents WHERE doc_id < 20
        )
        SELECT doc_id, s.token AS token, (s.pos)::int AS pos FROM u
    """,
    category="udf",
)
def python_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (1→N table function, SURVEY §2.9) via LATERAL join.

    The declarative twin is explode (explode_doc_tokens) — a UDTF is the
    escape hatch for arbitrary Python generators; kept off hot paths and
    bounded here (row-based execution). Oracle: DuckDB struct unnest.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, pos int")
    class Tokenize:
        def eval(self, text: str):
            if text is None:  # unnest(string_split(NULL)) yields no rows
                return
            for i, w in enumerate(text.split(" ")):
                yield (w, i + 1)

    spark.udtf.register("cbde_tokenize", Tokenize)
    return spark.sql(
        """
        SELECT d.doc_id, t.token, t.pos
        FROM {docs} d, LATERAL cbde_tokenize(d.text) t
        """,
        docs=load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20),
    )


@query(
    "udtf_table_arg_lang_stats",
    oracle="""
        SELECT lang, count(*) AS n_docs, sum(n_chars)::bigint AS total_chars
        FROM documents GROUP BY lang
    """,
    category="udf",
)
def udtf_table_arg_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic table-argument UDTF (Spark 4): a custom REDUCER invoked
    from SQL as ``f(TABLE(t) PARTITION BY lang)`` — one UDTF instance per
    partition group accumulating in ``eval`` and emitting on ``terminate``,
    the Hive-TRANSFORM / MR-Reducer shape surfaced declaratively.

    Each group's rows stream through the instance (no per-group
    materialized list), and PARTITION BY carries the one shuffle exactly
    like a groupBy. The oracle is the plain GROUP BY twin — the escape
    hatch must agree with the declarative form.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="lang string, n_docs bigint, total_chars bigint")
    class LangStats:
        def __init__(self) -> None:
            self._lang = None
            self._seen = False
            self._n = 0
            self._chars = 0

        def eval(self, row) -> None:
            # a NULL lang is a real GROUP BY group (emitted with NULL key,
            # like the declarative twin) — track row arrival separately
            self._lang = row["lang"]
            self._seen = True
            self._n += 1
            self._chars += int(row["n_chars"])

        def terminate(self):
            if self._seen:
                yield (self._lang, self._n, self._chars)

    spark.udtf.register("lang_stats", LangStats)
    return spark.sql(
        "SELECT * FROM lang_stats(TABLE({docs}) PARTITION BY lang)",
        docs=load_table(spark, sf_dir, "documents"),
    )


_BAL_CAP = 500.0
_BAL_CAP_C = 50000  # the cap in exact integer cents (money.py discipline)

#: DuckDB twin of the clamped accumulator: the per-user event sequence is
#: folded with list_reduce over a [balance, cap_hits, floor_hits] LIST
#: accumulator — the SAME non-linear per-step clamp the pandas kernel
#: runs, in the SAME (ts, event_id) order, over the SAME exact integer
#: cents (round-11: the 19 rows-only adjudication found this one IS
#: SQL-expressible after all — DuckDB's lambda fold is a sequential left
#: reducer, exactly what the recursion needs). A LIST accumulator, not a
#: struct: DuckDB 1.0.0's list_reduce mis-evaluates struct-typed
#: accumulators on some value sequences (pinned repro in
#: tests/test_advice_r11.py::test_duckdb_list_reduce_struct_quirk — the
#: counter lags the identical list-form fold by one), while the
#: list-typed fold matches the Python reference step for step.
_CAPBAL_ORACLE = f"""
    WITH e AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'purchase'
                    THEN round(value * 100)::bigint
                    WHEN event_type = 'error'
                    THEN -round(value * 100)::bigint
                    ELSE 0::bigint END AS d
        FROM events WHERE user_id IS NOT NULL),
    r AS (
        SELECT user_id,
               list_reduce(
                   list_prepend(
                       [0::bigint, 0::bigint, 0::bigint],
                       list([d, 0::bigint, 0::bigint]
                            ORDER BY ts, event_id)),
                   (a, x) -> [
                       CASE WHEN a[1] IS NULL OR x[1] IS NULL THEN NULL
                            ELSE greatest(least(a[1] + x[1],
                                                {_BAL_CAP_C}), 0) END,
                       a[2] + CASE WHEN a[1] + x[1] > {_BAL_CAP_C}
                                   THEN 1 ELSE 0 END,
                       a[3] + CASE WHEN a[1] + x[1] < 0
                                   THEN 1 ELSE 0 END]) AS acc
        FROM e GROUP BY user_id)
    SELECT user_id,
           acc[1] / 100.0 AS final_balance,
           acc[2] AS n_cap_hits,
           acc[3] AS n_floor_hits
    FROM r
"""


@query("capped_running_balance", oracle=_CAPBAL_ORACLE, category="udf")
def capped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped accumulator per user: purchases add value, errors subtract,
    and the balance saturates at [0, 500] after EVERY step — a credit-line
    / inventory semantics whose clamp makes the recursion NON-LINEAR, so
    no window/closed form exists (unlike EWMA): this is the honest
    per-group imperative escape hatch (applyInPandas over each user's
    time-ordered events), kept off any hot path.

    Fully oracled since round 11: the accumulator runs in EXACT integer
    cents (money.py — the float carry was also group-arrival-order
    sensitive through the clamp), and the DuckDB twin folds the identical
    recursion with list_reduce over a list accumulator (NOT a struct —
    the pinned 1.0.0 quirk in test_duckdb_list_reduce_struct_quirk), with
    NULL deltas propagated explicitly in the balance slot. The independent
    pure-pandas reference check in tests/test_operators.py is retained.
    Output: final balance, how often each bound clipped.
    """
    import pandas as pd

    ev = (
        load_table(spark, sf_dir, "events")
        # NULL user_id is not a user (same rule as every distinct-user
        # query); the NULL group would also crash int(NaN) in the kernel
        # (NULL-FK sweep)
        .where(F.col("user_id").isNotNull())
        .select("user_id", "ts", "event_id", "event_type", "value")
    )

    def run_balance(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        bal, hi, lo = 0, 0, 0  # exact integer cents
        for etype, v in zip(pdf["event_type"], pdf["value"]):
            if etype == "purchase" or etype == "error":
                # a NULL value on a balance-touching event poisons the
                # balance permanently and freezes the counters — the
                # oracle propagates it EXPLICITLY (CASE WHEN a[1] IS NULL
                # OR x[1] IS NULL THEN NULL in the balance slot; DuckDB's
                # least/greatest IGNORE NULLs, so the bare clamp would
                # collapse a NULL step to the cap — ADVICE r11 high);
                # counter slots freeze on their own, since a NULL sum
                # never satisfies either CASE comparison. Non-touching
                # events are 0-deltas either way (all-NULL value sweep)
                if pd.isna(v):
                    bal = None
                elif bal is not None:
                    d = int(round(float(v) * 100))
                    bal = bal + d if etype == "purchase" else bal - d
            if bal is not None:
                if bal > _BAL_CAP_C:
                    bal, hi = _BAL_CAP_C, hi + 1
                elif bal < 0:
                    bal, lo = 0, lo + 1
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iat[0])],
                "final_balance": [None if bal is None else bal / 100.0],
                "n_cap_hits": [hi],
                "n_floor_hits": [lo],
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        run_balance,
        "user_id bigint, final_balance double, n_cap_hits bigint, n_floor_hits bigint",
    )


_COGROUP_ORACLE = """
    WITH ls AS (SELECT l_orderkey,
                       sum(round(l_extendedprice * 100)::bigint) AS line_c,
                       count(*)::bigint AS n_lines
                FROM lineitem GROUP BY l_orderkey)
    SELECT o.o_orderkey, round(o.o_totalprice, 2) AS totalprice,
           coalesce(ls.line_c, 0) / 100.0 AS line_sum,
           coalesce(ls.n_lines, 0) AS n_lines,
           (round(o.o_totalprice * 100)::bigint - coalesce(ls.line_c, 0))
             / 100.0 AS diff
    FROM orders o LEFT JOIN ls ON o.o_orderkey = ls.l_orderkey
"""


@query("cogroup_order_reconciliation", oracle=_COGROUP_ORACLE, category="udf")
def cogroup_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided keyed reconciliation via cogroup + applyInPandas — the
    MR CoGroup/join-side-by-side primitive as a first-class surface: each
    order's header meets ALL its lineitems in one Python function call
    (both sides Arrow batches), which is the shape custom merge logic
    (fuzzy matching, ledger balancing, CDC diffing) actually needs, where
    a plain join would force the logic into row-at-a-time expressions.

    Both sides shuffle once on the key; per key-group pandas computes the
    line sum/count and the header-vs-detail difference. The oracle is the
    equivalent LEFT JOIN + groupBy — certifying the cogroup path against
    the declarative one. Measured cost of the surface: the per-key Python
    invocation dominates at high key cardinality (~97 s for 150k keys at
    sf0.1 on local[8] vs sub-second for the declarative twin) — reach for
    cogroup only when the per-key logic is genuinely imperative; when it
    collapses to aggregates, the join IS the fast path.
    """
    import pandas as pd

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")

    def reconcile(key, odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        if odf.empty:
            return pd.DataFrame(
                columns=["o_orderkey", "totalprice", "line_sum", "n_lines", "diff"]
            )
        total = float(odf["o_totalprice"].iloc[0])
        # exact integer cents (money.py): the pandas float sum over the
        # group's arrival order was the run-nondeterministic flake class
        total_c = int(round(total * 100))
        line_c = (
            int((ldf["l_extendedprice"] * 100).round().astype("int64").sum())
            if len(ldf)
            else 0
        )
        return pd.DataFrame(
            {
                "o_orderkey": [key[0]],
                "totalprice": [round(total, 2)],
                "line_sum": [line_c / 100.0],
                "n_lines": [len(ldf)],
                "diff": [(total_c - line_c) / 100.0],
            }
        )

    return (
        orders.groupby("o_orderkey")
        .cogroup(li.groupby("l_orderkey"))
        .applyInPandas(
            reconcile,
            "o_orderkey bigint, totalprice double, line_sum double, "
            "n_lines bigint, diff double",
        )
    )


@query(
    "arrow_grouped_minmax_norm",
    oracle="""
        SELECT event_id, user_id, vnorm FROM (
            SELECT event_id, user_id,
                   round((value - min(value) OVER u)
                         / (max(value) OVER u - min(value) OVER u), 4) AS vnorm
            FROM events
            WINDOW u AS (PARTITION BY user_id)
        ) WHERE vnorm IS NOT NULL
    """,
    category="udf",
)
def arrow_grouped_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInArrow (round-9 unfreeze: the Arrow-native grouped-map
    physical shape, FlatMapGroupsInArrow): per-user min-max normalization
    of event values computed with pyarrow.compute kernels — no pandas
    materialization of the group at all, columnar end to end.

    vs applyInPandas (grouped_map_zscore): same shuffle (one hash exchange
    on the group key), but the per-group body receives a pyarrow.Table and
    skips the Arrow->pandas->Arrow conversion both ways — on wide string
    columns that conversion IS the grouped-map cost, so this is the shape
    a 100 TB per-group kernel should prefer when pa.compute expresses it.
    Degenerate groups (single event / zero range / all-NULL) are excluded
    on both sides: their SQL twin divides by zero -> NULL -> filtered.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    events = load_table(spark, sf_dir, "events")

    def minmax(tbl: pa.Table) -> pa.Table:
        v = tbl.column("value")
        mn, mx = pc.min(v), pc.max(v)
        if not mn.is_valid or not mx.is_valid or mn.as_py() == mx.as_py():
            # degenerate group (all-NULL / single / zero range): emit the
            # empty table directly — slice FIRST, then append the empty
            # column (append_column validates length against the table)
            return tbl.select(["event_id", "user_id"]).slice(0, 0).append_column(
                "vnorm", pa.array([], type=pa.float64())
            )
        # the kernel emits the RAW quotient; rounding happens JVM-side below.
        # pc.round is NOT bit-compatible with either SQL engine (default
        # half_to_even tie direction AND a different scaled-multiply
        # algorithm — the identical-embeddings skew sweep caught a cell
        # where pc.round and DuckDB round produce different doubles for the
        # same input), while F.round-vs-DuckDB-round is the pair every
        # oracled float in this repo already relies on.
        norm = pc.divide(pc.subtract(v, mn), pc.subtract(mx, mn))
        out = tbl.select(["event_id", "user_id"]).append_column("vnorm", norm)
        # NULL values carry no normalized score (oracle: WHERE vnorm IS NOT NULL)
        return out.filter(pc.is_valid(norm))

    return (
        events.select("event_id", "user_id", "value")
        .groupBy("user_id")
        .applyInArrow(minmax, "event_id bigint, user_id bigint, vnorm double")
        .withColumn("vnorm", F.round("vnorm", 4))
    )


@query(
    "arrow_map_doc_stats",
    oracle="""
        SELECT doc_id,
               length(text)::bigint                                  AS n_cp,
               strlen(text)::bigint                                  AS n_bytes,
               (length(text) - length(replace(text, ' ', '')))::bigint AS n_spaces
        FROM documents
        WHERE text IS NOT NULL
    """,
    category="udf",
)
def arrow_map_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow (round-9 unfreeze: the Arrow-native map physical shape,
    MapInArrow / ArrowEvalPython-free): per-document codepoint count, utf-8
    byte count and space count computed on RecordBatches with pyarrow
    kernels — the zero-copy row-parallel path for Python logic that is
    per-record but not expressible as a single pandas_udf expression.

    No shuffle at all: this is a pure map over the scan, the cheapest
    possible 100 TB shape, and unlike a scalar pandas_udf the batch never
    round-trips through pandas object arrays (for string-heavy batches
    that conversion dominates). NULL texts are dropped on both sides (no
    stats for absent content).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = load_table(spark, sf_dir, "documents")

    def stats(batches):
        for batch in batches:
            t = batch.column("text")
            keep = pc.is_valid(t)
            t = pc.filter(t, keep)
            ids = pc.filter(batch.column("doc_id"), keep)
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pc.cast(pc.utf8_length(t), pa.int64()),
                    pc.cast(pc.binary_length(pc.cast(t, pa.binary())), pa.int64()),
                    pc.cast(pc.count_substring(t, " "), pa.int64()),
                ],
                names=["doc_id", "n_cp", "n_bytes", "n_spaces"],
            )

    return docs.select("doc_id", "text").mapInArrow(
        stats, "doc_id bigint, n_cp bigint, n_bytes bigint, n_spaces bigint"
    )


_NGRAM_N = 2  # the analyze()-time constant that names the output column


@query(
    "udtf_analyze_ngrams",
    oracle=f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents WHERE doc_id < 20 AND text IS NOT NULL),
        g AS (SELECT doc_id, toks,
                     unnest(range(1, len(toks) - {_NGRAM_N} + 2)) AS i
              FROM t)
        SELECT doc_id,
               array_to_string(toks[i:i+{_NGRAM_N}-1], ' ') AS gram_{_NGRAM_N},
               i::int AS pos
        FROM g
    """,
    category="udf",
)
def udtf_analyze_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with a static ``analyze()`` (round-9 unfreeze: the
    polymorphic-OUTPUT table function shape — Spark 4 resolves the result
    schema at PLAN time by calling analyze() with the constant argument,
    so the column is literally named ``gram_2`` because n=2 was passed).

    This is the remaining UDTF capability beside the row generator
    (python_udtf_tokenize) and the TABLE(...) PARTITION BY reducer
    (udtf_table_arg_lang_stats): schema-producing user code, the shape
    CSV-header inference or key-set-dependent pivot UDTFs need. The eval
    body is a bounded generator (doc_id < 20, same bound as the tokenize
    UDTF — UDTFs run row-at-a-time and stay off hot paths; the declarative
    twin for n-grams at scale is the F.transform/slice pipeline in
    plans/text.py). Oracle: DuckDB list slicing over the same positions,
    1-based, windows that fit entirely inside the token list.
    """
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import IntegerType, LongType, StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class NGrams:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            if not n.isConstantExpression:
                raise ValueError("n must be a constant (it names the column)")
            width = int(n.value)
            schema = (
                StructType()
                .add(f"gram_{width}", StringType())
                .add("pos", IntegerType())
            )
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, n: int):
            if text is None:
                return
            toks = text.split(" ")
            for i in range(len(toks) - n + 1):
                yield (" ".join(toks[i : i + n]), i + 1)

    spark.udtf.register("cbde_ngrams", udtf(NGrams))
    return spark.sql(
        """
        SELECT d.doc_id, g.gram_{n}, g.pos
        FROM {docs} d, LATERAL cbde_ngrams(d.text, {n}) g
        """,
        docs=load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20),
        n=_NGRAM_N,
    )
