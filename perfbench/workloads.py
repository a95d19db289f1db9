"""The benchmark's workloads, their steps, and the reference each step's
output is checked against.

A step is either a registry query (built fresh with
``REGISTRY[name].fn(spark, data_dir)`` and executed in full with
``toPandas()``) or a call into a public ``sources`` writer. Query outputs
are compared with their DuckDB ``oracle`` twin through ``tests/parity.py``'s
``run_oracle``/``canonicalize``; written tables must hold exactly the rows of
their source. References are computed off the clock and cached on disk per
input directory.
"""

from __future__ import annotations

import dataclasses
import glob
import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd


@dataclass(frozen=True)
class Workload:
    name: str
    #: key-offset replication factor applied to the sf0.01 fixtures
    replicas: int
    #: steps run in one pass; a tuple inside is a group kept in order (the
    #: read-back needs the compaction before it), groups are permuted per pass
    steps: tuple[str | tuple[str, ...], ...]


#: name -> workload; BENCHMARK.json records why each one was chosen. A pass
#: takes about 5 s on a 4-core box, most of it per-query overhead (planning,
#: scheduling, job and file commits): a whole run, with the JVM start and the
#: warm-up passes, has to stay near a minute. Five times the data adds about
#: a second per pass and no steadiness.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "warehouse",
            2,
            (
                "q5_local_supplier",
                ("compact_lineitem", "readback_lineitem"),
                "zorder_orders",
                "streaming_tumbling_counts",
            ),
        ),
        Workload(
            "corpus",
            10,
            (
                "dedup_exact_docs",
                "arrow_map_doc_stats",
                "udtf_analyze_ngrams",
                "arrow_grouped_minmax_norm",
                "bpe_merges_vocab",
            ),
        ),
    )
}

#: steps that write through the sources layer (the rest build a DataFrame)
WRITES = {"compact_lineitem", "zorder_orders"}


def flat_steps(w: Workload) -> list[str]:
    return [s for g in w.steps for s in (g if isinstance(g, tuple) else (g,))]


def _parquet_glob(path: str) -> str:
    return f"{path}/**/*.parquet" if os.path.isdir(path) else path


@dataclass
class Context:
    data_dir: str
    out_dir: str
    #: upper l_orderkey of the read-back range (a tenth of the keys) and the
    #: compaction's rows per file (an eighth of lineitem); see ``measured``
    readback_bound: int = 0
    rows_per_file: int = 0

    def table(self, name: str) -> str:
        return os.path.join(self.data_dir, f"{name}.parquet")

    def out(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def measured(self) -> "Context":
        """This context with the lineitem figures the steps need, worked out
        with DuckDB so that no Spark job of the benchmark's lands on the clock."""
        con = duckdb.connect()
        try:
            rows, hi = con.sql(
                f"SELECT count(*), max(l_orderkey) FROM '{_parquet_glob(self.table('lineitem'))}'"
            ).fetchone()
        finally:
            con.close()
        return dataclasses.replace(
            self, readback_bound=int(hi) // 10, rows_per_file=max(1, rows // 8)
        )

    def missing_input(self) -> "Context":
        """This context pointed at an input directory that does not exist."""
        return dataclasses.replace(self, data_dir=self.data_dir + ".missing")


# --- running a step ---------------------------------------------------------


def build(name: str, spark, ctx: Context):
    """The DataFrame for a non-write step, built fresh."""
    if name == "readback_lineitem":
        from pyspark.sql import functions as F

        return spark.read.parquet(ctx.out("compacted")).filter(
            F.col("l_orderkey") < ctx.readback_bound
        )
    from cbde_mapreduce_spark.plans import REGISTRY

    return REGISTRY[name].fn(spark, ctx.data_dir)


def write(name: str, spark, ctx: Context) -> str:
    """Run a write step through the public sources API; returns its output."""
    if name == "compact_lineitem":
        from cbde_mapreduce_spark.sources.compact import compact_files

        compact_files(
            spark, ctx.table("lineitem"), ctx.out("compacted"), "l_orderkey", ctx.rows_per_file
        )
        return ctx.out("compacted")
    if name == "zorder_orders":
        from cbde_mapreduce_spark.sources import load_table
        from cbde_mapreduce_spark.sources.zorder import write_zordered

        orders = load_table(spark, ctx.data_dir, "orders")
        write_zordered(orders, ctx.out("zorder"), ["o_custkey", "o_totalprice"])
        return ctx.out("zorder")
    raise KeyError(name)


#: source table each write must reproduce row for row
WRITE_SOURCE = {"compact_lineitem": "lineitem", "zorder_orders": "orders"}


# --- references and checks (off the clock) ----------------------------------


def _oracle(name: str, ctx: Context) -> pd.DataFrame:
    from tests.parity import canonicalize, run_oracle

    if name == "readback_lineitem":
        sql = f"SELECT * FROM lineitem WHERE l_orderkey < {ctx.readback_bound}"
    else:
        from cbde_mapreduce_spark.plans import REGISTRY

        sql = REGISTRY[name].oracle
    return canonicalize(run_oracle(sql, ctx.data_dir))


def references(steps: list[str], ctx: Context, cache_dir: str):
    """name -> canonical expected frame, for every non-write step."""
    os.makedirs(cache_dir, exist_ok=True)
    refs = {}
    for name in steps:
        if name in WRITES:
            continue
        path = os.path.join(cache_dir, f"{name}.pkl")
        if os.path.exists(path):
            refs[name] = pd.read_pickle(path)
            continue
        refs[name] = _oracle(name, ctx)
        refs[name].to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
    return refs


def corrupt(ref: pd.DataFrame) -> pd.DataFrame:
    """A copy of ``ref`` that no correct output equals (one row fewer)."""
    return ref.iloc[:-1] if len(ref) else pd.DataFrame({"corrupted": [1]})


def _family(s: pd.Series) -> str:
    for fam, test in (
        ("dt", pd.api.types.is_datetime64_any_dtype),
        ("i", pd.api.types.is_integer_dtype),
        ("f", pd.api.types.is_float_dtype),
        ("b", pd.api.types.is_bool_dtype),
    ):
        if test(s):
            return fam
    return "o"


def same_frame(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """``tests/parity.py``'s cell-exact comparison, as a predicate."""
    from tests.parity import canonicalize

    got = canonicalize(got)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for c in got.columns:
        g, w = got[c], want[c]
        if _family(g) != _family(w):
            return False
        if _family(g) == "f":
            ge, we = g.to_numpy(), w.to_numpy()
            ok = (ge == we) | (np.isnan(ge) & np.isnan(we))
        else:
            ok = g.eq(w) | (g.isna() & w.isna())
        if not ok.all():
            return False
    return True


def same_rows(written: str, source: str) -> bool:
    """True when the parquet under ``written`` holds exactly the multiset of
    rows in ``source``."""
    if not glob.glob(f"{written}/**/*.parquet", recursive=True):
        return False
    a, b = f"'{_parquet_glob(written)}'", f"'{_parquet_glob(source)}'"
    con = duckdb.connect()
    try:
        n = con.sql(
            f"SELECT (SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}))"
            f" + (SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a}))"
        ).fetchone()[0]
    finally:
        con.close()
    return n == 0
