"""Empty-input robustness sweep (round 4).

Every registered query must run — without crashing — on a fully EMPTY but
schema-correct dataset, and oracled queries must agree with DuckDB on the
empty-input row count. This hunts the degenerate-input crash class the
round-3 advisor found twice (sequence(1,0) → [1,0]; the fixtures can never
exercise it because they are non-empty and non-degenerate): before this
sweep existed, 13 queries crashed on empty input (driver-side scalar
assumptions — None aggregates, k=0 order statistics, np.stack of an empty
sample, ANSI divide/remainder-by-zero on literal-zero scalars) and 2 more
row-diverged from their oracles.

Known engine divergence (allowlisted): Spark's CUBE/ROLLUP emit NO rows on
an empty input, while DuckDB (per the SQL standard for the () grouping
set) emits the one grand-total row aggregating the empty relation. This is
Spark engine behavior, not a plan defect.

Each sweep is parametrized by registry name, so a failure names its query
and ``pytest tests/test_empty_input.py -m "slow or not slow" -k <name>``
runs one query's three sweeps.
"""

from __future__ import annotations


import duckdb
import pyarrow.parquet as pq
import pytest

from cbde_mapreduce_spark.plans import REGISTRY
from cbde_mapreduce_spark.sources import TABLES

pytestmark = pytest.mark.slow  # value-parity/property/scale tier: excluded from the driver-visible default run (pytest.ini)

#: Spark emits 0 rows for CUBE/ROLLUP over empty input; DuckDB emits the
#: standard () grouping-set row. Engine semantics, disclosed above.
_KNOWN_EMPTY_DIVERGENCE = {
    "cube_orders_status_priority",
    "rollup_lineitem_flags",
}

_SRC_SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        schema = pq.read_schema(f"{_SRC_SF}/{t}.parquet")
        pq.write_table(schema.empty_table(), str(d / f"{t}.parquet"))
    return str(d)


def _row_counts_agree(spark, sf_dir: str, name: str, check_oracle: bool = True) -> None:
    """Registry query ``name`` runs on ``sf_dir`` and, when oracled, returns
    as many rows as its DuckDB twin."""
    spec = REGISTRY[name]
    n_spark = len(spec.fn(spark, sf_dir).collect())
    if not spec.oracle or not check_oracle:
        return
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        n_oracle = len(con.sql(spec.oracle).fetchall())
    finally:
        con.close()
    assert n_spark == n_oracle, f"{name}: spark={n_spark} oracle={n_oracle}"


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_every_query_survives_empty_input(spark, empty_sf_dir, name):
    _row_counts_agree(spark, empty_sf_dir, name, name not in _KNOWN_EMPTY_DIVERGENCE)


def test_empty_divergence_allowlist_is_not_stale():
    missing = _KNOWN_EMPTY_DIVERGENCE - set(REGISTRY)
    assert not missing, missing


@pytest.fixture(scope="module")
def one_row_sf_dir(tmp_path_factory) -> str:
    """Exactly one row per table — the (n-1)/rest-group/zero-variance
    degenerate case the empty sweep cannot reach: sample variances divide
    by n-1 = 0, single-segment stats leave an empty rest group, constant
    dimensions quantize with scale 0, and k-means yields fewer centroids
    than probes. Before this sweep existed, 13 queries crashed here."""
    d = tmp_path_factory.mktemp("one_sf")
    for t in TABLES:
        tbl = pq.read_table(f"{_SRC_SF}/{t}.parquet")
        pq.write_table(tbl.slice(0, 1), str(d / f"{t}.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def null_sf_dir(tmp_path_factory) -> str:
    """~10% deterministic NULL injection into the realistically-nullable
    columns (documents.text/lang, events.value/props, customer.c_acctbal).
    The shipped fixtures contain no NULLs, so kernel NULL-handling is
    otherwise untested: before this sweep existed, 5 Python kernels
    crashed on NULL inputs (json.loads(None), bytes(None), None.split)
    and 3 more row-diverged from their oracles (NOT-IN NULL trap,
    NULL-group drops, NaN-vs-NULL emissions)."""
    import duckdb

    d = tmp_path_factory.mktemp("null_sf")
    con = duckdb.connect()
    try:
        con.sql(f"""COPY (SELECT doc_id,
          CASE WHEN ascii(substr(md5(doc_id::varchar),1,1)) % 10 = 0
               THEN NULL ELSE text END AS text,
          CASE WHEN ascii(substr(md5(doc_id::varchar),2,1)) % 10 = 0
               THEN NULL ELSE lang END AS lang,
          source, n_chars FROM '{_SRC_SF}/documents.parquet')
          TO '{d}/documents.parquet' (FORMAT parquet)""")
        con.sql(f"""COPY (SELECT event_id, ts, user_id, event_type,
          CASE WHEN ascii(substr(md5(event_id::varchar),1,1)) % 10 = 0
               THEN NULL ELSE value END AS value,
          CASE WHEN ascii(substr(md5(event_id::varchar),2,1)) % 10 = 0
               THEN NULL ELSE props END AS props
          FROM '{_SRC_SF}/events.parquet')
          TO '{d}/events.parquet' (FORMAT parquet)""")
        con.sql(f"""COPY (SELECT c_custkey, c_name, c_nationkey,
          CASE WHEN ascii(substr(md5(c_custkey::varchar),1,1)) % 10 = 0
               THEN NULL ELSE c_acctbal END AS c_acctbal,
          c_mktsegment FROM '{_SRC_SF}/customer.parquet')
          TO '{d}/customer.parquet' (FORMAT parquet)""")
        for t in TABLES:
            if t not in ("documents", "events", "customer"):
                con.sql(
                    f"COPY (SELECT * FROM '{_SRC_SF}/{t}.parquet') "
                    f"TO '{d}/{t}.parquet' (FORMAT parquet)"
                )
    finally:
        con.close()
    return str(d)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_every_query_survives_null_input(spark, null_sf_dir, name):
    _row_counts_agree(spark, null_sf_dir, name)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_every_query_survives_one_row_input(spark, one_row_sf_dir, name):
    _row_counts_agree(spark, one_row_sf_dir, name)
