#!/usr/bin/env python
"""Replicate the sf0.1 fixtures R x into a larger scale factor for local
scale studies (SCALING.md).

Why replication and not synthesis: the driver's fixtures are the ground
truth for distributions; replicating them with key-offset remapping keeps
every per-key distribution, selectivity, and skew profile identical while
multiplying data volume, so a timing at the replicated scale isolates the
data-proportional term of each plan. Primary/foreign keys are offset by
(replica_index * (max_key + 1)) consistently on both sides of every FK
edge, so referential integrity holds exactly. The fixed TPC-H dims
(region, nation) are NOT replicated, matching how dims behave at real
scale. Timestamps and value columns are unchanged, so date-range
predicates keep the same proportional selectivity. documents.text is
duplicated verbatim across replicas -- deliberate: it gives exact-dedup
real duplicates to find, which is the realistic regime for a dedup
workload at scale.

Output layout: <out>/<table>.parquet/part-<i>.parquet (a DIRECTORY of
part files -- the only layout that exists at 100 TB; the repo's loaders
and streams handle both layouts, see FIXTURES.md "Table layouts").

Usage:
    python tools_scale_gen.py /root/testdata/sf0.1 /root/repo/.scratch/sf1 10
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: table -> {column: fk_domain} -- every column in one domain gets the same
#: offset, so FK edges stay consistent across replicated tables.
KEY_DOMAINS: dict[str, dict[str, str]] = {
    "region": {},
    "nation": {},
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_partkey": "partkey",
        "l_suppkey": "suppkey",
    },
    "events": {"event_id": "eventid", "user_id": "userid"},
    "documents": {"doc_id": "docid"},
    "embeddings": {"vec_id": "vecid"},
}

#: dims that stay single-copy (fixed-cardinality at every TPC-H SF).
FIXED_DIMS = {"region", "nation"}


def _domain_strides(src: str, pad: int = 0) -> dict[str, int]:
    """max(key)+1 per FK domain, computed over every column in the domain.

    ``pad`` widens every domain stride by a constant: replicated keys then
    land at (max+1+pad)-spaced offsets instead of densely abutting the
    source range. Referential integrity is unaffected (both sides of an FK
    edge use the same widened stride); what changes is the ARITHMETIC
    relationship between replica keys — packing layouts, modulo buckets,
    and sort-tie neighborhoods all shift, so a tie-resolution bug cannot
    overfit to one corpus shape (VERDICT r9 ask #6: the dup-value sweep
    rolls replicas and pad per round)."""
    strides: dict[str, int] = {}
    for table, cols in KEY_DOMAINS.items():
        if not cols:
            continue
        tbl = pq.read_table(os.path.join(src, f"{table}.parquet"), columns=list(cols))
        for col, domain in cols.items():
            hi = pc.max(tbl[col]).as_py() or 0
            strides[domain] = max(strides.get(domain, 0), int(hi) + 1 + pad)
    return strides


def replicate(src: str, out: str, replicas: int, pad: int = 0) -> None:
    strides = _domain_strides(src, pad)
    for table, cols in KEY_DOMAINS.items():
        tbl = pq.read_table(os.path.join(src, f"{table}.parquet"))
        tdir = os.path.join(out, f"{table}.parquet")
        os.makedirs(tdir, exist_ok=True)
        n = 1 if table in FIXED_DIMS else replicas
        for i in range(n):
            part = tbl
            if i > 0:
                arrays = []
                for field in tbl.schema:
                    arr = tbl[field.name]
                    domain = cols.get(field.name)
                    if domain is not None:
                        arr = pc.add(arr, i * strides[domain])
                        arr = arr.cast(field.type)
                    arrays.append(arr)
                part = pa.table(dict(zip(tbl.column_names, arrays)), schema=tbl.schema)
            pq.write_table(part, os.path.join(tdir, f"part-{i:04d}.parquet"))
        print(f"{table}: {tbl.num_rows} rows x {n} replicas -> {tdir}")


if __name__ == "__main__":
    src, out, r = sys.argv[1], sys.argv[2], int(sys.argv[3])
    pad = int(sys.argv[4]) if len(sys.argv) > 4 else 0
    replicate(src, out, r, pad)
