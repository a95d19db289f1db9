"""Measured-size broadcast gates (operators/gates.py): both sides of every
gate must be value-identical — the hint is a physical choice only. The
shuffle-fallback side is the one local fixtures never trip (it exists for
vertex/catalog sets past ~4M rows), so force it here."""

from __future__ import annotations

from cbde_mapreduce_spark.operators import gates
from cbde_mapreduce_spark.plans import REGISTRY

GATED = ["bfs_hops_trade_graph", "ppr_trade_recommendations", "item_item_cf_topk"]


def _rows(spark, sf, name):
    return [tuple(r) for r in REGISTRY[name].fn(spark, sf).collect()]


def test_shuffle_fallback_value_identical(spark, sf_smoke, monkeypatch):
    ref = {n: _rows(spark, sf_smoke, n) for n in GATED}
    monkeypatch.setattr(gates, "BCAST_MAX_ROWS", -1)  # every gate trips
    for n in GATED:
        assert _rows(spark, sf_smoke, n) == ref[n], f"{n} diverged off-gate"
