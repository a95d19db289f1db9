"""Default-tier value signal: oracled queries run cell-exact against their
DuckDB twins (tests/parity.py), so a value bug fails the fast tier and not
only the slow full-registry sweep (tests/test_parity.py).

The names are the iterative loops that share operators/loop.py's
round-state scope and the BPE merge loop, at sf0.001 (``sf_smoke``). BFS
also runs at sf0.01 (``sf_oracle``): at sf0.001 its third round reaches no
new vertex, so a loop that stopped a round early would still match there.
"""

from __future__ import annotations

import pytest

from cbde_mapreduce_spark.plans import REGISTRY
from tests.parity import assert_parity

SMOKE = [
    ("bfs_hops_trade_graph", "sf_smoke"),
    ("pagerank_trade_graph", "sf_smoke"),
    ("ppr_trade_recommendations", "sf_smoke"),
    ("sssp_trade_graph", "sf_smoke"),
    ("hits_authority_suppliers", "sf_smoke"),
    ("neardup_components", "sf_smoke"),
    ("neardup_components_star", "sf_smoke"),
    ("bpe_merges_vocab", "sf_smoke"),
    ("bfs_hops_trade_graph", "sf_oracle"),
]


@pytest.mark.parametrize("name,sf_fixture", SMOKE)
def test_parity_smoke(name, sf_fixture, spark, request):
    sf = request.getfixturevalue(sf_fixture)
    spec = REGISTRY[name]
    assert_parity(spec.fn(spark, sf), spec.oracle, sf, name=name)
