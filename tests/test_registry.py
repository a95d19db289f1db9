"""Registry hygiene: the query registry IS the product surface
(__spark_entry__ enumerates it), so its invariants are tested like code."""

from __future__ import annotations

import json
import re

from cbde_mapreduce_spark.plans import REGISTRY

_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def test_every_query_documented_and_categorized():
    for name, spec in REGISTRY.items():
        assert (spec.fn.__doc__ or "").strip(), f"{name}: missing docstring"
        assert spec.category, f"{name}: missing category"
        assert re.fullmatch(r"[a-z0-9_]+", name), f"{name}: non-canonical name"


def test_oracles_reference_only_fixture_tables():
    """Oracle SQL may reference only the ten pre-registered views (plus its
    own CTE names) — a stray table name would error only at driver time."""
    for name, spec in REGISTRY.items():
        if not spec.oracle:
            continue
        ctes = set(
            re.findall(r"(\w+)\s*(?:\([\w\s,]*\))?\s+AS\s*\(", spec.oracle, re.IGNORECASE)
        )
        refs = set(re.findall(r"(?:FROM|JOIN)\s+([a-zA-Z_]\w*)", spec.oracle))
        table_functions = {"generate_series", "range", "unnest"}
        unknown = refs - set(_TABLES) - ctes - {"LATERAL", "lateral"} - table_functions
        assert not unknown, f"{name}: oracle references unknown relations {unknown}"


def _order(tmp_path, evidence: dict[int, dict[str, dict]], plans: dict) -> list[str]:
    """The driver order computed over synthetic CORRECTNESS_r*.json rounds
    and a synthetic PLANS.json."""
    import __spark_entry__ as E

    for rnd, rows in evidence.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))
    (tmp_path / "PLANS.json").write_text(json.dumps(plans))
    return E._ordered_names(str(tmp_path))


def _green(names) -> dict[str, dict]:
    """Driver rows for ``names`` as a green round writes them."""
    return {
        n: {"hash_match": None, "err": "no_oracle"}
        if REGISTRY[n].oracle is None
        else {"hash_match": True, "err": None}
        for n in names
    }


_ROWS_ONLY = sorted(n for n, s in REGISTRY.items() if s.oracle is None)
_HASHED = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)


def test_driver_order_covers_registry_once():
    """queries() emits every registry name exactly once, and oracle_sql()
    follows the same order, on the committed evidence and PLANS.json."""
    import __spark_entry__ as E

    order = E._ordered_names()
    assert len(order) == len(set(order)) and set(order) == set(REGISTRY)
    assert list(E.queries()) == order
    assert list(E.oracle_sql()) == [n for n in order if REGISTRY[n].oracle]


def test_driver_order_changed_then_never_checked_then_stalest(tmp_path):
    changed, never, stale, fresh = _HASHED[:4]
    evidence = {
        5: _green(n for n in REGISTRY if n != never),
        7: _green([changed, fresh]),
    }
    plans = {changed: {"fp": "a", "since": 8}, fresh: {"fp": "b", "since": 7}}
    order = _order(tmp_path, evidence, plans)
    assert order[:2] == [changed, never]
    assert order.index(stale) < order.index(fresh) == len(order) - 1


def test_driver_order_red_row_is_no_check(tmp_path):
    a, b = _HASHED[:2]
    red = {"hash_match": False, "err": None}
    evidence = {5: _green(REGISTRY), 6: _green([a]), 9: {b: red}}
    order = _order(tmp_path, evidence, {})
    assert order.index(b) < order.index(a)
    # a no_oracle row is a check only for a rows-only name
    evidence[9] = {b: {"hash_match": None, "err": "no_oracle"}}
    order = _order(tmp_path, evidence, {})
    assert order.index(b) < order.index(a)


def test_driver_order_rows_only_after_hashed_at_a_tie(tmp_path):
    order = _order(tmp_path, {5: _green(REGISTRY)}, {})
    assert order == _HASHED + _ROWS_ONLY


def test_driver_order_keeps_names_missing_from_plans(tmp_path):
    plans = {n: {"fp": "a", "since": 0} for n in _HASHED[1:]}
    plans["no_such_query"] = {"fp": "a", "since": 99}
    order = _order(tmp_path, {5: _green(REGISTRY)}, plans)
    assert sorted(order) == sorted(REGISTRY)
