"""Round-9 unfreeze names: Arrow-native grouped-map / map kernels and the
analyze()-polymorphic UDTF. Parity vs their DuckDB oracles rides the
standard harness (tests/test_parity.py picks every oracled registry name
up automatically); these tests pin what parity can't see — the physical
plan shape that motivated the unfreeze, and the degenerate-group branches.
"""

from __future__ import annotations

import pandas as pd

from cbde_mapreduce_spark.plans import REGISTRY
from tests.registry_pass import final_plan

SF = "/root/testdata/sf0.001"


def test_grouped_minmax_is_arrow_native(registry_pass):
    """The group kernel must run as FlatMapGroupsInArrow (no pandas
    conversion node), fed by exactly one hash exchange on the group key."""
    plan = final_plan(registry_pass["arrow_grouped_minmax_norm"].plan)
    assert "FlatMapGroupsInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("Exchange") == 1


def test_map_doc_stats_is_shuffle_free_arrow_map(registry_pass):
    """mapInArrow over the scan: a pure map — zero exchanges — and the
    Arrow map node, not ArrowEvalPython (the pandas_udf path)."""
    plan = registry_pass["arrow_map_doc_stats"].plan
    assert "MapInArrow" in plan
    assert "Exchange" not in plan


def test_udtf_analyze_names_column_from_constant(spark):
    """analyze() resolves the output schema at plan time: the column is
    named gram_2 because the literal 2 was passed — no execution needed."""
    df = REGISTRY["udtf_analyze_ngrams"].fn(spark, SF)
    assert [f.name for f in df.schema.fields] == ["doc_id", "gram_2", "pos"]


def test_minmax_degenerate_groups_excluded(spark):
    """Single-event, zero-range and all-NULL groups yield no rows (their
    SQL twin divides by zero -> NULL -> filtered); NULL values inside a
    live group carry no normalized score."""
    import tempfile

    ev = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4, 5, 6, 7],
            #            |user 1 group |zero-rng|single|all-NULL
            "user_id": [1, 1, 1, 2, 2, 3, 4],
            "value": [10.0, 20.0, None, 5.0, 5.0, 7.0, None],
            # load_table canonicalizes events — the full column set must exist
            "ts": pd.to_datetime(
                ["2026-01-01"] * 7
            ).astype("datetime64[us]"),
            "event_type": ["view"] * 7,
            "props": ["{}"] * 7,
        }
    )
    with tempfile.TemporaryDirectory() as d:
        ev.to_parquet(f"{d}/events.parquet", index=False)
        out = (
            REGISTRY["arrow_grouped_minmax_norm"]
            .fn(spark, d)
            .toPandas()
            .sort_values("event_id")
        )
    assert list(out["event_id"]) == [1, 2]
    assert list(out["vnorm"]) == [0.0, 1.0]


def test_map_doc_stats_null_and_multibyte(spark):
    """NULL texts emit nothing; n_cp counts codepoints while n_bytes counts
    utf-8 bytes (the two must diverge on multibyte text)."""
    import tempfile

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["ab cd", None, "東京 🚀"],
            "lang": ["en", "en", "ja"],
            "source": ["t"] * 3,
            "n_chars": [5, 0, 4],
        }
    )
    with tempfile.TemporaryDirectory() as d:
        docs.to_parquet(f"{d}/documents.parquet", index=False)
        out = (
            REGISTRY["arrow_map_doc_stats"]
            .fn(spark, d)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
    assert list(out["doc_id"]) == [1, 3]
    assert list(out["n_cp"]) == [5, 4]
    assert list(out["n_bytes"]) == [5, 11]  # 東(3)+京(3)+space(1)+🚀(4)
    assert list(out["n_spaces"]) == [1, 1]
