"""applyInPandasWithState: custom keyed state must reconcile with batch."""

from __future__ import annotations

from pyspark.sql import functions as F

from cbde_mapreduce_spark.sources import load_table
from cbde_mapreduce_spark.streaming.stateful import run_stateful_user_profiles


def test_stateful_profiles_match_batch(spark, sf_smoke):
    got = run_stateful_user_profiles(spark, sf_smoke).toPandas()
    # update mode may emit intermediate rows per user; the LAST update per
    # user is the final state
    final = got.groupby("user_id").last().reset_index()
    want = (
        load_table(spark, sf_smoke, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .toPandas()
    )
    key = "user_id"
    merged = final.merge(want, on=key, suffixes=("_s", "_b"))
    assert len(merged) == len(want)
    assert (merged.n_events_s == merged.n_events_b).all()
    assert (abs(merged.sum_value_s - merged.sum_value_b) < 1e-9).all()
