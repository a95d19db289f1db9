"""bench.py times every run from a freshly built plan on a released session."""

from __future__ import annotations

import json

import bench

NAMES = ["q1_pricing_summary", "pagerank_trade_graph"]


def _held(spark) -> tuple[bool, int]:
    """(any cached relation, number of persistent RDDs) in the session."""
    cached = not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    return cached, spark.sparkContext._jsc.getPersistentRDDs().size()


def test_bench_runs_fresh_plans_and_releases_each_step(spark, sf_smoke, monkeypatch):
    """pagerank leaves its final round's checkpoint behind; every step must
    leave the session with no cached relation and no persistent RDD, its
    time must include the plan build (pagerank's rounds run there), and the
    record must fit on one short line."""
    held = []
    timed = bench.time_fresh

    def checked(spark_, sf_dir, name):
        sample = timed(spark_, sf_dir, name)
        held.append((name, *_held(spark)))
        return sample

    monkeypatch.setattr(bench, "time_fresh", checked)
    spark.range(3).cache().count()  # state left by an earlier caller
    record, samples = bench.run(spark, sf_smoke, NAMES, [], runs=1)

    # the warm pass, then 1 measured pass starting at the second name
    assert held == [(n, False, 0) for n in NAMES + NAMES[1:] + NAMES[:1]]
    line = json.dumps(record)
    assert len(line) < 1900
    assert {"value", "cpu_s", "queries"} <= record.keys()
    assert list(record["queries"]) == NAMES and record["tracked"] == {}
    assert abs(record["value"] - sum(samples[n][0]["run_s"] for n in NAMES)) < 1e-3
    assert samples["pagerank_trade_graph"][0]["cpu_s"] > 0
    for s in (samples[n][0] for n in NAMES):
        assert s["run_s"] + s["stolen_s"] >= s["build_s"] > 0
