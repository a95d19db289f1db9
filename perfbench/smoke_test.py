"""Self-test of the benchmark on small inputs (one copy of the sf0.01 fixtures).

One run per workload with tracing off and one with tracing on: each must
print exactly the metric names and units BENCHMARK.json declares, and check
every output as correct. The traced warehouse run must attribute to each
step only the Spark jobs it started. Then a run whose reference for one
query is deliberately corrupted, and one in which a step raises because its
input is missing, must each count that step as failed.

Run from the repository root (takes a few minutes):

    python3 perfbench/smoke_test.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def bench(*args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "1", "--seconds", "1", "--smoke", *args],
        capture_output=True,
        text=True,
        timeout=600,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run.py {' '.join(args)} exited with {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(ok: bool, what: str) -> None:
    if not ok:
        raise SystemExit(f"FAIL: {what}")
    print(f"ok: {what}")


def check_trace_spans(path: str) -> None:
    """Every job span lies within its pass, and q5_local_supplier, whose
    plan function runs no Spark job, has none under ``plans.build``."""
    with open(path) as f:
        spans = json.load(f)
    by_id = {s["id"]: s for s in spans}

    def ancestor(s, name):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            if s["name"] == name:
                return s
        return None

    jobs = [s for s in spans if s["name"].startswith("job ")]
    check(bool(jobs), "the traced run records job spans")
    check(
        all(j["start"] >= ancestor(j, "pass")["start"] - 0.01 for j in jobs),
        "each traced pass holds only jobs started during it",
    )
    builds = {s["id"] for s in spans if s["name"] == "plans.build"
              and by_id[s["parent"]]["name"] == "q5_local_supplier"}
    check(
        bool(builds) and not any(j["parent"] in builds for j in jobs),
        "q5_local_supplier runs no Spark job while its plan is built",
    )


def main() -> None:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    for w in (w["name"] for w in spec["workloads"]):
        for trace, group in (("0", "end_to_end"), ("1", "per_layer")):
            res = bench("--workload", w, "--trace", trace)
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{w} --trace {trace} prints every {group} metric with its unit")
            check(
                res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                f"{w} --trace {trace} outputs match their references",
            )
    check_trace_spans(os.path.join(".scratch", "perfbench", "trace", "warehouse-seed1.json"))

    res = bench("--workload", "corpus", "--trace", "0", "--corrupt", "dedup_exact_docs")
    check(
        not res["correct"]
        and res["failed"] == 1
        and res["metrics"]["ok_frac"]["value"] == (res["attempted"] - 1) / res["attempted"],
        "a corrupted reference is counted as a failed step",
    )
    res = bench("--workload", "warehouse", "--trace", "0", "--missing-input", "q5_local_supplier")
    check(
        not res["correct"]
        and res["failed"] == 1
        and res["metrics"]["ok_frac"]["value"] == (res["attempted"] - 1) / res["attempted"],
        "a step that raises is counted as a failed step",
    )


if __name__ == "__main__":
    main()
