#!/usr/bin/env python
"""Per-query regression report between two recorded bench.py runs.

Usage: python bench_compare.py BASELINE.json CURRENT.json

Prints one line per query with the time ratio (current / baseline) and
flags anything above 1.5x. Refuses a pair whose ``metric`` names differ:
those measure different things (a fresh-plan run against a warm-tail run).
"""

from __future__ import annotations

import json
import sys


def _load(path: str) -> dict:
    """Accept either bench.py's bare JSON line or the driver's BENCH_r{N}.json
    wrapper (bench stdout embedded in its "tail" field)."""
    with open(path) as f:
        doc = json.load(f)
    if "queries" in doc:
        return doc
    if isinstance(doc.get("parsed"), dict) and "queries" in doc["parsed"]:
        return doc["parsed"]
    for line in doc.get("tail", "").splitlines():
        line = line.strip()
        if line.startswith("{") and '"metric"' in line:
            return json.loads(line)
    raise SystemExit(
        f"no bench JSON found in {path} (the driver keeps only the last "
        "2000 stdout chars; older artifacts may have lost the line)"
    )


def main() -> None:
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    base, cur = _load(sys.argv[1]), _load(sys.argv[2])
    if base.get("metric") != cur.get("metric"):
        raise SystemExit(
            f"not comparable: metric {base.get('metric')!r} vs {cur.get('metric')!r}"
        )

    regressions = 0
    for name, b in base["queries"].items():
        c = cur["queries"].get(name)
        if c is None:
            print(f"MISSING  {name}: not in current run")
            regressions += 1
            continue
        ratio = c / b if b else float("inf")
        flag = "REGRESS " if ratio > 1.5 else "ok      "
        if ratio > 1.5:
            regressions += 1
        print(f"{flag} {name}: {b*1000:.1f}ms -> {c*1000:.1f}ms  ({ratio:.2f}x)")
    for name in cur["queries"]:
        if name not in base["queries"]:
            print(f"NEW      {name}: {cur['queries'][name]*1000:.1f}ms")
    t = cur["value"] / base["value"] if base.get("value") else float("nan")
    print(f"TOTAL    {base['value']:.3f}s -> {cur['value']:.3f}s  ({t:.2f}x)")
    sys.exit(1 if regressions else 0)


if __name__ == "__main__":
    main()
