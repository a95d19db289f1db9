#!/usr/bin/env python
"""Dup-heavy CELL-EXACT sweep: every oracled registry query value-checked
against DuckDB on a replicated corpus (default: sf0.001 x 20, built with
tools_scale_gen.py so documents/embeddings carry verbatim duplicate groups
with interleaved offset keys).

Why this gate exists beside the others (added round 9):
- the sf10/sf1 sweeps are .count()-only — they catch blowups and crashes
  in the duplication regime, not VALUE divergence;
- the shipped parity fixtures are mostly distinct — collapse rewrites and
  tie-sensitive orderings can be wrong on duplicated data while staying
  cell-exact at sf0.001/sf0.01/sf0.1.
Its first run caught contrastive_negatives_ring's packed ring position
(hpos*1024 + vec_id — injective only below vec_id 1024; replicated ids
produced ties whose row_number resolution was engine-arbitrary).

Usage: python tools_dup_value_sweep.py [sf_dir]
Prints one line per oracled query (`<name> OK|FAIL <s>`), then
`DONE <n> failures in <s>s` — nonzero exit on any failure.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else ".scratch/dup20"
    from cbde_mapreduce_spark.session import get_spark

    # get_spark's 12g driver heap: replicated corpora grow the heaviest
    # collect/build sides with the replica count (a 1g heap OOMed)
    spark = get_spark(app_name="dup-value-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    from parity import assert_parity

    from cbde_mapreduce_spark.plans import REGISTRY

    fails: dict[str, str] = {}
    t0 = time.time()
    for name, spec in sorted(REGISTRY.items()):
        if not spec.oracle:
            continue
        t1 = time.time()
        try:
            assert_parity(spec.fn(spark, sf), spec.oracle, sf, name)
            status = "OK"
        except Exception as e:  # noqa: BLE001 — collecting a full report
            fails[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"
            status = "FAIL " + fails[name]
        print(f"{name} {status} {time.time() - t1:.1f}s", flush=True)

    # ADVICE r11 (money.py): per-row quantized-integer equality for one
    # transcendental site per family — a lone libm-divergent row can hide
    # inside (or cancel out of) an aggregate sum, so the sweep also
    # asserts the quantized integers row by row on this corpus.
    from cbde_mapreduce_spark.plans.rowlevel import (
        ROWLEVEL_BOUNDED,
        ROWLEVEL_PROBES,
        assert_bounded_rowlevel,
    )

    def _probe(name, check):
        t1 = time.time()
        try:
            check()
            status = "OK"
        except Exception as e:  # noqa: BLE001 — collecting a full report
            fails[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"
            status = "FAIL " + fails[name]
        print(f"{name} {status} {time.time() - t1:.1f}s", flush=True)

    for name, fn, sql in ROWLEVEL_PROBES:
        _probe(name, lambda: assert_parity(fn(spark, sf), sql, sf, name))
    for name, fn, sql, keys, max_abs, max_cells in ROWLEVEL_BOUNDED:
        _probe(
            name,
            lambda: assert_bounded_rowlevel(
                fn(spark, sf), sql, sf, keys, max_abs, max_cells, name
            ),
        )
    print(f"DONE {len(fails)} failures in {time.time() - t0:.0f}s")
    for k, v in fails.items():
        print("FAILURE", k, v)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
