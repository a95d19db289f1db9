#!/usr/bin/env python
"""Registry-wide scale sweep: run every registered query at a replicated
scale factor under a soft timeout (tools_scale_study.py pays a JVM start
per query: 6-7 s to a first trivial query from the driver's class-data-sharing
archive, 12-13 s without one, on 4 vCPUs — fine for 13 headline timings,
prohibitive for 284).

Purpose is defect HUNTING, not benchmarking: at 100× replication every
document/text/key group has ~100 identical copies, which is exactly the
regime that exposed the duplication-quadratic pair join in
sparse_cosine_topk_docs and the unsliced block-matmul OOM in
operators/similarity.py (SCALING.md round 6). A query that is flat at
sf0.001→sf0.1 can still be Ω(dup²) here.

Execution is .count() (forces the full distributed plan but skips the
driver Arrow materialization, which for 10M-row results would swamp the
signal). Isolation lesson, learned twice in this round's first sweeps:
a timed-out query CANNOT be skipped in-process in local mode —
cancelJobGroup(interruptOnCancel=True) kills Parquet/Netty threads and
takes the JVM down; cancel WITHOUT interrupt leaves zombie stages that
exhaust the shared driver+executor heap and kill the JVM a few queries
later. So on timeout the worker prints TIMEOUT and EXITS the JVM, and the
orchestrator mode restarts a fresh worker with the remaining names; a
worker that dies without printing (hard wedge / heap death) gets its
first unfinished name marked KILLED and the sweep moves on.

Usage:
    python tools_scale_sweep.py <sf_dir> [timeout_s]            # orchestrate all
    python tools_scale_sweep.py <sf_dir> <timeout_s> <name...>  # worker
Prints one line per query:
    `<name> <ms>` | `<name> TIMEOUT` | `<name> KILLED` | `<name> ERROR <exc>`.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: documented deliberately-quadratic exact twins / per-row-Python demos —
#: their cost at 100× is measured and called out in VERDICT r4 and
#: SCALING.md round 6; skipping them keeps the sweep's signal to
#: UNDOCUMENTED blowups.
KNOWN_SLOW = {
    # exact O(n²) oracle twins of the sharded/LSH scale paths
    "cosine_topk_hof",
    "embedding_neardup_pairs",
    # per-row Python cogroup API surface demo (measured ~44 µs/row)
    "cogroup_order_reconciliation",
    # exact leave-one-out eval passes: the docstrings scope them to frozen
    # bounded eval sets; their corpus-scale candidate generation is the ANN
    # family, which IS duplicate-collapsed (SCALING.md round 6)
    "knn_label_accuracy",
    "knn_confusion_matrix",
    "hard_negative_mining",
}


def _jvm_dead(e: Exception) -> bool:
    """True when the exception is the py4j bridge dying, not the query."""
    text = f"{type(e).__name__}: {e}"
    return any(
        s in text
        for s in (
            "Connection refused",
            "Py4JNetworkError",
            "Answer from Java side is empty",
            "Java gateway process exited",
        )
    )


def worker(sf_dir: str, tmo: float, names: list[str]) -> None:
    from cbde_mapreduce_spark.plans import REGISTRY
    from cbde_mapreduce_spark.session import get_spark

    spark = get_spark(app_name="scale-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    for name in names:
        sc = spark.sparkContext
        group = f"sweep-{name}"
        sc.setJobGroup(group, name, interruptOnCancel=False)
        done = threading.Event()
        timed_out = threading.Event()

        def watchdog() -> None:
            if not done.wait(tmo):
                timed_out.set()
                sc.cancelJobGroup(group)

        threading.Thread(target=watchdog, daemon=True).start()
        t0 = time.perf_counter()
        try:
            REGISTRY[name].fn(spark, sf_dir).count()
            done.set()
            if timed_out.is_set():
                print(f"{name} TIMEOUT", flush=True)
                os._exit(3)
            print(f"{name} {(time.perf_counter() - t0) * 1000:.0f}", flush=True)
        except Exception as e:  # noqa: BLE001 — sweep must survive any query
            done.set()
            if timed_out.is_set() or time.perf_counter() - t0 >= tmo:
                print(f"{name} TIMEOUT", flush=True)
                os._exit(3)
            if _jvm_dead(e):
                # cascade victim of an earlier crash — leave it PENDING
                # (print nothing) and hand back to the orchestrator
                os._exit(4)
            msg = str(e).split("\n")[0][:160]
            print(f"{name} ERROR {type(e).__name__}: {msg}", flush=True)
            # a query that OOMs the shared local-mode JVM (e.g. Netty
            # direct-memory exhaustion) leaves it unusable: health-probe
            # and exit for a fresh JVM rather than smear ERRORs downstream
            try:
                spark.range(1).count()
            except Exception:  # noqa: BLE001
                os._exit(4)
        # drain the aged session between queries: ContextCleaner frees
        # broadcasts / shuffle files / checkpoint blocks only after a driver
        # GC proves them unreachable, and allocation-pressure GCs under
        # GCLocker contention do NOT run reference processing reliably —
        # an explicit System.gc() is what lets query N+1 start from a clean
        # heap instead of inheriting query N's garbage (SCALING.md round 7)
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001
            pass


def orchestrate(sf_dir: str, tmo: float) -> None:
    from cbde_mapreduce_spark.plans import REGISTRY

    pending = sorted(set(REGISTRY) - KNOWN_SLOW)
    while pending:
        # hard cap: generous per-name budget + startup slack, so a wedged
        # worker (watchdog never fires / heap death without exit) cannot
        # stall the sweep; progress printed before the kill still counts
        hard = 120 + 2 * tmo + 20 * len(pending)
        proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), sf_dir, str(tmo), *pending],
            stdout=subprocess.PIPE,
            text=True,
        )
        finished: list[str] = []
        try:
            out, _ = proc.communicate(timeout=hard)
        except subprocess.TimeoutExpired:
            proc.kill()
            out = proc.communicate()[0] or ""
        for line in out.splitlines():
            print(line, flush=True)
            finished.append(line.split(" ", 1)[0])
        pending = [n for n in pending if n not in finished]
        if proc.returncode == 0 and not finished:
            break  # defensive: nothing ran and worker "succeeded" — stop
        # rc 3 = clean timeout exit, rc 4 = clean JVM-death exit (culprit
        # already printed its own line; remaining names stay pending)
        if proc.returncode not in (0, 3, 4) and pending:
            # worker died without a TIMEOUT marker: blame the first
            # unfinished name, skip it, keep sweeping
            print(f"{pending[0]} KILLED", flush=True)
            pending = pending[1:]
        if proc.returncode == 0:
            break


if __name__ == "__main__":
    sf_dir_a = sys.argv[1]
    tmo_a = float(sys.argv[2]) if len(sys.argv) > 2 else 120.0
    if len(sys.argv) > 3:
        worker(sf_dir_a, tmo_a, sys.argv[3:])
    else:
        orchestrate(sf_dir_a, tmo_a)
