"""One pass over the query registry, each name built and executed once, and
``PLANS.json``, the committed plan fingerprints it is checked against.

``run_pass(spark, sf_dir)`` goes through the registry in name order. For each
name it releases the cached tables and every persistent RDD
(``bench.release``), builds the plan, ``collect()``s it and drains the
listener bus. It keeps the final executed-plan string and the normalized
plan of every SQL execution the name ran: the collect and each job run while
the plan was built (loop rounds, broadcast gates, BPE's vocabulary collect).
The default tier runs the pass once at sf0.001, through the session-scoped
``registry_pass`` fixture in ``conftest.py``.

``PLANS.json`` maps each name to ``{"fp", "since"}``. ``fp`` hashes the
oracle SQL text together with those normalized plans. Normalizing keeps the
initial plan of an adaptive plan, which is fixed before execution, and drops
its final plan, which depends on runtime sizes and on when the listener saw
it. It keeps each node's details but strips expression, plan, stage and RDD
ids, partition counts, statistics and paths, so an ``fp`` is the same at any
session width and in any checkout. An ``fp`` cannot see work done in driver
Python, such as the merges BPE computes from its collected vocabulary and
returns as a local relation, nor anything the data decides at run time, nor
the order of the tokens within one line of a node's details (``normalize``
sorts them).
``since`` is the first driver round that should see the ``fp``:
``__spark_entry__`` orders a name first while ``since`` is later than its
last green driver check.

    python -m tests.registry_pass      # rewrite PLANS.json from a fresh pass

Rewriting keeps ``since`` for every unchanged ``fp`` and sets it to one past
the newest ``CORRECTNESS_r*.json`` round for each changed or new name.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
from typing import NamedTuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as E  # noqa: E402
from bench import release  # noqa: E402
from cbde_mapreduce_spark.plans import REGISTRY  # noqa: E402

PLANS = os.path.join(ROOT, "PLANS.json")

#: Run-, width- and checkout-dependent tokens of a formatted plan.
_VOLATILE = [
    (re.compile(r"#\d+"), "#"),  # expression ids
    (re.compile(r"(lambda \w+)_\d+"), r"\1"),  # a session-wide counter
    (re.compile(r"(plan_id=|operator id: |codegen id : )\d+"), r"\1"),
    (re.compile(r"\w*RDD\[\d+\] at [^,\]]*"), "RDD"),
    (re.compile(r"(partitioning\(.*), \d+\)"), r"\1)"),
    (re.compile(r"(splits=Some\(|numPartitions = )\d+"), r"\1"),
    (re.compile(r", Statistics\([^)]*\)|isFinalPlan=\w+|\bfile:[^\s,\]]*|@[0-9a-f]+\b"), ""),
    (re.compile(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "uuid"),
    (re.compile(r"_[0-9a-f]{8,12}\b"), "_"),  # uuid-suffixed view and function names
]
_FINAL = re.compile(r"\+- == (Final|Current) Plan ==")
_TREE_ID = re.compile(r" \((\d+)\)")
_NODE = re.compile(r"\((\d+)\) ")
_TOKEN = re.compile(r"\w+|[^\w\s]")


def normalize(description: str) -> str:
    """The width- and run-independent part of a formatted physical plan.

    The tree is kept without any adaptive plan's final (or current) plan.
    After it come the details of each node the tree names, in tree order,
    each line as its sorted tokens: Catalyst orders some expression lists by
    hash codes of expression ids (the distinct groups of a rewritten
    multi-distinct aggregate), and those ids depend on the session's history.
    """
    tree, _, details = description.partition("\n\n\n")
    kept, skip = [], -1
    for line in tree.split("\n"):
        if skip >= 0:
            # an adaptive plan prints its initial plan at its final plan's column
            skip = -1 if line.find("+- == Initial Plan ==") == skip else skip
        elif m := _FINAL.search(line):
            skip = m.start()
        else:
            kept.append(line)
    blocks = {}
    for block in details.split("\n\n"):
        if m := _NODE.match(block):
            blocks[m.group(1)] = block[m.end() :]
    tree = "\n".join(kept)
    details = "\n".join(blocks[i] for i in dict.fromkeys(_TREE_ID.findall(tree)) if i in blocks)
    for pattern, repl in _VOLATILE:
        tree, details = pattern.sub(repl, tree), pattern.sub(repl, details)
    lines = (" ".join(sorted(_TOKEN.findall(line))) for line in details.split("\n"))
    return "\n".join([_TREE_ID.sub("", tree), *lines])


class Run(NamedTuple):
    plan: str  # the final executed plan, as ``executedPlan().toString()``
    execs: list[str]  # normalized plans of every SQL execution, in order

    def fp(self, name: str) -> str:
        h = hashlib.sha256((REGISTRY[name].oracle or "").encode())
        for plan in self.execs:
            h.update(b"\0" + plan.encode())
        return h.hexdigest()[:16]


def run_pass(spark, sf_dir: str) -> dict[str, Run]:
    """Build, execute and fingerprint every registry name once."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()
    bus.waitUntilEmpty()
    n = store.executionsCount()
    seen = store.executionsList(n - 1, 1).apply(0).executionId() if n else -1
    runs = {}
    for name in sorted(REGISTRY):
        release(spark)
        df = REGISTRY[name].fn(spark, sf_dir)
        df.collect()
        bus.waitUntilEmpty()
        execs = []
        while not (e := store.execution(seen + 1)).isEmpty():
            seen += 1
            execs.append(normalize(e.get().physicalPlanDescription()))
        runs[name] = Run(df._jdf.queryExecution().executedPlan().toString(), execs)
    release(spark)
    return runs


def main() -> None:
    from cbde_mapreduce_spark.session import get_spark

    spark = get_spark(app_name="registry-pass")
    spark.sparkContext.setLogLevel("ERROR")
    runs = run_pass(spark, E.SF_SMOKE)
    with open(PLANS) as f:
        old = json.load(f)
    nxt = max(E._evidence(ROOT), default=0) + 1
    plans = {}
    for name, run in runs.items():
        fp = run.fp(name)
        prev = old.get(name, {})
        plans[name] = {"fp": fp, "since": prev["since"] if prev.get("fp") == fp else nxt}
    with open(PLANS, "w") as f:
        json.dump(plans, f, indent=1, sort_keys=True)
        f.write("\n")
    changed = sorted(n for n in plans if plans[n] != old.get(n))
    print(f"PLANS.json: {len(plans)} names; changed, now since {nxt}: {changed}")


if __name__ == "__main__":
    main()
