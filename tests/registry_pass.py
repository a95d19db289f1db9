"""One pass over the query registry, each name built and executed once, and
``PLANS.json``, the committed plan fingerprints it is checked against.

``run_pass(spark, sf_dir)`` goes through the registry in name order. For each
name it releases the cached tables and every persistent RDD
(``bench.release``), builds the plan, ``collect()``s it and drains the
listener bus. It keeps the final executed-plan string and the normalized
plan of every SQL execution the name ran: the collect and each job run while
the plan was built (loop rounds, broadcast gates, BPE's vocabulary collect).
It also keeps what the name left in the session: the temp views and temp
functions it added and whether a relation stayed cached.
The default tier runs the pass once at sf0.001, through the session-scoped
``registry_pass`` fixture in ``conftest.py``; the plan pins read its
executed plans instead of building their queries again.

``PLANS.json`` maps each name to ``{"fp", "since"}``. ``fp`` hashes the
oracle SQL text together with those normalized plans. Normalizing keeps the
initial plan of an adaptive plan, which is fixed before execution, and drops
its final plan, which depends on runtime sizes and on when the listener saw
it. It keeps each node's details but strips expression, plan, stage and RDD
ids, partition counts, statistics and paths, so an ``fp`` is the same at any
session width and in any checkout. An ``fp`` cannot see work done in driver
Python, such as the merges BPE computes from its collected vocabulary and
returns as a local relation, nor the order of the tokens within one line of
a node's details (``normalize`` sorts them). It does see the literals the
data decides and a plan inlines (range bounds, collected scalars), so an
``fp`` depends on the scale: the pass runs at sf0.001, where a pass
fingerprints the same in a pytest session as in its own process.
``since`` is the first driver round that should see the ``fp``:
``__spark_entry__`` orders a name first while ``since`` is later than its
last green driver check.

    python -m tests.registry_pass                   # rewrite PLANS.json
    python -m tests.registry_pass --explain NAME…   # print final executed plans

Rewriting keeps ``since`` for every unchanged ``fp`` and sets it to one past
the newest ``CORRECTNESS_r*.json`` round for each changed or new name.
``--explain`` runs only the named queries, through the same loop, and
changes no file.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
from collections.abc import Iterable
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
    # uuid-suffixed view names: run_to_memory's sinks, spark.sql's ``_pyspark_`` views
    (re.compile(r"_[0-9a-f]{8,32}\b"), "_"),
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
    views: set[str]  # temp views the name added to the session
    functions: set[str]  # temp functions the name added to the session
    cached: bool  # the cache manager holds a relation after the name ran

    def fp(self, name: str) -> str:
        h = hashlib.sha256((REGISTRY[name].oracle or "").encode())
        for plan in self.execs:
            h.update(b"\0" + plan.encode())
        return h.hexdigest()[:16]


def temp_names(spark) -> tuple[set[str], set[str]]:
    """The session's temp views and temp functions, read from the JVM catalog
    (``spark.catalog.listTables`` would post SQL executions of its own)."""
    cat = spark._jsparkSession.sessionState().catalog()
    views, fns = cat.listLocalTempViews("*"), cat.listTemporaryFunctions()
    return (
        {views.apply(i).table() for i in range(views.size())},
        {fns.apply(i).funcName() for i in range(fns.size())},
    )


def run_pass(spark, sf_dir: str, names: Iterable[str] = REGISTRY) -> dict[str, Run]:
    """Build, execute and fingerprint each of ``names`` once."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()
    bus.waitUntilEmpty()
    n = store.executionsCount()
    seen = store.executionsList(n - 1, 1).apply(0).executionId() if n else -1
    cache = spark._jsparkSession.sharedState().cacheManager()
    runs = {}
    for name in sorted(names):
        release(spark)
        views, fns = temp_names(spark)
        df = REGISTRY[name].fn(spark, sf_dir)
        df.collect()
        bus.waitUntilEmpty()
        execs = []
        while not (e := store.execution(seen + 1)).isEmpty():
            seen += 1
            execs.append(normalize(e.get().physicalPlanDescription()))
        views_after, fns_after = temp_names(spark)
        plan = df._jdf.queryExecution().executedPlan().toString()
        runs[name] = Run(plan, execs, views_after - views, fns_after - fns, not cache.isEmpty())
    release(spark)
    return runs


def final_plan(plan: str) -> str:
    """An executed plan up to its first ``== Initial Plan ==`` section: an
    adaptive plan prints its final plan first."""
    return plan.split("+- == Initial Plan ==")[0].rstrip()


def explain(name: str, run: Run) -> str:
    """``name``'s final executed plan under a header line."""
    return f"== {name} ==\n{final_plan(run.plan)}"


def main() -> None:
    import argparse

    from cbde_mapreduce_spark.session import get_spark

    parser = argparse.ArgumentParser(prog="python -m tests.registry_pass")
    parser.add_argument(
        "--explain", nargs="+", metavar="NAME", help="print these names' final plans; write no file"
    )
    names = parser.parse_args().explain
    if unknown := set(names or ()) - REGISTRY.keys():
        parser.error(f"not in the registry: {sorted(unknown)}")
    spark = get_spark(app_name="registry-pass")
    spark.sparkContext.setLogLevel("ERROR")
    if names:
        runs = run_pass(spark, E.SF_SMOKE, names)
        print("\n\n".join(explain(name, runs[name]) for name in names))
        return
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
