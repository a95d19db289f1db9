"""Registry-WIDE physical-plan anti-pattern gates.

tests/test_plans_audit.py asserts the right plan for 54 named queries;
these tests instead sweep the ENTIRE registry so a scale anti-pattern
cannot slip in through any future query:

1. No single-partition global-window chain (``Window <- Sort <- Exchange
   SinglePartition``) over a data-bearing relation. A small allowlist names
   the queries where the windowed relation is provably bounded (calendar
   spine, lifetable, histogram bins, per-source quota) or an explicitly
   documented dimension-sized aggregate.
2. Every name's plan fingerprint matches ``PLANS.json``, so no plan changes
   without the driver order hearing of it.
3. No name leaves a temp view, a temp function other than the fixed UDTF
   names, or (outside a named set) a cached relation in the session.
4. No row-at-a-time Python UDFs anywhere in the package source — only
   Arrow-vectorized forms (pandas_udf / mapInPandas / applyInPandas /
   cogroup / UDTF) are allowed on the Python path.

The plan checks read one registry pass (``tests/registry_pass.py``), the
session-scoped ``registry_pass`` fixture that the named plan pins read too;
one more test checks what ``python -m tests.registry_pass --explain`` prints.
"""

from __future__ import annotations

import json
import pathlib
import re

from cbde_mapreduce_spark.plans import REGISTRY

#: Window <- Sort <- Exchange SinglePartition adjacency in the executed
#: plan's tree rendering (child printed under parent).
_SP_WINDOW = re.compile(
    r"Window[^\n]*\n[^\n]*Sort[^\n]*\n[^\n]*Exchange SinglePartition"
)

#: Queries whose global-order window runs over a BOUNDED relation — the
#: window input is O(calendar) / O(bins) / O(lifetable), or a documented
#: dimension-sized aggregate (see each query's docstring):
_BOUNDED_WINDOW_OK = {
    "cumulative_distinct_users",  # day spine
    "expected_clv_curve",  # lifetable (distinct 30-day durations) + 24 months
    "kaplan_meier_customers",  # lifetable
    "ks_binned_order_drift",  # fixed histogram bins
    "largest_remainder_quota",  # per-source quota rows
    "monthly_revenue_growth",  # month spine
    "seasonal_decompose_daily",  # day spine
    # (round 4 closed the list: abc_analysis_parts and
    # gini_customer_revenue — the last dimension-sized offenders — were
    # rewritten onto exclusive_prefix_sum; only genuinely bounded
    # relations remain above.)
}


def test_no_single_partition_window_anywhere(registry_pass):
    """Sweep every registered query's executed plan at sf0.001."""
    offenders = {
        name: len(hits)
        for name, run in registry_pass.items()
        if name not in _BOUNDED_WINDOW_OK and (hits := _SP_WINDOW.findall(run.plan))
    }
    assert not offenders, (
        f"single-partition global windows outside the bounded allowlist: "
        f"{offenders}"
    )


def test_plan_fingerprints_match_plans_json(registry_pass):
    """Every name's plan fingerprint is the one committed in PLANS.json, so
    a plan change cannot reach the driver unannounced: regenerate with
    ``python -m tests.registry_pass``, which marks the changed names to lead
    the next driver round."""
    from tests.registry_pass import PLANS

    with open(PLANS) as f:
        committed = {n: p["fp"] for n, p in json.load(f).items()}
    fps = {name: run.fp(name) for name, run in registry_pass.items()}
    differ = sorted(n for n in fps.keys() | committed.keys() if fps.get(n) != committed.get(n))
    assert not differ, f"plans differ from PLANS.json (python -m tests.registry_pass): {differ}"


def test_explain_prints_the_final_executed_plan(registry_pass):
    """``--explain`` prints a name's final plan, not the adaptive plan's
    initial one."""
    from tests.registry_pass import explain

    text = explain("q1_pricing_summary", registry_pass["q1_pricing_summary"])
    assert text.startswith("== q1_pricing_summary ==\n")
    assert "HashAggregate" in text and "== Initial Plan ==" not in text


#: The Python UDTFs the registry registers, each under one fixed name.
_UDTF_NAMES = {"cbde_tokenize", "lang_stats", "cbde_ngrams"}


def test_registry_plans_leave_no_session_state(spark, registry_pass):
    """A plan releases the catalog state it makes: SQL-text plans hand their
    tables to ``spark.sql`` as DataFrame arguments (Spark drops those views
    before ``sql()`` returns), memory-sink views are dropped once the sink is
    read, and re-registering a UDTF under its fixed name replaces it. No
    plan leaves a cached relation: a loop holds its sets as ``RoundState``
    invariants, released when the loop ends."""
    from tests.registry_pass import temp_names

    left = {
        name: sorted(run.views | (run.functions - _UDTF_NAMES))
        for name, run in registry_pass.items()
        if run.views or run.functions - _UDTF_NAMES
    }
    assert not left, f"temp views/functions left in the session: {left}"
    functions = temp_names(spark)[1]
    assert functions == _UDTF_NAMES, f"temp functions after the pass: {sorted(functions)}"
    cached = {name for name, run in registry_pass.items() if run.cached}
    assert not cached, f"cached relations left by: {sorted(cached)}"


def test_bounded_window_allowlist_is_not_stale():
    """Names in the allowlist must exist (catch renames silently widening
    the gate)."""
    missing = _BOUNDED_WINDOW_OK - set(REGISTRY)
    assert not missing, missing


def test_no_row_at_a_time_python_udf_in_package():
    """Only Arrow-batched Python execution paths are allowed; a plain
    ``F.udf`` / ``@udf`` row-at-a-time UDF is the 10-100x slow path."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "cbde_mapreduce_spark"
    bad: list[str] = []
    for py in sorted(pkg.rglob("*.py")):
        src = py.read_text()
        for i, line in enumerate(src.splitlines(), 1):
            code = line.split("#")[0]
            if re.search(r"\bF\.udf\s*\(|^\s*@udf\b|[^_\w]udf\s*\(", code):
                # allow the vectorized/table-function forms
                if re.search(r"pandas_udf|udtf|_udf_profiler", code):
                    continue
                bad.append(f"{py.name}:{i}: {line.strip()}")
    assert not bad, f"row-at-a-time UDFs found: {bad}"


#: Variable/column names that denote DATA-SIZED entities (documents,
#: embedding vectors, graph vertices, per-entity norm/rank tables). A
#: broadcast HINT whose argument mentions one of these is the scale hazard
#: class the round-6/7 audits removed twice (MaxSim group sizes, the
#: sparse-cosine norm table): the relation grows with the corpus, so at
#: 100 TB the hint ships an unbounded table to every executor.
_DATA_SIZED_NAME = re.compile(
    r"\b(doc_id|vec_id|embedding|embeddings|frontier|visited|ranks|nrm|"
    r"n1|n2|norms|postings|labels)\b"
)

#: Audited exceptions: (filename, exact broadcast argument) pairs where the
#: named relation is PROVABLY bounded — by a top-k limit, a fixed shard
#: count, or a driver-side constant — with the justification in the query's
#: docstring. Add a pair only with that proof; everything else mentioning a
#: data-sized name must either drop the hint or gate it on a measured size
#: through operators/gates.py::maybe_broadcast.
_AUDITED_BOUNDED_BROADCASTS = {
    # top-k rep-pair tables: <= k+? rows by construction (expand step)
    ("similarity.py", 'top.filter(F.col("qid") != F.col("nid")).drop("bd1", "bd2")'),
    ("similarity.py", 'top.filter(F.col("qid") == F.col("nid")).drop("nid", "bd1", "bd2")'),
    ("text.py", 'top.filter(F.col("g1") != F.col("g2")).drop("bd1", "bd2")'),
    ("text.py", 'top.filter(F.col("g1") == F.col("g2")).drop("g2", "bd1", "bd2")'),
    # constant-sized range (matches the deny list only via the session
    # accessor on load_table("embeddings")): _NEG_K + 4 slot rows
    (
        "mlprep.py",
        'load_table(spark, sf_dir, "embeddings") .sparkSession.range(1, _NEG_K + 5)'
        ' .select(F.col("id").cast("int").alias("slot"))',
    ),
    # single QUERY vector (filtered to one vec_id): exactly <= 1 row
    (
        "retrieval.py",
        'n.filter(F.col("vec_id") == RRF_QUERY_DOC).select( F.col("e").alias("qe"),'
        ' F.col("nrm").alias("qn") )',
    ),
    (
        "similarity_q.py",
        'n.filter(F.col("vec_id") == _MIPS_Q).select( F.col("e").alias("qe"),'
        ' F.col("nrm").alias("qn") )',
    ),
    # global scalar aggregate: exactly 1 row
    ("similarity_q.py", 'cand.agg(F.max("nrm").alias("m"))'),
}


def _broadcast_args(src: str):
    """Yield (line_no, argument_text) for every F.broadcast(...) call,
    bracket-matched so multi-line arguments are captured whole."""
    for m in re.finditer(r"F\.broadcast\(", src):
        depth, i = 1, m.end()
        while depth and i < len(src):
            if src[i] in "([{":
                depth += 1
            elif src[i] in ")]}":
                depth -= 1
            i += 1
        arg = " ".join(src[m.end() : i - 1].split())
        line = src.count("\n", 0, m.start()) + 1
        yield line, arg


def test_no_broadcast_hint_on_data_sized_relation():
    """No F.broadcast hint may be placed on a relation keyed by a document /
    vector / vertex id (or a per-entity norm, rank, frontier, or label
    table) unless (a) the hint is size-GATED — placed by
    ``gates.maybe_broadcast``, which measures the relation and falls back to
    a shuffle join — or (b) the site is in the audited-bounded allowlist
    with a docstring proof. Calendar spines, 1-row aggregates, and
    dimension tables don't match the deny names and pass untouched."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "cbde_mapreduce_spark"
    offenders: list[str] = []
    for py in sorted(pkg.rglob("*.py")):
        src = py.read_text()
        for line, arg in _broadcast_args(src):
            if not _DATA_SIZED_NAME.search(arg):
                continue
            if (py.name, arg) in _AUDITED_BOUNDED_BROADCASTS:
                continue
            offenders.append(f"{py.name}:{line}: F.broadcast({arg})")
    assert not offenders, (
        "broadcast hints on data-sized relations (drop the hint, size-gate "
        f"it, or audit a boundedness proof): {offenders}"
    )
