"""Whole-surface plan-shape regression gate (VERDICT r4 item 8).

PLAN_BASELINE.json pins the strategy-level fingerprint (scan / exchange /
join-strategy counts, cartesian count) of every registered batch query's
physical plan at sf0.001.  This test diffs every plan (built once per
session by the ``plan_facts`` fixture) against the committed baseline, so
a silent strategy flip — a broadcast join degrading to sort-merge, a new
shuffle, a cartesian product sneaking in — fails CI instead of waiting
for the per-round judge's plan audit.

On an intentional plan change, regenerate the baseline and commit it:

    python tools/plan_audit.py --baseline /root/testdata/sf0.001

New queries missing from the baseline fail too (add them by regenerating),
so the baseline can never silently under-cover the registry.
"""

from __future__ import annotations

import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE_PATH = os.path.join(REPO, "PLAN_BASELINE.json")

# Plans are fingerprinted at the baseline's own scale factor: broadcast
# decisions depend on file-size estimates, so comparing at a different sf
# would flag legitimate strategy differences, not regressions.
pytestmark = pytest.mark.skipif(
    not os.path.isdir("/root/testdata/sf0.001"),
    reason="driver testdata not present",
)


def test_plan_fingerprints_match_committed_baseline(spark, sf_dir, request):
    with open(BASELINE_PATH) as f:
        doc = json.load(f)
    baseline = doc["plans"]
    # compare at the sf the baseline itself was captured at — broadcast
    # decisions are size-driven, so a cross-sf diff would flag legitimate
    # strategy differences instead of regressions
    baseline_sf = doc.get("sf_dir", "/root/testdata/sf0.001")
    if not os.path.isdir(baseline_sf):
        pytest.skip(f"baseline sf_dir {baseline_sf} not present")

    import mapreduceimplementation_spark as eng
    from tools.plan_audit import audit

    if baseline_sf == sf_dir:
        facts = request.getfixturevalue("plan_facts")
    else:
        facts = audit(spark, baseline_sf)

    eng.load_all_operators()
    batch = {n for n in eng.QUERIES if not n.startswith("streaming_")}
    assert set(facts) == batch

    missing = sorted(batch - set(baseline))
    removed = sorted(set(baseline) - batch)
    assert not missing, (
        f"queries not in PLAN_BASELINE.json (regenerate with "
        f"tools/plan_audit.py --baseline): {missing}"
    )
    assert not removed, f"baseline references unregistered queries: {removed}"

    diffs = []
    for name in sorted(batch):
        got = facts[name]["plan_counts"]
        want = baseline[name]
        if got != want:
            delta = {
                k: (want.get(k), got.get(k))
                for k in sorted(set(want) | set(got))
                if want.get(k) != got.get(k)
            }
            diffs.append(f"{name}: {delta}")
    assert not diffs, (
        "physical-plan fingerprint drift vs PLAN_BASELINE.json "
        "(want, got) — if intentional, regenerate the baseline:\n"
        + "\n".join(diffs)
    )
