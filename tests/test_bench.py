"""bench.py's one rule, checked without Spark: per-query median and min
over the passes, the sum of medians as the headline, and the canary ratio
at sf0.1 only."""

from __future__ import annotations

import json

import bench


def test_summarize_median_min_canary_and_skipped():
    skipped = "q1_pricing_summary"
    names = [n for n in bench.HEADLINE if n != skipped]
    passes = [{n: 1.0 for n in names} for _ in range(bench.REPS)]
    for p, wc, ann in zip(passes, (2.0, 3.16, 9.0), (4.0, 1.5, 2.5)):
        p[bench.CANARY] = wc
        p["ann_topk"] = ann

    rec = bench.summarize(passes, 0.1)
    assert rec["reps"] == bench.REPS
    assert rec["n_queries"] == len(names)
    assert rec["n_skipped"] == 1
    assert skipped not in rec["slowest10"]
    assert rec["value"] == round(len(names) - 2 + 3.16 + 2.5, 3)
    assert rec["canary_sec"] == 3.16
    assert rec["host_factor_vs_quiet_canary"] == round(3.16 / bench.CANARY_QUIET, 2)
    assert len(rec["slowest10"]) == 10
    assert list(rec["slowest10"].items())[:2] == [
        (bench.CANARY, {"median": 3.16, "min": 2.0}),
        ("ann_topk", {"median": 2.5, "min": 1.5}),
    ]
    # the record is one JSON line that fits a 2000-character output tail
    line = json.dumps({**rec, "default_parallelism": 4, "shuffle_partitions": 8})
    assert "\n" not in line and len(line) < 2000

    rec = bench.summarize(passes, 0.01)
    assert rec["canary_sec"] == 3.16
    assert rec["host_factor_vs_quiet_canary"] is None
