"""tools/profile.py: phase timings, job counts by job group, stream
microbatches, and the --plans dump, on one batch and one streaming query."""

from __future__ import annotations

import os
import subprocess
import sys

import mapreduceimplementation_spark as eng
from tools.profile import profile

eng.load_all_operators()


def test_profile_batch_query_and_plan(spark, sf_dir, tmp_path):
    (rec,) = profile(spark, sf_dir, {"mr_wordcount": eng.QUERIES["mr_wordcount"]},
                     plans=str(tmp_path))
    assert rec["jobs"]["build"] == 0
    assert rec["jobs"]["action"] >= 1
    assert rec["jobs"]["stream"] == 0
    for phase in ("build_s", "action_s"):
        assert 0 < rec[phase]["min"] <= rec[phase]["median"]
    assert "== Physical Plan ==" in (tmp_path / "mr_wordcount.txt").read_text()


def test_profile_stream_lists_microbatches(spark, sf_dir, tmp_path):
    name = "streaming_windowed_counts"
    (rec,) = profile(spark, sf_dir, {name: eng.QUERIES[name]}, plans=str(tmp_path))
    assert rec["jobs"]["stream"] > 0
    batches = [b for rep in rec["batches"] for b in rep]
    assert batches and all(b["durationMs"].get("triggerExecution") for b in batches)
    # a stream's DataFrame is a readout of what the stream wrote: no plan
    assert not (tmp_path / f"{name}.txt").exists()


def test_tools_run_as_scripts_import_pyspark():
    """Run as a script, a tool's own directory heads sys.path, where
    tools/profile.py would shadow the standard library's ``profile`` that
    pyspark's cProfile import loads; each tool takes tools/ off the path."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "profile.py"), "--help"],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
