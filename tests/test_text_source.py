"""The whole-text-file source (the reference's pg-*.txt ingestion path):
which files ``read_text_dir`` reads, and that building a query over it
runs no Spark job."""

from __future__ import annotations

import os
import time
import uuid

import mapreduceimplementation_spark as eng
from mapreduceimplementation_spark.sources.text import read_text_dir

eng.load_all_operators()


def _jobs_in_group(spark, build) -> int:
    """Spark jobs launched while ``build()`` runs, counted through a job
    group.  The status tracker is fed by the asynchronous listener bus, so
    a sentinel job is run last in the same group: once the tracker shows
    it, every earlier job of the group has been reported too."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        build()
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    sentinel = None
    for _ in range(200):
        ids = tracker.getJobIdsForGroup(group)
        if ids:
            sentinel = max(ids)
            break
        time.sleep(0.05)
    assert sentinel is not None, "the sentinel job never reached the tracker"
    return len([j for j in ids if j != sentinel])


def test_building_text_wordcount_runs_no_jobs(spark, sf_dir):
    """The corpus is hundreds of files, above Spark's parallel-listing
    threshold: a glob over them would list them in a Spark job while the
    DataFrame is built."""
    from mapreduceimplementation_spark.sources.text import materialize_text_corpus

    corpus = materialize_text_corpus(sf_dir)
    n_files = len([f for f in os.listdir(corpus) if f.endswith(".txt")])
    assert n_files > 32, n_files
    build = lambda: eng.QUERIES["mr_wordcount_text"](spark, sf_dir)  # noqa: E731
    assert _jobs_in_group(spark, build) == 0


def test_read_text_dir_reads_only_matching_files(spark, tmp_path):
    """Only files matching the pattern are read: not the ``_SUCCESS``
    marker, not another file in the same directory.  The rows (doc_id
    path and whole contents) equal those of a glob read of the same
    files."""
    files = {"pg-a.txt": "alpha beta\nbeta\n", "pg-b.txt": "gamma", "mr-out-0": "beta 2\n"}
    for name, text in files.items():
        (tmp_path / name).write_text(text)
    (tmp_path / "_SUCCESS").write_text("")

    df = read_text_dir(spark, str(tmp_path), "pg-*.txt")
    rows = {(r["doc_id"], r["text"]) for r in df.collect()}
    assert {(os.path.basename(d), t) for d, t in rows} == {
        ("pg-a.txt", "alpha beta\nbeta\n"),
        ("pg-b.txt", "gamma"),
    }
    globbed = (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(str(tmp_path / "pg-*.txt"))
        .selectExpr("input_file_name() AS doc_id", "value AS text")
    )
    assert rows == {(r["doc_id"], r["text"]) for r in globbed.collect()}
