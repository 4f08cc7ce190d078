"""The whole-text-file source (the reference's pg-*.txt ingestion path):
which files ``read_text_dir`` reads, and that building a query over it
runs no Spark job."""

from __future__ import annotations

import os

import mapreduceimplementation_spark as eng
from mapreduceimplementation_spark.sources.text import read_text_dir
from tools.profile import jobs_in_group

eng.load_all_operators()


def test_job_count_sees_a_one_job_build(spark):
    """The counter must not drop a job that reaches the status tracker
    late: a build running exactly one job counts 1, every time."""
    build = lambda: spark.range(3).collect()  # noqa: E731
    assert [jobs_in_group(spark, build) for _ in range(20)] == [1] * 20


def test_building_text_wordcount_runs_no_jobs(spark, sf_dir):
    """The corpus is hundreds of files, above Spark's parallel-listing
    threshold: a glob over them would list them in a Spark job while the
    DataFrame is built."""
    from mapreduceimplementation_spark.sources.text import materialize_text_corpus

    corpus = materialize_text_corpus(sf_dir)
    n_files = len([f for f in os.listdir(corpus) if f.endswith(".txt")])
    assert n_files > 32, n_files
    build = lambda: eng.QUERIES["mr_wordcount_text"](spark, sf_dir)  # noqa: E731
    assert jobs_in_group(spark, build) == 0


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
