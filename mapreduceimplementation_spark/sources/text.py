"""Raw text-corpus source — the reference's ingestion path.

The reference coordinator reads whole ``pg-*.txt`` files and hands
(filename, contents) to Map (reference: src/mr/coordinator.go, worker.go).
Spark equivalent: ``wholetext`` text source, one row per file, fully
distributed and split-pruned by the scheduler.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceimplementation_spark.sources.fixtures import _materialize_once


def read_text_dir(
    spark: SparkSession, directory: str, pattern: str = "*.txt"
) -> DataFrame:
    """(doc_id=file path, text=file contents) rows, one per file in
    ``directory`` whose name matches ``pattern``.

    Spark is handed the one directory (listed on the driver) and the
    pattern as a file-name filter, not a glob: a glob that expands to more
    than 32 paths (``parallelPartitionDiscovery.threshold``) makes Spark
    start a file-listing job while the DataFrame is built, and on every
    call also logs a ``FileStreamSink`` WARN with a
    ``FileNotFoundException`` stack trace while checking the glob for a
    streaming sink log.  Hidden files (``_SUCCESS``, ``.crc``) never match."""
    return (
        spark.read.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", pattern)
        .load(directory)
        .select(
            F.input_file_name().alias("doc_id"),
            F.col("value").alias("text"),
        )
    )


def materialize_text_corpus(sf_dir: str) -> str:
    """One .txt file per document row — the reference's pg-*.txt layout.

    The driver testdata ships documents as parquet only; the reference's
    ingestion surface is whole text files.  This materializes them once
    (driver-side, marker-guarded) into a deterministic temp dir so the
    wholetext read path can be exercised and oracle-checked.  This is test
    fixture preparation, not part of the measured operator — a production
    corpus already IS files."""
    src = os.path.join(sf_dir, "documents.parquet")

    def write(d: str) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(src, columns=["doc_id", "text"])
        for doc_id, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
            if text is None:
                continue
            with open(os.path.join(d, f"doc-{doc_id:08d}.txt"), "w") as f:
                f.write(text)

    return _materialize_once("mri_spark_textcorpus", src, write)


def write_mr_out(
    df: DataFrame,
    path: str,
    n_reduce: int = 10,
    key: str = "key",
    value: str = "value",
) -> None:
    """The reference's output sink contract (src/mr/worker.go: one
    ``mr-out-N`` text file per reduce task, '%v %v' lines, keys sorted
    within each file): hash-partition rows by key into ``n_reduce`` text
    part-files, each sorted by key.

    Spark analog of worker.go's ihash(key) %% nReduce file assignment —
    the partitioner is Spark's Murmur3 hash rather than the reference's
    FNV-1a, so individual file contents differ while the file count,
    within-file ordering, and the union of lines match the contract.
    At scale this is the natural shape: one reducer partition == one
    output file, written in parallel, no driver involvement."""
    (
        df.select(F.col(key).cast("string").alias("k"), F.col(value).cast("string").alias("v"))
        .repartition(n_reduce, F.col("k"))
        .sortWithinPartitions("k")
        .select(F.concat_ws(" ", "k", "v").alias("value"))
        .write.mode("overwrite")
        .text(path)
    )


def write_mr_intermediate(
    df: DataFrame,
    path: str,
    n_reduce: int = 10,
    key: str = "key",
    value: str = "value",
) -> None:
    """The reference's INTERMEDIATE shuffle-file contract (src/mr/
    worker.go:137-154: per (map, reduce) task a JSON file of
    ``{"Key":...,"Value":...}`` lines, reduce bucket chosen by
    ihash(key) & 0x7fffffff %% nReduce): write rows as JSON-lines
    partitioned into ``r=<bucket>`` directories using the reference's
    EXACT FNV-1a bucket function (functions/hashing.fnv1a32 — pinned to
    the reference's committed intermediates in test_golden_parity).

    A reference reducer pointed at bucket r's directory reads precisely
    the keys it owns; our reducer reading the reference's intermediates
    is the dual, proven in tests.  File naming differs (Spark part-files
    under r=K/ instead of mr-out-<m>-<r>.json) — the portable contract
    is the bucket assignment + line format, and at scale one task per
    (input-split, bucket) writing independently is exactly worker.go's
    layout."""
    from mapreduceimplementation_spark.functions.hashing import fnv1a32

    bucket = F.pmod(
        fnv1a32(F.col(key).cast("string")).bitwiseAND(F.lit(0x7FFFFFFF)),
        F.lit(n_reduce),
    )
    (
        df.select(
            F.col(key).cast("string").alias("Key"),
            F.col(value).cast("string").alias("Value"),
            bucket.cast("int").alias("r"),
        )
        .write.mode("overwrite")
        .partitionBy("r")
        .json(path)
    )
