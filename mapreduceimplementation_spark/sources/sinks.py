"""Output sinks — the write-side scale discipline.

The reference's only sink is ``mr-out-N`` text part-files (worker.go,
implemented in sources/text.py write_mr_out).  A modern analytics engine
additionally needs partitioned columnar output: data laid out so the NEXT
job's scans prune at the directory level.  At 100 TB, writing
``.../event_type=click/date=2024-01-07/part-*.parquet`` is what turns a
downstream full scan into a handful of file reads — partition pruning is
decided at write time, not read time.

Rules encoded here (and asserted by tests/test_sinks.py):

- partition columns must be low-cardinality (a bounded dim or a date
  bucket) — partitioning by a high-cardinality key creates one directory
  per value and kills the filesystem;
- the in-file sort by the partition columns keeps each task writing few
  open files at once (maxRecordsPerFile-style memory discipline);
- a read-back with a partition-column filter must show PartitionFilters
  (not PushedFilters) in the scan — pruning happens before I/O.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (re-export convenience)

from mapreduceimplementation_spark.session import scoped_conf

#: int64 micros instead of INT96, which carries no min/max statistics
_MICROS_TS = {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}


def write_partitioned(
    df: DataFrame, path: str, *partition_cols: str, mode: str = "overwrite"
) -> None:
    """Write ``df`` as hive-partitioned parquet under ``path``.

    sortWithinPartitions on the partition columns means each write task
    holds ONE open file per (its own) partition-value run instead of one
    per distinct value — the difference between bounded and unbounded
    writer memory on a 1000-file task."""
    if not partition_cols:
        raise ValueError("write_partitioned requires at least one partition column")
    (
        df.sortWithinPartitions(*partition_cols)
        .write.mode(mode)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read back a hive-partitioned dataset (partition columns recovered
    from directory names)."""
    return spark.read.parquet(path)


def compact(
    df: DataFrame,
    path: str,
    target_rows_per_file: int,
    *,
    mode: str = "overwrite",
) -> None:
    """Rewrite ``df`` as parquet with bounded, roughly-uniform file sizes —
    the small-files compaction job every long-lived 100 TB table needs
    (streaming ingestion and fine-grained partitioning both accrete
    thousands of KB-sized files; scans then pay per-file open/footer cost
    that dwarfs the I/O).

    Two dials, both required for bounded output:

    - ``repartition(ceil(n / target))`` sets the number of write tasks —
      a round-robin exchange, so files come out uniform even when the
      input partitioning was skewed;
    - ``maxRecordsPerFile`` caps any single file as a backstop (a task
      can still receive more rows than target when the input count
      estimate is off — the cap turns that into an extra file, not a
      giant one).

    Row-count is the proxy for size here because it is exactly
    computable; production compactors aim at bytes
    (spark.sql.files.maxRecordsPerFile + target file size on the table
    format's side).
    """
    n = df.count()
    n_files = max(1, -(-n // target_rows_per_file))
    (
        df.repartition(n_files)
        .write.mode(mode)
        .option("maxRecordsPerFile", target_rows_per_file)
        .parquet(path)
    )


def write_sorted(
    df: DataFrame,
    path: str,
    sort_col: str,
    n_files: int = 8,
    *,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet RANGE-SORTED on ``sort_col`` — the second
    data-skipping lever after directory partitioning: parquet stores
    per-row-group min/max statistics, and a sorted layout makes each
    row group's [min, max] interval narrow and disjoint, so a range
    predicate on ``sort_col`` prunes most row groups at the footer
    (Spark's parquet filter pushdown) instead of decoding them.

    Hash-partitioned layouts spread every value range over every file —
    identical bytes, identical results, zero skipping.  At 100 TB the
    sort-on-write cost is paid once; every time-range scan afterwards
    reads only the row groups that can match (the clustered-index
    discipline; table formats call this Z-ordering's 1-D case).

    ``repartitionByRange`` gives disjoint per-file ranges;
    ``sortWithinPartitions`` orders rows inside each file so row groups
    within a file are tight too.

    Timestamp gotcha (found empirically): Spark's default parquet
    timestamp encoding is INT96, for which parquet writes NO usable
    min/max statistics — a time-sorted INT96 layout skips NOTHING.
    This sink forces TIMESTAMP_MICROS (int64) for the write so
    timestamp sort columns actually carry the stats the pushdown needs;
    a lake that wants time-range skipping must make that choice
    table-wide."""
    with scoped_conf(df.sparkSession, _MICROS_TS):
        (
            df.repartitionByRange(n_files, sort_col)
            .sortWithinPartitions(sort_col)
            .write.mode(mode)
            .parquet(path)
        )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, ...],
    n_files: int = 16,
    bits: int = 10,
    *,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet clustered on a Z-ORDER (Morton) curve over
    ``cols`` — the MULTI-dimensional data-skipping lever (write_sorted is
    its 1-D case; table formats call this OPTIMIZE ZORDER BY).

    A linear sort on ts gives perfect row-group pruning for time ranges
    and ZERO pruning for user ranges (every file spans all users).  The
    Z-curve interleaves the bits of all dimensions, so rows close in the
    curve are close in EVERY dimension: each file's [min, max] envelope
    is narrow on ts AND on user_id, and a predicate on either column —
    or a box on both — prunes row groups at the footer.  The per-column
    pruning is weaker than a dedicated sort (sqrt-ish locality instead
    of disjoint ranges) — the price of serving all dimensions from one
    layout, paid once at write time.

    Mechanics: each column is quantized to 2^bits cells over its
    [min, max] (one tiny stats pass — the same range-id step the lake
    formats run), cell bits are interleaved round-robin into the Morton
    key, and the write range-partitions + sorts on the key exactly like
    write_sorted.  The quantization only shapes LAYOUT — row bytes and
    query results are identical to any other layout (pytest-gated), so
    float rounding here is harmless.  Timestamps are forced to int64
    micros for the same reason as write_sorted: INT96 carries no stats.
    """
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(c).cast("double").alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).first()
    ncells = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for d, c in enumerate(cols):
        mn, mx = stats[f"mn_{d}"], stats[f"mx_{d}"]
        span = (mx - mn) or 1.0
        cell = F.least(
            F.greatest(
                F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * ncells),
                F.lit(0),
            ),
            F.lit(ncells),
        ).cast("long")
        for i in range(bits):
            # bit i of dim d lands at curve position i*D + d
            z = z + F.shiftleft(
                F.shiftright(cell, i).bitwiseAND(F.lit(1)), i * len(cols) + d
            )
    with scoped_conf(df.sparkSession, _MICROS_TS):
        (
            df.withColumn("__z", z)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode(mode)
            .parquet(path)
        )


def compact_files(
    spark: SparkSession,
    path: str,
    out: str,
    target_bytes: int = 128 << 20,
    *,
    mode: str = "overwrite",
) -> int:
    """Rewrite a parquet directory's many small files into ~target-size
    files — the OPTIMIZE-compact maintenance job every streaming/append
    lake needs: microbatch and per-task writers leave thousands of tiny
    files, and each one costs a footer read, an open, and a scheduler
    task on every later scan (the small-files problem).

    The rewrite uses COALESCE, not repartition: coalesce merges adjacent
    partitions with NO shuffle (narrow dependency — pytest asserts no
    Exchange in the write plan), so compaction moves each byte exactly
    once even at 100 TB.  The trade: merged files inherit input order
    rather than rebalancing perfectly — acceptable for compaction, and
    composable with write_sorted/write_zordered when clustering is also
    wanted.  Target file count = ceil(input bytes / target_bytes), from
    the filesystem, not a row count estimate.  Returns the file count."""
    import glob as _glob
    import math
    import os as _os

    total = sum(
        _os.path.getsize(f) for f in _glob.glob(_os.path.join(path, "*.parquet"))
    )
    n = max(1, math.ceil(total / target_bytes))
    spark.read.parquet(path).coalesce(n).write.mode(mode).parquet(out)
    return n


def write_bucketed(
    df: DataFrame,
    table: str,
    num_buckets: int,
    *bucket_cols: str,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a BUCKETED parquet table: rows hash-partitioned into
    ``num_buckets`` files by ``bucket_cols``, the layout recorded in the
    catalog.  Bucketing is the write-time answer to the read-time shuffle:
    two facts bucketed on their join keys with the same bucket count
    join WITHOUT exchanging either side — at 100 TB that deletes the
    single most expensive stage of every recurring fact-to-fact join
    (orders x lineitem every night), paying the shuffle ONCE at write.

    The pre-write ``repartition(num_buckets, cols)`` aligns task
    boundaries with bucket boundaries so each task writes one file per
    bucket it owns instead of every task writing ``num_buckets`` small
    files (the classic bucketed-write file explosion).

    In-file rows are additionally sorted by the bucket columns
    (``sortBy``) so bucketed sort-merge joins can skip the per-partition
    sort when Spark trusts the recorded sort order."""
    if not bucket_cols:
        raise ValueError("write_bucketed requires at least one bucket column")
    w = (
        df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode(mode)
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read back a bucketed table through the catalog (the bucket layout
    only survives via the metastore — a raw parquet read of the same
    files would discard it and reintroduce the join shuffle)."""
    return spark.table(table)
