"""SparkSession factory, runtime tuning, and scoped conf changes.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same configs are the
ones we'd set on a 1000-executor cluster (AQE, partial agg, Arrow), with
``spark.sql.shuffle.partitions`` scaled to cluster cores at deploy time.

This is the only module that writes session confs.  ``registry.register``
applies ``tune()`` once on entry to every query, so a session built
elsewhere gets the same confs as one from ``get_spark``.  Anything
that needs a different value for part of a query (the streaming
shuffle-partition cap, no-data-batch skip and checkpoint file manager,
a sink's timestamp encoding) takes it through ``scoped_conf``, which
puts the session back exactly as it found it — no query leaves state
behind for the next one.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Runtime-settable SQL confs, applied on entry to every registered query
# because a caller may hand us a session it built itself.
_RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 32 matches local[32]; on a real cluster set ~2-3x total cores.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # Spark's vectorized reader rejects TIMESTAMP(NANOS) parquet columns;
    # this surfaces them as long nanos, which the events loaders
    # (sources/tables.py, streaming/windowed.py) convert to micros.  It
    # must hold while a plan EXECUTES, not just while it is built.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime SQL confs to an existing session (idempotent)."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked in this deployment; keep going
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, conf: Mapping[str, str]) -> Iterator[None]:
    """Set ``conf`` for the duration of the block, then restore each key
    to its exact previous state: its old value if the session had one
    set, otherwise unset (so a Spark default is not pinned as an
    explicit setting).  Not for blocks that start other streams — a
    concurrently started query would inherit the scoped values."""
    was_set = spark.conf.getAll
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k in conf:
            if k in was_set:
                spark.conf.set(k, was_set[k])
            else:
                spark.conf.unset(k)


def spread(df, spark: SparkSession):
    """Ensure a compute-heavy per-row stage runs with full parallelism.

    Local test files are single-partition parquet, which would serialize
    expensive row-local work (shingling/hashing via higher-order functions
    is interpreted, not codegen'd) onto one core.  On a real cluster a
    100 TB scan already has thousands of splits, so this guard never fires
    and no corpus-sized shuffle is added.
    """
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def get_spark(app_name: str = "mapreduceimplementation-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
