"""Parquet table sources for the driver-generated star schema.

Columnar parquet scans give Catalyst predicate pushdown + column pruning for
free — every operator should select only the columns it needs so ReadSchema
stays narrow at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions that stay small at any scale factor (TPC-H fixes region=5,
# nation=25) — always safe to broadcast.
BOUNDED_DIMS = frozenset({"region", "nation"})


#: (applicationId, path, mtime_ns, size) -> unexecuted scan PLAN.
#: Memoizing the DataFrame skips the per-call file listing + parquet
#: footer read on the driver (tens of ms, times a few hundred
#: load_table calls per bench run).  This is PLAN reuse, not result
#: caching: nothing is persisted or .cache()d — every action on the
#: returned frame still scans the parquet from disk.  The key carries
#: the path's stat so a REWRITTEN fixture (same path, new files — the
#: oracle-fuzz suite does this) misses the memo instead of reading
#: deleted part files; an unstattable path skips the memo entirely and
#: lets Spark raise its own error.
_PLAN_CACHE: dict[tuple, DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        key = (
            spark.sparkContext.applicationId,
            path,
            st.st_mtime_ns,
            st.st_size,
        )
    except OSError:
        key = None
    if key is not None:
        cached = _PLAN_CACHE.get(key)
        if cached is not None:
            return cached
    df = spark.read.parquet(path)
    if name == "events":
        df = _normalize_events_ts(df)
    if key is not None:
        _PLAN_CACHE[key] = df
    return df


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """events.ts arrives in whichever parquet timestamp encoding the data
    generator used: TIMESTAMP(NANOS) (rejected by Spark's vectorized
    reader — surfaced as long under nanosAsLong), TIMESTAMP(MICROS)
    isAdjustedToUTC=false (reads as TIMESTAMP_NTZ), or UTC-adjusted
    micros (reads as TIMESTAMP already).  Normalize all three to
    session-tz TIMESTAMP micros — the value DuckDB's micro-resolution
    TIMESTAMP oracle sees.  The nanosAsLong conf comes from session.tune.
    Batch and stream readers of events both go through here."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        # session tz is UTC (session.tune), so the cast is lossless
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}
