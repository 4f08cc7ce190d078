"""ORC source path — format-parity ingestion for the events table.

Completes the typed-columnar half of the format matrix (parquet / ORC
beside the text formats whole-text / JSON-lines / CSV).  Unlike the text
feeds there is no string round-trip to get wrong: the hazard ORC parity
actually guards is type-system drift (timestamp resolution and timezone
handling differ between the parquet and ORC readers — exactly the class
of bug the nanos-vs-micros testdata encoding already hit on parquet).

Scale notes: the ORC reader supports the same predicate pushdown and
column pruning as parquet (spark.sql.orc.filterPushdown is on by
default in Spark 4), so every plan rule in SURVEY §4 carries over; the
materializer shards through Spark's own writer, so at deploy this path
IS the plan for reading an ORC lake — nothing here is test-only glue.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mapreduceimplementation_spark.sources.fixtures import _materialize_once
from mapreduceimplementation_spark.sources.tables import load_table


def materialize_events_orc(spark: SparkSession, sf_dir: str) -> str:
    """events.parquet → sharded ORC files (one-time, _SUCCESS-guarded).

    Written by Spark's own ORC writer from the loaded (ts-normalized)
    events table, so the fixture is exactly what a production ORC lake
    would hold — micro-resolution UTC timestamps, native doubles."""
    return _materialize_once(
        "mri_spark_events_orc",
        os.path.join(sf_dir, "events.parquet"),
        lambda d: load_table(spark, sf_dir, "events")
        .repartition(8)
        .write.mode("overwrite")
        .orc(d),
    )


def read_events_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events via the ORC source.

    The schema travels in the ORC footer (typed, like parquet), so no
    explicit schema or timestampFormat is needed — asserting the read
    result equals the parquet twin is the whole point of the parity
    query registered over this reader."""
    return spark.read.orc(materialize_events_orc(spark, sf_dir))
