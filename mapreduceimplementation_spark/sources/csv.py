"""CSV source path — format-parity ingestion for the events table.

Completes the format matrix (parquet / whole-text / JSON-lines / CSV):
the same scale rules as the JSON path — explicit schema (inference is an
extra full pass), explicit timestampFormat, FAILFAST so malformed rows
fail loudly — plus the CSV-specific hazards handled explicitly: a header
row per shard, quoting for the free-text props column (it contains
commas and quotes), and escape doubling.
"""

from __future__ import annotations

import csv as _csv
import os

from pyspark.sql import DataFrame, SparkSession

from mapreduceimplementation_spark.sources.fixtures import _materialize_once
from mapreduceimplementation_spark.sources.jsonl import EVENTS_SCHEMA, _TS_FMT


def materialize_events_csv(sf_dir: str) -> str:
    """events.parquet → sharded events .csv files (one-time, marker-guarded).

    Timestamps as 'YYYY-MM-DD HH:MM:SS.ffffff', doubles via repr (shortest
    round-trip), QUOTE_MINIMAL with doubled quotes — value-exact against
    the parquet twin."""
    src = os.path.join(sf_dir, "events.parquet")

    def write(d: str) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(src)
        cols = t.column_names
        rows = t.to_pylist()
        n_shards = 8
        outs = []
        writers = []
        for i in range(n_shards):
            f = open(os.path.join(d, f"events-{i:02d}.csv"), "w", newline="")
            w = _csv.writer(f, quoting=_csv.QUOTE_MINIMAL, doublequote=True)
            w.writerow(cols)
            outs.append(f)
            writers.append(w)
        try:
            for i, row in enumerate(rows):
                rec = []
                for c in cols:
                    v = row[c]
                    if c == "ts" and v is not None:
                        v = v.strftime("%Y-%m-%d %H:%M:%S.%f")
                    elif isinstance(v, float):
                        v = repr(v)
                    rec.append(v)
                writers[i % n_shards].writerow(rec)
        finally:
            for f in outs:
                f.close()

    return _materialize_once("mri_spark_events_csv", src, write)


def read_events_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events via the CSV source with an explicit schema + header.

    multiLine=true: the free-text props column may legally contain quoted
    embedded newlines; without it Spark splits records at every newline
    and FAILFAST throws on the half-records.  multiLine disables
    intra-file input splitting, so parallelism then comes from the file
    count — which the sharded writer provides (and any real feed should:
    many medium files beat one giant CSV for exactly this reason)."""
    d = materialize_events_csv(sf_dir)
    return (
        spark.read.schema(EVENTS_SCHEMA)
        .option("header", "true")
        .option("timestampFormat", _TS_FMT)
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", "true")
        .option("mode", "FAILFAST")
        # read the DIRECTORY, not a glob: Spark's listing already skips
        # underscore-prefixed files (the _SUCCESS marker), and a glob path
        # makes FileStreamSink.hasMetadata log a spurious "Error while
        # looking for metadata directory" WARN on every first read
        .csv(d)
    )
