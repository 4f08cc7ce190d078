"""JSON-lines source path — format-parity ingestion for the events table.

The driver testdata ships parquet only; real event feeds are commonly
JSON lines.  This materializes the events table as .jsonl once
(driver-side, marker-guarded, exact value round-trip) so the JSON read
path can be exercised and oracle-checked against the parquet twin.

Scale rules the reader enforces: explicit schema (schema inference is a
full extra pass over 100 TB), explicit timestampFormat (no per-row format
guessing), permissive-mode corruption column omitted deliberately so bad
records fail loudly in tests.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from mapreduceimplementation_spark.sources.fixtures import _materialize_once

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def materialize_events_jsonl(sf_dir: str) -> str:
    """events.parquet → events .jsonl files (one-time, marker-guarded).

    Timestamps are written as 'YYYY-MM-DD HH:MM:SS.ffffff' strings and
    doubles via json's shortest-round-trip repr, so the JSON read is
    bit-identical to the parquet read."""
    src = os.path.join(sf_dir, "events.parquet")

    def write(d: str) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(src)
        cols = t.column_names
        rows = t.to_pylist()
        # 8 shards so the local read parallelizes like a multi-file feed would
        n_shards = 8
        outs = [
            open(os.path.join(d, f"events-{i:02d}.jsonl"), "w")
            for i in range(n_shards)
        ]
        try:
            for i, row in enumerate(rows):
                rec = {}
                for c in cols:
                    v = row[c]
                    if c == "ts" and v is not None:
                        v = v.strftime("%Y-%m-%d %H:%M:%S.%f")
                    rec[c] = v
                outs[i % n_shards].write(json.dumps(rec) + "\n")
        finally:
            for f in outs:
                f.close()

    return _materialize_once("mri_spark_events_jsonl", src, write)


def read_events_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events via the JSON-lines source with an explicit schema."""
    d = materialize_events_jsonl(sf_dir)
    return (
        spark.read.schema(EVENTS_SCHEMA)
        .option("timestampFormat", _TS_FMT)
        .option("mode", "FAILFAST")
        # directory, not glob: listing skips the _SUCCESS marker anyway,
        # and a glob path trips FileStreamSink's metadata-probe WARN
        .json(d)
    )
