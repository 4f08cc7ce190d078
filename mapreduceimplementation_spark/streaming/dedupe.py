"""D3: streaming exact deduplication (Structured Streaming dropDuplicates).

The streaming twin of the C1 exact-dedup idea: emit each (user_id,
event_type, day) key the first time it is seen, suppress later
duplicates.  This is the canonical "have I processed this record
already" operator of a continuously-ingesting training-data pipeline
(the reference's no-duplicate-task-effects property — jobcount.go /
crash.go — expressed over the data instead of the scheduler).

Scale design: the dedup key CONTAINS the event-time column (`day`,
date_trunc of ts declared via withWatermark), so Spark's state store
evicts key state older than the watermark instead of growing forever —
the only shape that survives an unbounded stream.  Output is the key
columns only, which makes the result independent of arrival order
(WHICH duplicate wins never matters), so the availableNow run equals
batch SELECT DISTINCT exactly and the driver's full hash gate applies.

Reference anchor: src/mrapps/jobcount.go (duplicate-execution detector)
and src/mr/coordinator.go's task re-issue — at-least-once upstream +
this operator = exactly-once visible output.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceimplementation_spark.registry import register
from mapreduceimplementation_spark.streaming.windowed import (
    _events_stream,
    run_to_memory,
)

_SINK = "d3_dedup_sink"


def run_dedup_stream(
    spark: SparkSession, path: str, sink: str = _SINK, **source_options
) -> DataFrame:
    """Run the streaming dedup over `path` to completion; return the
    distinct-key table from the memory sink."""
    ev = _events_stream(spark, path, **source_options).select(
        "user_id", "event_type", F.date_trunc("day", "ts").alias("day")
    )
    deduped = (
        ev.withWatermark("day", "2 days")
        .dropDuplicates(["user_id", "event_type", "day"])
    )
    # dropDuplicates emits each first-seen key eagerly; the trailing
    # no-data batch would only evict expired key state — skipped.
    return run_to_memory(spark, deduped, sink, "append", skip_no_data_batch=True)


@register(
    "streaming_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type, date_trunc('day', ts) AS day
    FROM events
    """,
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen-wins streaming dedup on (user_id, event_type, day) with
    watermark-bounded state; equals batch DISTINCT (full hash gate)."""
    return run_dedup_stream(spark, os.path.join(sf_dir, "events.parquet"))
