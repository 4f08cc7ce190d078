"""D8: stream-static enrichment join — the third streaming join shape.

D4 covers stream-stream; this covers the other production staple: a
live event stream joined against a STATIC profile/dimension table, then
windowed-aggregated per enriched attribute.  In Spark the static side of
a stream-static equi-join is re-resolved per microbatch with no state
kept for it — the stream is never buffered for the join (stateless), and
only the downstream aggregation holds watermarked state.

The profile here is derived from the same events table (per-user
activity tier) purely so the oracle is self-contained; in production it
is any dimension table (users, devices, geo).  The join key is user_id;
at scale the static side is broadcast when bounded or shuffled once per
microbatch by AQE — either way the stream side's state is zero.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceimplementation_spark.functions.stable import dsum, sql_dsum
from mapreduceimplementation_spark.registry import register
from mapreduceimplementation_spark.sources.tables import load_table
from mapreduceimplementation_spark.streaming.windowed import (
    _events_stream,
    run_to_memory,
)

_TIER_MIN_EVENTS = 67  # ~median per-user event count at sf0.01
_SINK = "d8_enriched_sink"


def user_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static profile: per-user activity tier from the batch events table."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    return ev.groupBy("user_id").agg(
        F.when(F.count(F.lit(1)) >= _TIER_MIN_EVENTS, "heavy")
        .otherwise("light")
        .alias("tier")
    )


def run_enriched_stream(
    spark: SparkSession, path: str, sf_dir: str, sink: str = _SINK, **options
) -> DataFrame:
    ev = _events_stream(spark, path, **options)
    prof = user_tiers(spark, sf_dir)
    enriched = ev.join(prof, "user_id")  # stream-static: stateless, no watermark
    agg = (
        enriched.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 day").alias("win"), "tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(F.col("win.start").alias("day"), "tier", "n_events", "total_value")
    )
    return run_to_memory(spark, agg, sink, "complete")


@register(
    "streaming_enriched_counts",
    oracle=f"""
    WITH prof AS (
        SELECT user_id,
               CASE WHEN count(*) >= {_TIER_MIN_EVENTS}
                    THEN 'heavy' ELSE 'light' END AS tier
        FROM events GROUP BY user_id
    )
    SELECT date_trunc('day', ts) AS day, tier,
           count(*) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM events JOIN prof USING (user_id)
    GROUP BY 1, 2
    """,
)
def streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily windowed counts per user activity tier, with the tier joined
    onto the stream from a static profile table (stream-static join) —
    complete mode + availableNow, so the result equals the batch
    join+rollup exactly (the oracle runs that batch twin)."""
    return run_enriched_stream(
        spark, os.path.join(sf_dir, "events.parquet"), sf_dir
    )
