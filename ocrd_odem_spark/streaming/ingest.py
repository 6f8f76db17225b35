"""Event-time windowed aggregation over the ``events`` table shape.

``events_rollup`` counts events and sums their values per event type per
time window (q12, q31).  It runs unchanged on a static DataFrame and on a
streaming one; a streaming input gets an event-time watermark, so late
data is tolerated up to that bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def events_rollup(events: DataFrame) -> DataFrame:
    """Windowed event aggregation with late-data watermarking.

    Works identically on a static DataFrame (tests) and a streaming one
    (production): per event_type per 1-hour window, count + value sum; a
    stream tolerates events up to 2 hours late.
    """
    src = events
    if events.isStreaming:
        # event-time watermarks need TIMESTAMP (ltz); parquet often carries ntz
        src = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
            "ts", "2 hours"
        )
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
