"""Windowed event-stream aggregation (watermark + tumbling window).

The standard late-data-tolerant telemetry rollup a crawl pipeline needs
(pages/sec per host, filter-reason rates), run by the driver's
events_windowed query on the testdata ``events`` schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 minute",
) -> DataFrame:
    """Late-data-tolerant tumbling-window rollup of (ts, event_type, value)
    events, with a 2-minute watermark on streams (works on batch DFs too —
    Spark evaluates window()/watermark identically, which is how the tests
    pin semantics without a live stream)."""
    df = events.withWatermark("ts", "2 minutes") if events.isStreaming else events
    return (
        df.groupBy(F.window(F.col("ts"), window_duration).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
