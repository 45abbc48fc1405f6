"""Gap-based event sessionization as windows + a running sum.

Not in the reference (its ingest is document-oriented); the driver's
events_sessions query runs it and checks it against a DuckDB oracle.

Semantics: per user, events ordered by timestamp belong to one session
until the inter-event gap exceeds ``gap_seconds``; a session reports
(user_id, session_start, session_end, n_events, total_value).

Scale shape (batch): one hash exchange by user_id feeds both the
lag/cumsum windows and the final (user, session) aggregation; all
expressions codegen. 10^12 events partition cleanly by user — the classic
skew case (one bot user) is bounded because a session row is O(1) and the
window never materializes the user's events in one buffer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEFAULT_GAP_SECONDS = 6 * 3600


def sessionize_events(events: DataFrame, gap_seconds: int = DEFAULT_GAP_SECONDS) -> DataFrame:
    """Batch sessionization of (user_id, ts, value) events: lag-gap flag →
    running session index → groupBy.

    The gap compares FULL-precision timestamps (timestamp_diff in exact
    integer microseconds; works on TIMESTAMP and TIMESTAMP_NTZ alike with no
    timezone round-trip) — unix_timestamp() truncates to whole seconds and
    would sessionize sub-second boundary straddlers differently from a
    fractional-epoch oracle (ADVICE r2)."""
    w = Window.partitionBy("user_id").orderBy("ts")
    prev_ts = F.lag("ts").over(w)
    gap_us = int(gap_seconds * 1_000_000)
    new_session = F.when(
        prev_ts.isNull()
        | (F.timestamp_diff("MICROSECOND", prev_ts, F.col("ts")) > gap_us),
        F.lit(1),
    ).otherwise(F.lit(0))
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_idx = events.withColumn("__new", new_session).withColumn(
        "__sidx", F.sum("__new").over(w_run)
    )
    return (
        with_idx.groupBy("user_id", "__sidx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .drop("__sidx")
    )
