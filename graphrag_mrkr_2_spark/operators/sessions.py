"""Gap-based event sessionization — batch and custom-stateful streaming.

Not in the reference (its ingest is document-oriented); this is the
task-brief "custom stateful operator" exercised through Structured
Streaming's applyInPandasWithState, with the batch twin expressible as
windows + a running sum (and therefore DuckDB-oracle-checkable by the
driver: events_sessions).

Semantics: per user, events ordered by timestamp belong to one session
until the inter-event gap exceeds ``gap_seconds``; a session reports
(user_id, session_start, session_end, n_events, total_value).

Scale shape (batch): one hash exchange by user_id feeds both the
lag/cumsum windows and the final (user, session) aggregation; all
expressions codegen. 10^12 events partition cleanly by user — the classic
skew case (one bot user) is bounded because a session row is O(1) and the
window never materializes the user's events in one buffer.

Scale shape (streaming): state per user is ONE open-session tuple
(constant size); closed sessions emit as soon as the closing event
arrives. Late/out-of-order data within a micro-batch is handled by
sorting the batch; cross-batch reordering follows the source's watermark
discipline (the file-source tests feed batches in timestamp order).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.sql.window import Window

DEFAULT_GAP_SECONDS = 6 * 3600


def sessionize_events(events: DataFrame, gap_seconds: int = DEFAULT_GAP_SECONDS) -> DataFrame:
    """Batch sessionization of (user_id, ts, value) events: lag-gap flag →
    running session index → groupBy.

    The gap compares FULL-precision timestamps (timestamp_diff in exact
    integer microseconds; works on TIMESTAMP and TIMESTAMP_NTZ alike with no
    timezone round-trip) — unix_timestamp() truncates to whole seconds and
    would sessionize sub-second boundary straddlers differently from the
    streaming twin's (ts - last).total_seconds() and from a fractional-epoch
    oracle (ADVICE r2)."""
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


_SESSION_OUT = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("session_start", TimestampType(), False),
        StructField("session_end", TimestampType(), False),
        StructField("n_events", LongType(), False),
        StructField("total_value", DoubleType(), False),
    ]
)

# open-session state: native timestamps so closed sessions reproduce the
# batch twin's boundaries EXACTLY (a float-epoch round trip can drift by
# sub-microsecond and break set-equality with batch results)
_SESSION_STATE = StructType(
    [
        StructField("session_start", TimestampType(), False),
        StructField("last_ts", TimestampType(), False),
        StructField("n_events", LongType(), False),
        StructField("total_value", DoubleType(), False),
    ]
)


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Streaming sessionization of (user_id, ts, value) events via
    applyInPandasWithState, at a gap of ``DEFAULT_GAP_SECONDS``.

    Emits a session row when a later event CLOSES it (gap exceeded), i.e.
    exactly the sessions the batch twin reports minus each user's final
    (still-open) session — the natural append-mode contract; the open tail
    lives in per-user state (one constant-size tuple) until more data or a
    state timeout policy flushes it.
    """
    # bound here, on the driver: the UDF closure carries the value to workers
    gap_seconds = DEFAULT_GAP_SECONDS

    def _update(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (user,) = key
        batches = [p for p in pdfs if len(p)]
        if not batches:
            return
        rows = pd.concat(batches, ignore_index=True).sort_values("ts")
        if state.exists:
            start, last, n, total = state.get
            start, last = pd.Timestamp(start), pd.Timestamp(last)
        else:
            start = last = None
            n, total = 0, 0.0

        closed = []
        for ts, val in zip(rows["ts"], rows["value"]):
            ts = pd.Timestamp(ts)
            if last is not None and (ts - last).total_seconds() > gap_seconds:
                closed.append((user, start, last, n, total))
                start, n, total = ts, 0, 0.0
            if start is None:
                start = ts
            last = ts
            n += 1
            total += float(val)

        state.update((start.to_pydatetime(), last.to_pydatetime(), n, total))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=[
                    "user_id",
                    "session_start",
                    "session_end",
                    "n_events",
                    "total_value",
                ],
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=_SESSION_OUT,
        stateStructType=_SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
