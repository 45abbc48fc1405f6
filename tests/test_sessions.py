"""Gap sessionization as windows + a running sum."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from graphrag_mrkr_2_spark.operators.sessions import sessionize_events

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _evt(user, minutes, value):
    return (user, T0 + dt.timedelta(minutes=minutes), float(value))


@pytest.fixture(scope="module")
def small_events(spark):
    rows = [
        # user 1: two sessions split by a 120-min gap (gap=3600s => 60 min)
        _evt(1, 0, 1.0),
        _evt(1, 10, 2.0),
        _evt(1, 20, 3.0),
        _evt(1, 140, 4.0),
        _evt(1, 150, 5.0),
        # user 2: one session only
        _evt(2, 5, 10.0),
        _evt(2, 15, 10.0),
        # user 3: three singleton sessions
        _evt(3, 0, 1.0),
        _evt(3, 200, 1.0),
        _evt(3, 400, 1.0),
    ]
    return spark.createDataFrame(rows, "user_id long, ts timestamp, value double")


@pytest.mark.spark
def test_batch_sessionization(small_events):
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["total_value"])
        for r in sessionize_events(small_events, gap_seconds=3600).collect()
    }
    m = dt.timedelta(minutes=1)
    assert got == {
        (1, T0, T0 + 20 * m, 3, 6.0),
        (1, T0 + 140 * m, T0 + 150 * m, 2, 9.0),
        (2, T0 + 5 * m, T0 + 15 * m, 2, 20.0),
        (3, T0, T0, 1, 1.0),
        (3, T0 + 200 * m, T0 + 200 * m, 1, 1.0),
        (3, T0 + 400 * m, T0 + 400 * m, 1, 1.0),
    }


@pytest.mark.spark
def test_subsecond_gap_boundary(spark):
    """ADVICE r2: whole-second unix_timestamp() under-splits when the true
    gap exceeds the threshold by a sub-second amount (10.8s > 10s but
    floor-second delta == 10). Full-precision micros must split — matching
    the streaming twin's (ts - last).total_seconds() comparison."""
    rows = [
        (1, T0 + dt.timedelta(seconds=0.100), 1.0),
        (1, T0 + dt.timedelta(seconds=10.900), 2.0),  # 10.8s > gap=10s
        (2, T0 + dt.timedelta(seconds=0.900), 1.0),
        (2, T0 + dt.timedelta(seconds=10.800), 2.0),  # 9.9s <= gap: same session
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = sessionize_events(df, gap_seconds=10)
    n = {r["user_id"]: r["n"] for r in got.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert n == {1: 2, 2: 1}
