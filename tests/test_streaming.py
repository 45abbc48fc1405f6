"""Windowed event rollups, on a batch DataFrame and as a stream."""

import pytest
from pyspark.sql import functions as F


@pytest.mark.spark
def test_windowed_event_counts_on_testdata(spark):
    from graphrag_mrkr_2_spark.streaming.ingest import windowed_event_counts

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = windowed_event_counts(events, window_duration="1 hour")
    rows = out.collect()
    assert rows
    # windows tile the hour grid and counts add up to the input size
    assert sum(r["n_events"] for r in rows) == events.count()
    assert all(r["window_end"] > r["window_start"] for r in rows)


@pytest.mark.spark
def test_windowed_counts_streaming_semantics(spark, tmp_path):
    """Same rollup executed as an actual stream (availableNow over files)
    equals the batch evaluation — complete output mode emits every window.

    The testdata ts column is TIMESTAMP_NTZ; streaming watermarks require
    TIMESTAMP, so both sides cast first (session TZ is UTC, so bucket
    boundaries are identical)."""
    from graphrag_mrkr_2_spark.streaming.ingest import windowed_event_counts

    src = "/root/testdata/sf0.001/events.parquet"
    events = spark.read.parquet(src).withColumn("ts", F.col("ts").cast("timestamp"))
    batch = {
        (r["window_start"], r["event_type"], r["n_events"])
        for r in windowed_event_counts(events, window_duration="1 hour").collect()
    }

    # the file stream source requires a directory; re-write the events into
    # several files so availableNow produces multiple micro-batches
    stream_dir = str(tmp_path / "events")
    spark.read.parquet(src).repartition(3).write.mode("overwrite").parquet(stream_dir)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        windowed_event_counts(stream, window_duration="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["window_start"], r["event_type"], r["n_events"])
        for r in spark.sql("select * from win_counts").collect()
    }
    assert got == batch and got
