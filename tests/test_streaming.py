"""Structured Streaming: continuous KG ingest + windowed event rollups.

The streaming KG test asserts the STREAM ≡ BATCH invariant: running the
pipeline as availableNow micro-batches over the same pages produces the same
nodes, edges and (subj, pred, obj) set as the batch pipeline.
"""

import pytest
from pyspark.sql import functions as F


def _row_set(df) -> set:
    """Rows as hashable tuples by column name; doubles rounded to 9
    decimals (a sum or mean of doubles may differ in its last bits when
    the addition order changes)."""

    def norm(v):
        if isinstance(v, float):
            return round(v, 9)
        return tuple(v) if isinstance(v, list) else v

    return {tuple(sorted((k, norm(v)) for k, v in r.asDict().items())) for r in df.collect()}


@pytest.mark.spark
def test_streaming_matches_batch_triples(spark, tmp_path):
    import os

    from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
    from graphrag_mrkr_2_spark.sources.pages import generate_pages
    from graphrag_mrkr_2_spark.streaming.ingest import (
        compact_stream_batches,
        start_kg_stream,
    )

    pages_dir = str(tmp_path / "pages")
    # 12 files at the default maxFilesPerTrigger=4 → 3 micro-batches
    generate_pages(spark, 24, partitions=12).write.mode("overwrite").parquet(pages_dir)

    batch = run_kg_pipeline(spark.read.parquet(pages_dir), num_partitions=4)

    q = start_kg_stream(
        spark,
        pages_dir,
        catalog_root=str(tmp_path / "cat"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    assert len(os.listdir(tmp_path / "cat" / "entities_doc_batches")) >= 2

    compacted = compact_stream_batches(spark, str(tmp_path / "cat"))
    stream_triples = _row_set(compacted["triples"])
    assert stream_triples == _row_set(batch.triples)
    assert stream_triples
    assert _row_set(compacted["nodes"]) == _row_set(batch.nodes)
    assert _row_set(compacted["edges"]) == _row_set(batch.edges)


@pytest.mark.spark
def test_compaction_is_the_batch_merge(spark, tmp_path):
    """Two hand-written micro-batches of unequal document counts: entity X
    has importance 0.4 in the 1-document batch and 0.8 in each document of
    the 3-document batch. The compacted node averages over documents
    (0.7), as the batch build does, not over batch averages (0.6)."""
    from graphrag_mrkr_2_spark.operators.triples import build_edges, build_nodes
    from graphrag_mrkr_2_spark.sources.catalog import SnapshotCatalog
    from graphrag_mrkr_2_spark.streaming.ingest import compact_stream_batches

    ent_schema = (
        "document_id string, name string, type string, description string, "
        "importance_score double, source_chunks array<string>, "
        "mention_count bigint, is_orphan boolean"
    )
    rel_schema = (
        "document_id string, source_entity string, target_entity string, "
        "relationship_type string, strength double, description string, "
        "source_chunks array<string>, mention_count bigint"
    )

    def ent(doc, name, importance):
        return (doc, name, "CONCEPT", f"{name} in {doc}", importance, [f"{doc}_c0"], 1, False)

    def rel(doc):
        return (doc, "X", "Y", "USES", 0.5, "x uses y", [f"{doc}_c0"], 1)

    # document -> X's importance, one dict per micro-batch
    batches = [{"d0": 0.4}, {"d1": 0.8, "d2": 0.8, "d3": 0.8}]
    root = str(tmp_path / "cat")
    cat = SnapshotCatalog(spark, root)
    ents_all, rels_all = [], []
    for i, importance in enumerate(batches):
        ents = [ent(d, "X", x) for d, x in importance.items()]
        ents += [ent(d, "Y", 0.5) for d in importance]
        rels = [rel(d) for d in importance]
        ents_all += ents
        rels_all += rels
        cat.write(f"entities_doc_batches/batch-{i:06d}", spark.createDataFrame(ents, ent_schema))
        cat.write(f"rels_doc_batches/batch-{i:06d}", spark.createDataFrame(rels, rel_schema))

    compacted = compact_stream_batches(spark, root)
    nodes = {r["name"]: r for r in compacted["nodes"].collect()}
    assert nodes["X"]["importance_score"] == pytest.approx(0.7)
    assert nodes["X"]["doc_count"] == 4
    assert nodes["X"]["source_chunks"] == [f"d{i}_c0" for i in range(4)]

    batch_nodes = build_nodes(spark.createDataFrame(ents_all, ent_schema))
    batch_edges = build_edges(spark.createDataFrame(rels_all, rel_schema))
    assert _row_set(compacted["nodes"]) == _row_set(batch_nodes)
    assert _row_set(compacted["edges"]) == _row_set(batch_edges)
    (edge,) = compacted["edges"].collect()
    assert edge["strength"] == pytest.approx(2.0) and edge["doc_count"] == 4


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
