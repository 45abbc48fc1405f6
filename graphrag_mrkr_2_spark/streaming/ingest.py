"""Structured Streaming ingestion: continuous KG construction.

The reference ingests per-uploaded-document with a background thread pool
(SURVEY §3.1) — i.e. micro-batched arrival. The Spark-native equivalent is a
file-source stream over the pages table directory: every new parquet file of
crawled pages flows through the SAME chunk→extract→canonicalize operators
(mapInPandas works identically on streaming DataFrames). Each
``foreachBatch`` commits its per-document tables as snapshots, and
compaction merges them with the batch build's global groupBys.

Also provides windowed event-stream aggregation (watermark + tumbling
window) over an events-shaped stream — the standard late-data-tolerant
telemetry rollup a crawl pipeline needs (pages/sec per host, filter-reason
rates), demonstrated on the testdata ``events`` schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG
from ..sources.pages import PAGES_SCHEMA


def stream_pages(spark: SparkSession, pages_dir: str) -> DataFrame:
    """File-source stream over an append-only pages parquet directory, at
    most 4 files per trigger."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(pages_dir)
    )


def streaming_mentions(pages_stream: DataFrame) -> DataFrame:
    """chunk → filter → extract on a streaming DataFrame — the same fused
    mapInPandas stage as batch (stateless per-row transforms stream without
    watermarks; one Arrow crossing per page). It returns UNIFIED_SCHEMA
    rows: the mentions plus one kind='chunk' row per kept chunk, which
    ``canonicalize`` skips because it selects rows by ``kind``."""
    from ..operators.triples import extract_mentions_fused

    cfg = DEFAULT_CONFIG
    return extract_mentions_fused(
        pages_stream,
        strategy="html_heading",
        chunk_cfg=cfg.chunking,
        filter_cfg=cfg.content_filter,
        max_gleanings=cfg.extraction.max_gleanings,
    )


def start_kg_stream(
    spark: SparkSession,
    pages_dir: str,
    catalog_root: str,
    checkpoint_dir: str,
):
    """Continuous KG construction: each micro-batch canonicalizes its own
    mentions and appends its per-document ``entities_doc``/``rels_doc`` to
    the snapshot catalog. canonicalize only groups within a document, so
    while every document arrives in one micro-batch these are exactly the
    batch build's rows; ``compact_stream_batches`` runs the global merge."""
    from ..operators.triples import canonicalize
    from ..sources.catalog import SnapshotCatalog

    mentions = streaming_mentions(stream_pages(spark, pages_dir))
    cat = SnapshotCatalog(spark, catalog_root)

    def _process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        tables = canonicalize(
            batch_df,
            importance_threshold=DEFAULT_CONFIG.extraction.importance_score_threshold,
            strength_threshold=DEFAULT_CONFIG.extraction.strength_threshold,
        )
        for name, df in zip(("entities_doc", "rels_doc"), tables):
            cat.write(
                f"{name}_batches/batch-{batch_id:06d}",
                df,
                input_fingerprint=f"stream-batch-{batch_id}",
            )

    return (
        mentions.writeStream.foreachBatch(_process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_stream_batches(spark: SparkSession, catalog_root: str) -> dict[str, DataFrame]:
    """Global nodes/edges/triples over every committed micro-batch: the
    batch pipeline's build_nodes/build_edges/build_triples over the union
    of the per-batch ``entities_doc``/``rels_doc``, so the merge is the
    batch merge (no average of per-batch averages)."""
    import os

    from ..operators.triples import build_edges, build_nodes, build_triples
    from ..sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, catalog_root)

    def _union(prefix: str) -> DataFrame:
        base = os.path.join(catalog_root, prefix)
        out = None
        for b in sorted(os.listdir(base)):
            df = cat.read(f"{prefix}/{b}")
            out = df if out is None else out.unionByName(df)
        return out

    edges = build_edges(_union("rels_doc_batches"))
    return {
        "nodes": build_nodes(_union("entities_doc_batches")),
        "edges": edges,
        "triples": build_triples(edges),
    }


# ---------------------------------------------------------------------------
# windowed event aggregation (watermark + tumbling window)
# ---------------------------------------------------------------------------


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
