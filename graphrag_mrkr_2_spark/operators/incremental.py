"""J5: incremental update diff — the resume/idempotency primitive.

Reference (ingestion/document_processor.py:1970-2078 + graph_db.py:2563-2579):
re-chunk the new version, compare per-document content_hash sets:
  unchanged = old ∩ new      (keep; skip embedding/extraction)
  removed   = old − new      (delete + entity cleanup)
  added     = new − old      (embed + extract only these)

Spark shape: two anti-joins + one semi-join on (document_id, content_hash) —
partition-pruned when chunk tables are written partitioned by a url-hash
bucket, so an incremental run touches only the partitions of re-crawled
documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_KEY = ["document_id", "content_hash"]


def diff_chunks(old_chunks: DataFrame, new_chunks: DataFrame) -> dict[str, DataFrame]:
    """Returns {'unchanged', 'added', 'removed'} chunk DataFrames."""
    return {
        "unchanged": new_chunks.join(old_chunks.select(*_KEY).distinct(), _KEY, "leftsemi"),
        "added": new_chunks.join(old_chunks.select(*_KEY).distinct(), _KEY, "left_anti"),
        "removed": old_chunks.join(new_chunks.select(*_KEY).distinct(), _KEY, "left_anti"),
    }


def diff_counts(old_chunks: DataFrame, new_chunks: DataFrame) -> DataFrame:
    """Per-document diff histogram (the processor's update metrics)."""
    d = diff_chunks(old_chunks, new_chunks)
    parts = [
        d[name].groupBy("document_id").agg(F.count(F.lit(1)).alias("n")).withColumn("state", F.lit(name))
        for name in ("unchanged", "added", "removed")
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("document_id", "state", "n")
