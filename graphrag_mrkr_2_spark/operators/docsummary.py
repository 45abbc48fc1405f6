"""T10: document classification + category propagation to chunks.

Reference:
- core/document_summarizer.py:183-320 (extract_summary) assembles the
  document content: the first ``summarization_batch_size`` (20) chunks
  joined by "\\n\\n"; content over 15000 chars truncated to the first 12000
  with a sentence-boundary trim when the last period falls after char
  10000.
- ingestion/document_processor.py:813-903 (classify_document_categories):
  LLM returns {categories, confidence, keywords, difficulty} from the first
  1200 chars.
- ingestion/document_processor.py:1508-1554: the applied category is
  categories[0] when confidence >= classification_confidence_threshold
  (0.7, settings.py:344) else classification_default_category ('general',
  settings.py:348), then propagated onto every chunk's metadata.

Spark shape (same seam pattern as T8): per-document content assembly is
pure JVM — a bounded per-doc collect_list (<= 20 rows, no skew) +
concat + the truncation rules as column expressions — and the LLM is an
injectable BATCH callable crossing to Python once per Arrow batch via
mapInPandas. The default classifier is a deterministic, network-free
stand-in; a real LLM client drops into the identical seam.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (categories, confidence, keywords, difficulty) per document content
DocClassifierFn = Callable[[list[str]], list[dict]]


def assemble_document_content(chunks: DataFrame) -> DataFrame:
    """(document_id, content): the first 20 chunks (the reference's
    summarization batch size) joined by \\n\\n, then its smart truncation
    (document_summarizer.py:248-258).

    All JVM: the per-doc collect_list is bounded by 20 rows so no
    aggregation-buffer skew; truncation is substring/instr expressions.
    """
    assembled = (
        chunks.where(F.col("chunk_index") < 20)
        .groupBy("document_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("chunk_index").alias("i"), F.col("content").alias("c"))
                        )
                    ),
                    lambda s: s["c"],
                ),
                "\n\n",
            ).alias("full_content")
        )
    )
    prefix = F.substring("full_content", 1, 12000)
    # last '.' position inside the 12000-char prefix via reverse+instr
    rev_pos = F.instr(F.reverse(prefix), ".")
    last_period = F.lit(12001) - rev_pos
    truncated = F.when(
        (rev_pos > 0) & (last_period > 10000),
        F.substring("full_content", 1, last_period.cast("int")),
    ).otherwise(prefix)
    content = F.when(F.length("full_content") > 15000, truncated).otherwise(
        F.col("full_content")
    )
    return assembled.select("document_id", content.alias("content"))


def _md5_lower64(text: str) -> int:
    """Little-endian uint64 of md5 bytes 8..16 — bit-identical to DuckDB's
    md5_number_lower, so the deterministic stand-ins below admit exact SQL
    oracles (same trick as operators/dedup.simhash_fingerprints)."""
    return int.from_bytes(
        hashlib.md5(text.encode("utf-8", "replace")).digest()[8:], "little"
    )


def _hash_pick(text: str, options: list[str]) -> str:
    return options[_md5_lower64(text) % len(options)]


def deterministic_doc_classifier(contents: list[str]) -> list[dict]:
    """LLM stand-in mirroring classify_document_categories' output contract
    (document_processor.py:813-903): first 1200 chars drive a deterministic
    category + confidence. Confidence lands in [0.5, 1.0) so fixtures can
    exercise both sides of the 0.7 gate."""
    out = []
    for c in contents:
        head = (c or "")[:1200]
        h = _md5_lower64(head)
        categories = [_hash_pick(head, ["install", "admin", "security", "api", "general"])]
        out.append(
            {
                "categories": categories,
                "confidence": 0.5 + (h % 50) / 100.0,
                "keywords": sorted({w.lower() for w in head.split()[:40] if len(w) > 6})[:6],
                "difficulty": _hash_pick(head + "d", ["beginner", "intermediate", "advanced"]),
            }
        )
    return out


_CLASSIFY_SCHEMA = (
    "document_id string, categories array<string>, confidence double, "
    "keywords array<string>, difficulty string"
)


def classify_documents(
    chunks: DataFrame,
    classifier: DocClassifierFn = deterministic_doc_classifier,
) -> DataFrame:
    """T10 classification leg → (document_id, categories, confidence,
    keywords, difficulty)."""
    docs = assemble_document_content(chunks)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            res = classifier(pdf["content"].fillna("").tolist())
            yield pd.DataFrame(
                {
                    "document_id": pdf["document_id"].values,
                    "categories": [r["categories"] for r in res],
                    "confidence": [r["confidence"] for r in res],
                    "keywords": [r["keywords"] for r in res],
                    "difficulty": [r["difficulty"] for r in res],
                }
            )

    return docs.mapInPandas(_run, _CLASSIFY_SCHEMA)


def propagate_category(chunks: DataFrame, classified: DataFrame) -> DataFrame:
    """document_processor.py:1531-1545: doc_category = categories[0] when
    confidence >= 0.7 else 'general'; joined onto every chunk as a
    ``category`` column (the reference mutates each chunk's metadata dict —
    a column IS chunk metadata here). Plain equi-join on document_id; the
    doc-level side is one row per doc, broadcastable when small."""
    doc_cat = classified.select(
        "document_id",
        F.when(
            (F.col("confidence") >= 0.7) & (F.size("categories") > 0),
            F.col("categories")[0],
        )
        .otherwise(F.lit("general"))
        .alias("category"),
    )
    out = chunks.join(doc_cat, "document_id", "left")
    return out.withColumn("category", F.coalesce("category", F.lit("general")))
