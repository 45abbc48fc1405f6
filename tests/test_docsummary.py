"""T10: document content assembly, classification seam + category propagation."""

import pytest
from pyspark.sql import functions as F

from graphrag_mrkr_2_spark.operators.docsummary import (
    assemble_document_content,
    classify_documents,
    propagate_category,
)


@pytest.fixture(scope="module")
def chunks_df(spark):
    rows = []
    for d in range(3):
        for i in range(25):  # > batch_size=20 to exercise the cap
            rows.append((f"doc{d}", i, f"Doc {d} chunk {i}. Content sentence for unit {i}."))
    return spark.createDataFrame(rows, "document_id string, chunk_index int, content string")


@pytest.mark.spark
def test_assembly_caps_at_batch_size(chunks_df):
    docs = {r["document_id"]: r["content"] for r in assemble_document_content(chunks_df).collect()}
    assert len(docs) == 3
    # only the first 20 chunks in index order (document_summarizer.py:210-215)
    assert docs["doc1"].startswith("Doc 1 chunk 0.")
    assert "chunk 19." in docs["doc1"] and "chunk 20." not in docs["doc1"]
    assert docs["doc1"].count("\n\n") == 19


@pytest.mark.spark
def test_smart_truncation_sentence_boundary(spark):
    """>15000 chars -> first 12000, trimmed at the last period past char
    10000 (document_summarizer.py:248-258)."""
    long_text = ("word " * 2200) + ". " + ("tail " * 1600)  # ~19k chars, one period ~11k
    df = spark.createDataFrame(
        [("d", 0, long_text)], "document_id string, chunk_index int, content string"
    )
    content = assemble_document_content(df).collect()[0]["content"]
    assert len(content) <= 12000
    assert content.endswith(".")  # trimmed at the period, inclusive
    period_pos = long_text.index(".") + 1
    assert len(content) == period_pos


@pytest.mark.spark
def test_category_propagation_gate(spark, chunks_df):
    """document_processor.py:1531-1545: category applies only at
    confidence >= 0.7, otherwise the default — and every chunk of a doc
    gets its doc's category."""

    def fixed_classifier(contents):
        out = []
        for c in contents:
            if "Doc 0" in c:
                out.append({"categories": ["security"], "confidence": 0.9,
                            "keywords": [], "difficulty": "beginner"})
            elif "Doc 1" in c:
                out.append({"categories": ["api"], "confidence": 0.3,
                            "keywords": [], "difficulty": "beginner"})
            else:
                out.append({"categories": [], "confidence": 0.99,
                            "keywords": [], "difficulty": "beginner"})
        return out

    classified = classify_documents(chunks_df, classifier=fixed_classifier)
    tagged = propagate_category(chunks_df, classified)
    per_doc = {
        r["document_id"]: set(r["cats"])
        for r in tagged.groupBy("document_id")
        .agg(F.collect_set("category").alias("cats"))
        .collect()
    }
    assert per_doc["doc0"] == {"security"}  # confident -> applied to ALL chunks
    assert per_doc["doc1"] == {"general"}  # low confidence -> default
    assert per_doc["doc2"] == {"general"}  # empty categories -> default
    assert tagged.count() == chunks_df.count()
