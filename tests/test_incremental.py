"""F7 incremental-update diff: unchanged/added/removed by content_hash."""

import pytest

from graphrag_mrkr_2_spark.functions.chunking import chunk_document
from graphrag_mrkr_2_spark.operators.incremental import diff_chunks

# each section body exceeds the 80-char chunk_size so the recursive splitter
# chunks it independently of neighboring sections (boundary shifts in one
# section must not cascade into the others)
_A = "Alpha content stays byte identical across both of the versions here and it keeps going for a while longer."
_B1 = "Bravo original body that only exists in the first version of this document and nowhere else at all really."
_B2 = "Bravo rewritten completely for version two instead, with entirely different words than before in every way."
_C = "Charlie content also byte identical in both versions of the document and padded to exceed the chunk size."
_D = "Delta appended brand new section that only shows up in version two of this document as fresh added content."

V1 = f"## Section A\n\n{_A}\n\n## Section B\n\n{_B1}\n\n## Section C\n\n{_C}\n"
V2 = f"## Section A\n\n{_A}\n\n## Section B\n\n{_B2}\n\n## Section C\n\n{_C}\n\n## Section D\n\n{_D}\n"


@pytest.mark.spark
def test_diff_semantics(spark):
    old = spark.createDataFrame(
        chunk_document("doc1", V1, chunk_size=80, chunk_overlap=0)
    )
    new = spark.createDataFrame(
        chunk_document("doc1", V2, chunk_size=80, chunk_overlap=0)
    )
    d = diff_chunks(old, new)
    unchanged = {r["content"] for r in d["unchanged"].collect()}
    added = {r["content"] for r in d["added"].collect()}
    removed = {r["content"] for r in d["removed"].collect()}

    assert any("Alpha" in c for c in unchanged)
    assert any("Charlie" in c for c in unchanged)
    assert any("rewritten" in c for c in added)
    assert any("Delta" in c for c in added)
    assert any("original body" in c for c in removed)
    assert not any("Alpha" in c for c in added | removed)


@pytest.mark.spark
def test_rerun_is_idempotent(spark):
    """Re-running the same snapshot yields zero added/removed (F7)."""
    chunks = spark.createDataFrame(chunk_document("doc1", V1))
    d = diff_chunks(chunks, chunks)
    assert d["added"].count() == 0
    assert d["removed"].count() == 0
    assert d["unchanged"].count() == chunks.count()
