"""J1/J2 SIMILAR_TO edges: threshold 0.7, top-5 with rank, undirected."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from graphrag_mrkr_2_spark.functions.embeddings import pseudo_embedding
from graphrag_mrkr_2_spark.operators import similarity
from graphrag_mrkr_2_spark.operators.similarity import (
    entity_similarity_edges,
    with_embeddings,
)
from helpers import chunk_similarity_edges, cosine_similarity, entity_similarity_edges_exact


def test_pseudo_embedding_deterministic_unit():
    a = pseudo_embedding("hello world")
    b = pseudo_embedding("hello world")
    c = pseudo_embedding("different text")
    assert np.allclose(a, b)
    assert not np.allclose(a, c)
    assert np.linalg.norm(a) == pytest.approx(1.0, abs=1e-5)


def test_cosine_matches_reference_formula():
    assert cosine_similarity([1, 0], [0, 1]) == 0.0
    assert cosine_similarity([1, 2], [2, 4]) == pytest.approx(1.0)
    assert cosine_similarity([0, 0], [1, 1]) == 0.0  # zero-norm guard


def _vec(direction: int, noise: float, dim: int = 8) -> list[float]:
    v = np.zeros(dim)
    v[direction] = 1.0
    v[(direction + 1) % dim] = noise
    v = v / np.linalg.norm(v)
    return [float(x) for x in v]


@pytest.mark.spark
def test_chunk_similarity_within_doc_top_k(spark):
    rows = []
    # doc d1: three near-identical chunks + one orthogonal
    rows.append(("c1", "d1", _vec(0, 0.1)))
    rows.append(("c2", "d1", _vec(0, 0.15)))
    rows.append(("c3", "d1", _vec(0, 0.2)))
    rows.append(("c4", "d1", _vec(4, 0.0)))
    # doc d2: similar to d1's chunks but must not pair cross-doc
    rows.append(("c5", "d2", _vec(0, 0.1)))
    df = spark.createDataFrame(rows, "chunk_id string, document_id string, embedding array<float>")
    edges = chunk_similarity_edges(df, threshold=0.7, max_connections=5)
    pairs = {(r["id1"], r["id2"]): (r["score"], r["rank"]) for r in edges.collect()}
    assert ("c1", "c2") in pairs and ("c1", "c3") in pairs and ("c2", "c3") in pairs
    assert not any("c4" in p for p in pairs)  # below threshold
    assert not any("c5" in p for p in pairs)  # cross-document excluded
    for score, rank in pairs.values():
        assert score >= 0.7 and 1 <= rank <= 5


@pytest.mark.spark
def test_chunk_similarity_max_connections(spark):
    # 8 chunks all mutually similar -> each source keeps top 5 only
    rows = [(f"c{i}", "d1", _vec(0, 0.01 * i)) for i in range(8)]
    df = spark.createDataFrame(rows, "chunk_id string, document_id string, embedding array<float>")
    edges = chunk_similarity_edges(df, threshold=0.5, max_connections=5)
    # no source can exceed 5 outgoing ranks; undirected pairs <= n*5/1
    per_chunk = (
        edges.select(F.explode(F.array("id1", "id2")).alias("c"))
        .groupBy("c")
        .count()
        .collect()
    )
    assert edges.count() <= 8 * 5


@pytest.mark.spark
def test_entity_similarity_edges(spark):
    rows = [
        ("e1", _vec(0, 0.1)),
        ("e2", _vec(0, 0.12)),
        ("e3", _vec(3, 0.0)),
    ]
    df = spark.createDataFrame(rows, "entity_id string, embedding array<float>")
    edges = entity_similarity_edges(df)
    got = [(r["id1"], r["id2"]) for r in edges.collect()]
    assert got == [("e1", "e2")]


@pytest.mark.spark
def test_entity_similarity_lsh_equals_exact(spark, monkeypatch):
    """The default banded-LSH candidate path must reproduce the quadratic
    baseline on planted high-similarity pairs (same posture as
    dedup.embedding_near_dupes: verify-exact, recall-only approximation)."""
    rng = np.random.RandomState(5)
    base = rng.normal(size=(30, 32))
    rows = [(f"e{i:02d}", [float(x) for x in base[i]]) for i in range(30)]
    for j in range(8):
        pert = base[j] + rng.normal(scale=0.05, size=32)
        rows.append((f"p{j:02d}", [float(x) for x in pert]))
    df = spark.createDataFrame(rows, "entity_id string, embedding array<float>")
    monkeypatch.setattr(similarity, "ENTITY_SIMILARITY_THRESHOLD", 0.9)
    exact = {
        (r["id1"], r["id2"], round(r["similarity"], 6))
        for r in entity_similarity_edges_exact(df).collect()
    }
    lsh = {
        (r["id1"], r["id2"], round(r["similarity"], 6))
        for r in entity_similarity_edges(df).collect()
    }
    assert exact and lsh == exact


@pytest.mark.spark
def test_with_embeddings_udf(spark):
    df = spark.createDataFrame([("c1", "some text"), ("c2", "some text")], ["chunk_id", "content"])
    out = with_embeddings(df).collect()
    assert np.allclose(out[0]["embedding"], out[1]["embedding"])
    assert len(out[0]["embedding"]) == 32


@pytest.mark.spark
def test_gram_variant_matches_join_variant(spark):
    """chunk_similarity_edges (JVM join) and chunk_similarity_edges_grams
    (per-doc NumPy) must produce the same edges/ranks (scores approx)."""
    from graphrag_mrkr_2_spark.operators.similarity import (
        chunk_similarity_edges_grams,
    )
    from graphrag_mrkr_2_spark.sources.pages import generate_pages
    from graphrag_mrkr_2_spark.operators.extract import chunk_pages, with_content_filter

    chunks = with_content_filter(chunk_pages(generate_pages(spark, 15)))
    chunks = with_embeddings(chunks.where("filter_reason IS NULL").drop("filter_reason"))
    a = {
        (r["document_id"], r["id1"], r["id2"]): (round(r["score"], 6), r["rank"])
        for r in chunk_similarity_edges(chunks).collect()
    }
    b = {
        (r["document_id"], r["id1"], r["id2"]): (round(r["score"], 6), r["rank"])
        for r in chunk_similarity_edges_grams(chunks).collect()
    }
    assert set(a) == set(b)
    for k in a:
        assert a[k][0] == pytest.approx(b[k][0], abs=1e-5)
        assert a[k][1] == b[k][1], f"rank mismatch at {k}"
