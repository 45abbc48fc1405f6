"""Query-side operators: BM25, RRF, query expansion, graph expansion."""

import pytest

from graphrag_mrkr_2_spark.operators import query
from graphrag_mrkr_2_spark.operators.query import (
    bm25_search,
    build_bm25_index,
    rrf_fuse,
)

CHUNKS = [
    ("c1", "spark shuffle partitions control parallelism in spark jobs"),
    ("c2", "the proxy component routes requests to the mailstore"),
    ("c3", "backup engine writes snapshots to object storage volumes"),
    ("c4", "spark dataframes compile to catalyst plans with codegen"),
]


@pytest.fixture(scope="module")
def chunks_df(spark):
    return spark.createDataFrame(CHUNKS, ["chunk_id", "content"])


@pytest.mark.spark
def test_bm25_ranks_term_matches(chunks_df):
    index = build_bm25_index(chunks_df)
    res = bm25_search(index, ["spark"], top_k=4).collect()
    got = [r["chunk"] for r in res]
    assert set(got) == {"c1", "c4"}
    assert got[0] == "c1"  # tf=2 beats tf=1


@pytest.mark.spark
def test_rrf_fusion(spark):
    a = spark.createDataFrame([("c1", 1), ("c2", 2)], ["chunk", "rank"])
    b = spark.createDataFrame([("c2", 1), ("c3", 2)], ["chunk", "rank"])
    fused = {r["chunk"]: r["rrf_score"] for r in rrf_fuse([a, b]).collect()}
    assert fused["c2"] == pytest.approx(1 / 61 + 1 / 62)
    assert fused["c1"] == pytest.approx(1 / 61)
    assert fused["c2"] > fused["c1"] > fused["c3"]


class TestQueryExpansion:
    def test_gate_and_parse_semantics(self, spark):
        from graphrag_mrkr_2_spark.operators.query import expand_query_terms

        df = spark.createDataFrame(
            [
                ("q1", "sparse retrieval about distributed graph systems", 1),
                ("q2", "dense enough query", 5),
                ("q3", "tiny one two cat dog", 0),
            ],
            "qid string, query string, initial_results_count int",
        )
        out = {r["qid"]: r["expanded_terms"] for r in expand_query_terms(df).collect()}
        # reference: >= threshold -> no expansion (query_expansion.py:36-38)
        assert out["q2"] == []
        # mock: first 5 distinct lowercase words len>3
        assert out["q1"] == ["sparse", "retrieval", "about", "distributed", "graph"]
        # short words filtered by the mock
        assert out["q3"] == ["tiny"]

    def test_malformed_llm_output_yields_empty(self, spark):
        import pandas as pd

        from graphrag_mrkr_2_spark.operators.query import expand_query_terms

        def bad_llm(qs: pd.Series) -> pd.Series:
            return pd.Series(["not json at all"] * len(qs), dtype=object)

        df = spark.createDataFrame(
            [("q1", "anything", 0)], "qid string, query string, initial_results_count int"
        )
        out = expand_query_terms(df, llm=bad_llm).collect()[0]
        assert out["expanded_terms"] == []

    def test_cap_at_five_and_fence_stripping(self, spark):
        import pandas as pd

        from graphrag_mrkr_2_spark.operators.query import expand_query_terms

        def seven_terms(qs: pd.Series) -> pd.Series:
            return pd.Series(
                ['```json\n["a","b","c","d","e","f","g"]\n```'] * len(qs), dtype=object
            )

        df = spark.createDataFrame(
            [("q1", "x", 0)], "qid string, query string, initial_results_count int"
        )
        out = expand_query_terms(df, llm=seven_terms).collect()[0]
        assert out["expanded_terms"] == ["a", "b", "c", "d", "e"]

    def test_null_count_rows_preserved(self, spark):
        from graphrag_mrkr_2_spark.operators.query import expand_query_terms

        df = spark.createDataFrame(
            [("q1", "some text", None), ("q2", "other", 0)],
            "qid string, query string, initial_results_count int",
        )
        out = {r["qid"]: r["expanded_terms"] for r in expand_query_terms(df).collect()}
        assert set(out) == {"q1", "q2"}  # NULL row survives (as dense)
        assert out["q1"] == []


class TestGraphExpandChunks:
    def _fixtures(self, spark):
        retrieved = spark.createDataFrame(
            [("q1", "c1", 1), ("q1", "c2", 2)],
            "query_id string, chunk_id string, rank int",
        )
        similar = spark.createDataFrame(
            [("c1", "c3"), ("c3", "c4")], "chunk1 string, chunk2 string"
        )
        chunk_docs = spark.createDataFrame(
            [("c1", "d1"), ("c5", "d1"), ("c2", "d2"), ("c6", "d2")],
            "chunk_id string, document_id string",
        )
        return retrieved, similar, chunk_docs

    def test_depths_and_dedup(self, spark):
        from graphrag_mrkr_2_spark.operators.query import graph_expand_chunks

        retrieved, similar, chunk_docs = self._fixtures(spark)
        out = graph_expand_chunks(retrieved, similar, chunk_docs).collect()
        rows = {r["chunk_id"]: r for r in out}
        # originals kept as-is
        assert not rows["c1"]["is_expansion"] and rows["c1"]["rank"] == 1
        # c3: similar to seed c1 at depth 1
        assert rows["c3"]["is_expansion"] and rows["c3"]["distance"] == 1
        assert rows["c3"]["seed_chunk"] == "c1"
        # c4: similar-of-similar at depth 2
        assert rows["c4"]["distance"] == 2
        # c5: document sibling of c1; c6 sibling of c2
        assert rows["c5"]["distance"] == 2 and rows["c5"]["seed_chunk"] == "c1"
        assert rows["c6"]["seed_chunk"] == "c2"
        # already-retrieved chunks never appear as expansions
        assert all(
            not r["is_expansion"] for r in out if r["chunk_id"] in ("c1", "c2")
        )
        # expansion ranks continue after the originals
        exp_ranks = sorted(r["rank"] for r in out if r["is_expansion"])
        assert exp_ranks == [3, 4, 5, 6]

    def test_total_cap_reference_semantics(self, spark, monkeypatch):
        """Reference appends THEN checks (graph_reasoning.py:76-81): every
        seed still contributes its best candidate past the cap."""
        from graphrag_mrkr_2_spark.operators.query import graph_expand_chunks

        retrieved, similar, chunk_docs = self._fixtures(spark)
        monkeypatch.setattr(query, "GRAPH_TOTAL_CAP", 3)
        out = graph_expand_chunks(retrieved, similar, chunk_docs).collect()
        kept_exp = sorted(
            (r for r in out if r["is_expansion"]), key=lambda r: r["rank"]
        )
        # quota 1 (cap 3 - 2 originals) fills c3 (seed c1, distance 1);
        # seed c2's per-seed minimum grant adds its best candidate c6
        assert [r["chunk_id"] for r in kept_exp] == ["c3", "c6"]
        assert [r["rank"] for r in kept_exp] == [3, 4]

    def test_cap_saturated_still_one_per_seed(self, spark, monkeypatch):
        """n_orig >= cap: the reference still adds one expansion per seed."""
        from graphrag_mrkr_2_spark.operators.query import graph_expand_chunks

        retrieved, similar, chunk_docs = self._fixtures(spark)
        monkeypatch.setattr(query, "GRAPH_TOTAL_CAP", 2)
        out = graph_expand_chunks(retrieved, similar, chunk_docs).collect()
        kept_exp = [r for r in out if r["is_expansion"]]
        assert {r["seed_chunk"] for r in kept_exp} == {"c1", "c2"}
        assert len(kept_exp) == 2  # exactly the per-seed minimum grants

    def test_seed_limit(self, spark):
        from graphrag_mrkr_2_spark.operators.query import graph_expand_chunks

        retrieved = spark.createDataFrame(
            [("q1", f"c{i}", i) for i in range(1, 6)],
            "query_id string, chunk_id string, rank int",
        )
        similar = spark.createDataFrame(
            [("c4", "x1")], "chunk1 string, chunk2 string"
        )
        docs = spark.createDataFrame([("c9", "d9")], "chunk_id string, document_id string")
        out = graph_expand_chunks(retrieved, similar, docs).collect()
        # c4 is rank 4 -> NOT a seed; its neighbor never appears
        assert all(r["chunk_id"] != "x1" for r in out)
