"""Query-side operators: BM25, RRF, hybrid fusion, beam search, sentences."""

import pytest
from pyspark.sql import functions as F

from graphrag_mrkr_2_spark.functions import sentences
from graphrag_mrkr_2_spark.operators import query
from graphrag_mrkr_2_spark.functions.sentences import (
    get_sentence_window,
    split_into_sentences,
)
from graphrag_mrkr_2_spark.operators.query import (
    beam_expand,
    bm25_search,
    build_bm25_index,
    rrf_fuse,
    sentence_windows,
    split_sentences,
    weighted_fuse,
)

CHUNKS = [
    ("c1", "spark shuffle partitions control parallelism in spark jobs"),
    ("c2", "the proxy component routes requests to the mailstore"),
    ("c3", "backup engine writes snapshots to object storage volumes"),
    ("c4", "spark dataframes compile to catalyst plans with codegen"),
]


def test_sentence_split_abbreviations():
    s = split_into_sentences("Dr. Smith runs the lab. The lab is in Bldg 4 today.")
    assert len(s) == 2  # no split after "Dr."
    # faithful reference quirk: case-insensitive protection substitutes the
    # lowercase abbreviation back (sentence_chunker.py:40-44)
    assert s[0] == "dr. Smith runs the lab."


def test_sentence_split_min_length_and_fallback():
    assert split_into_sentences("Hi. No.") == ["Hi. No."]  # whole-text fallback
    assert split_into_sentences("") == []


def test_sentence_window_bounds(monkeypatch):
    sents = [f"s{i}" for i in range(10)]
    monkeypatch.setattr(sentences, "SENTENCE_WINDOW", 2)
    assert get_sentence_window(sents, 0) == "s0 s1 s2"
    assert get_sentence_window(sents, 9) == "s7 s8 s9"
    monkeypatch.setattr(sentences, "SENTENCE_WINDOW", 1)
    assert get_sentence_window(sents, 5) == "s4 s5 s6"


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


@pytest.mark.spark
def test_weighted_fusion(spark):
    c = spark.createDataFrame([("c1", 10.0), ("c2", 0.0)], ["chunk", "score"])
    e = spark.createDataFrame([("c2", 5.0), ("c3", 1.0)], ["chunk", "score"])
    fused = {r["chunk"]: r["hybrid_score"] for r in weighted_fuse(c, e).collect()}
    assert fused["c1"] == pytest.approx(0.7)  # top chunk score, no entity
    assert fused["c2"] == pytest.approx(0.3)  # top entity score only
    assert fused["c3"] < fused["c2"]


@pytest.mark.spark
def test_find_scored_paths_matches_reference_semantics(spark, monkeypatch):
    """Q5 exact parity: sequential mirror of graph_db.py:4788-4967
    (seed score = importance; per-path visited; per-path 2*beam candidate
    cap by strength; new = 0.5*path + 0.3*strength + 0.2*importance; GLOBAL
    beam prune per hop; an empty hop empties the result — the reference
    assigns current_paths = next_paths[:beam] BEFORE its empty check)."""
    import random

    from graphrag_mrkr_2_spark.operators.query import find_scored_paths

    rng = random.Random(7)
    node_ids = [f"n{i:02d}" for i in range(14)]
    importance = {n: round(rng.uniform(0.1, 1.0), 3) for n in node_ids}
    edge_set = set()
    while len(edge_set) < 30:
        a, b = rng.sample(node_ids, 2)
        edge_set.add((min(a, b), max(a, b)))
    edges = [(a, b, round(rng.uniform(0.05, 1.0), 3)) for a, b in sorted(edge_set)]

    seeds = ["n00", "n01"]
    max_hops, beam, min_s = 2, 4, 0.2

    # --- sequential oracle (the reference's loop, dicts and lists) ---------
    adj = {}
    for a, b, w in edges:
        if w >= min_s:
            adj.setdefault(a, []).append((b, w))
            adj.setdefault(b, []).append((a, w))
    paths = [([s], importance[s]) for s in seeds]
    for _hop in range(max_hops):
        nxt = []
        for path, score in paths:
            last = path[-1]
            cands = [(b, w) for b, w in adj.get(last, []) if b not in path]
            cands.sort(key=lambda t: (-t[1], t[0]))  # strength desc, id asc
            for b, w in cands[: beam * 2]:
                nxt.append((path + [b], score * 0.5 + w * 0.3 + importance[b] * 0.2))
        nxt.sort(key=lambda t: (-t[1], t[0]))
        paths = nxt[:beam]  # assigned BEFORE the empty check (:4950-4956)
        if not paths:
            break
    expected = {(tuple(p), round(s, 6)) for p, s in paths}

    nodes_df = spark.createDataFrame(
        [(n, importance[n]) for n in node_ids], "entity_id string, importance_score double"
    )
    edges_df = spark.createDataFrame(
        edges, "source_id string, target_id string, strength double"
    )
    monkeypatch.setattr(query, "MAX_HOPS", max_hops)
    monkeypatch.setattr(query, "BEAM_SIZE", beam)
    monkeypatch.setattr(query, "MIN_STRENGTH", min_s)
    got = {
        (tuple(r["path"]), round(r["score"], 6))
        for r in find_scored_paths(edges_df, nodes_df, seeds).collect()
    }
    assert got == expected


@pytest.mark.spark
def test_find_scored_paths_dead_end_returns_empty(spark, monkeypatch):
    """Reference (graph_db.py:4950-4956) sets current_paths = next_paths[:beam]
    BEFORE the empty check, so a hop with zero expansions empties the result —
    even when earlier hops found paths."""
    from graphrag_mrkr_2_spark.operators.query import find_scored_paths

    nodes = spark.createDataFrame(
        [("a", 0.8), ("b", 0.6)], "entity_id string, importance_score double"
    )
    edges = spark.createDataFrame(
        [("a", "b", 0.9)], "source_id string, target_id string, strength double"
    )
    # hop 1 reaches b; hop 2 has no unvisited neighbors -> reference returns []
    monkeypatch.setattr(query, "BEAM_SIZE", 4)
    res = find_scored_paths(edges, nodes, ["a"]).collect()
    assert res == []
    # ... but stopping at MAX_HOPS=1 keeps the hop-1 frontier
    monkeypatch.setattr(query, "MAX_HOPS", 1)
    res1 = find_scored_paths(edges, nodes, ["a"]).collect()
    assert len(res1) == 1
    assert list(res1[0]["path"]) == ["a", "b"]
    assert res1[0]["score"] == pytest.approx(0.8 * 0.5 + 0.9 * 0.3 + 0.6 * 0.2)


@pytest.mark.spark
def test_beam_expand_hops_and_pruning(spark):
    edges = spark.createDataFrame(
        [
            ("a", "b", 0.9),
            ("b", "c", 0.8),
            ("a", "d", 0.5),
            ("d", "e", 0.9),
            ("x", "y", 0.9),  # disconnected from seed
        ],
        "source_id string, target_id string, strength double",
    )
    seeds = spark.createDataFrame([("a",)], ["seed_id"])
    res = beam_expand(edges, seeds)
    rows = {(r["node"]): (r["hop"], r["path_score"]) for r in res.collect()}
    assert rows["a"][0] == 0
    assert rows["b"] == (1, pytest.approx(0.9))
    assert rows["c"] == (2, pytest.approx(0.72))
    assert rows["e"] == (2, pytest.approx(0.45))
    assert "x" not in rows and "y" not in rows


@pytest.mark.spark
def test_beam_size_limits_frontier(spark, monkeypatch):
    edges = spark.createDataFrame(
        [("s", f"n{i:02d}", 0.5 + i / 100) for i in range(20)],
        "source_id string, target_id string, strength double",
    )
    seeds = spark.createDataFrame([("s",)], ["seed_id"])
    monkeypatch.setattr(query, "MAX_HOPS", 1)
    res = beam_expand(edges, seeds)
    assert res.where(F.col("hop") == 1).count() == 8


@pytest.mark.spark
def test_split_sentences_and_windows(chunks_df, spark, monkeypatch):
    df = spark.createDataFrame(
        [("c1", "First sentence is long enough. Second sentence is longer still. Third one rounds it out.")],
        ["chunk_id", "content"],
    )
    sents = split_sentences(df)
    rows = sents.orderBy("sentence_index").collect()
    assert len(rows) == 3
    assert all(len(r["sentence_id"]) == 16 for r in rows)
    monkeypatch.setattr(sentences, "SENTENCE_WINDOW", 1)
    win = sentence_windows(sents).orderBy("sentence_index").collect()
    assert win[0]["window_text"].startswith("First sentence")
    assert "Second sentence" in win[0]["window_text"]
    assert "Third" not in win[0]["window_text"]


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
