"""Q8 Text-to-SQL stages: type detection, linking, templates, validation."""

import pytest

from graphrag_mrkr_2_spark.operators.structured_query import (
    default_sql_generator,
    detect_query_type,
    extract_mentions_default,
    link_entities,
    validate_readonly_sql,
)


def test_query_type_detection_ported_semantics():
    assert detect_query_type("How many documents mention Neo4j?") == "aggregation"
    assert detect_query_type("What is the relationship between A and B?") == "path"
    assert detect_query_type("Which entities are related to both A and B?") == "comparison"
    assert detect_query_type("Show me the hierarchy of X") == "hierarchical"
    assert detect_query_type("What does the proxy connect to?") == "path"
    assert detect_query_type("Tell me a story") == "general"


def test_readonly_sql_validation():
    assert validate_readonly_sql("SELECT name FROM kg_nodes LIMIT 10")
    assert validate_readonly_sql("SELECT COUNT(*) AS n FROM kg_edges")
    assert not validate_readonly_sql("SELECT * FROM kg_nodes")  # unbounded non-agg
    assert not validate_readonly_sql("DROP TABLE kg_nodes")
    assert not validate_readonly_sql("SELECT 1; SELECT 2")
    assert not validate_readonly_sql("INSERT INTO kg_nodes VALUES (1)")
    assert not validate_readonly_sql("")


def test_mention_extraction_default():
    got = extract_mentions_default('How is "Admin Panel" related to User Database?')
    assert "Admin Panel" in got and "User Database" in got
    assert len(extract_mentions_default("x " * 50)) == 0


@pytest.fixture(scope="module")
def kg(spark):
    nodes = spark.createDataFrame(
        [
            ("ADMIN PANEL", 0.9),
            ("USER DATABASE", 0.8),
            ("AUTH GATEWAY", 0.85),
            ("MAILSTORE", 0.8),
        ],
        "name string, importance_score double",
    )
    edges = spark.createDataFrame(
        [
            ("ADMIN PANEL", "USER DATABASE", "DEPENDS_ON", 0.9),
            ("ADMIN PANEL", "AUTH GATEWAY", "ASSOCIATED_WITH", 0.7),
            ("AUTH GATEWAY", "USER DATABASE", "QUERIES", 0.8),
            ("MAILSTORE", "AUTH GATEWAY", "RELATED_TO", 0.5),
        ],
        "subj string, obj string, rel_type string, strength double",
    )
    return nodes, edges


def _answer(spark, query, nodes, edges):
    """The stages the driver's kg_structured_query runs, in its order."""
    nodes.createOrReplaceTempView("kg_nodes")
    edges.createOrReplaceTempView("kg_edges")
    query_type = detect_query_type(query)
    sql = default_sql_generator(query, link_entities(extract_mentions_default(query), nodes), query_type)
    assert validate_readonly_sql(sql)
    return query_type, [r.asDict() for r in spark.sql(sql).collect()]


@pytest.mark.spark
def test_linking_matches_case_insensitively(kg):
    nodes, _ = kg
    linked = link_entities(["Admin Panel", "Nonexistent Thing Xyz"], nodes)
    assert [x["name"] for x in linked] == ["ADMIN PANEL"]
    assert linked[0]["confidence"] >= 0.99


@pytest.mark.spark
def test_linking_distributed_matches_driver_oracle(spark, monkeypatch):
    """VERDICT r2 'Next round' #1: links must equal the r2 driver-side numpy
    implementation (re-created inline as the oracle), AND the node table must
    never be collected — a collect spy asserts only O(mentions) rows reach
    the driver during linking."""
    import numpy as np

    from graphrag_mrkr_2_spark.functions.embeddings import pseudo_embedding
    from graphrag_mrkr_2_spark.operators.similarity import with_embeddings

    names = [f"SERVICE NODE {i:03d}" for i in range(200)] + [
        "ADMIN PANEL",
        "USER DATABASE",
    ]
    nodes = spark.createDataFrame(
        [(n, 0.5) for n in names], "name string, importance_score double"
    )
    mentions = ["Admin Panel", "User Database", "Service Node 042", "Zzz Qqq Vvv"]

    # --- r2 driver-side oracle (the implementation this replaced) ----------
    cand = [
        (r["name"], list(r["embedding"]))
        for r in with_embeddings(nodes.select("name").distinct(), text_col="name").collect()
    ]
    mat = np.asarray([c[1] for c in cand], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    expected = []
    for m in mentions:
        v = pseudo_embedding(m, dim=mat.shape[1])
        sims = mat @ (v / np.linalg.norm(v))
        best = int(np.argmax(sims))
        if sims[best] >= 0.85:
            expected.append((m, cand[best][0]))

    # --- spy: every collect during link_entities must be O(mentions) -------
    _DF = type(nodes)  # the concrete runtime DataFrame class (Spark 4 splits
    # the abstract pyspark.sql.DataFrame from the classic implementation)

    collected = []
    orig_collect = _DF.collect

    def spy(self):
        rows = orig_collect(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(_DF, "collect", spy)
    linked = link_entities(mentions, nodes)
    monkeypatch.undo()

    assert [(x["query_mention"], x["name"]) for x in linked] == expected
    assert all(x["confidence"] >= 0.85 for x in linked)
    assert collected and max(collected) <= len(mentions), collected


@pytest.mark.spark
def test_aggregation_and_relationship_queries(spark, kg):
    nodes, edges = kg

    qtype, rows = _answer(spark, 'How many entities are related to "Admin Panel"?', nodes, edges)
    assert qtype == "aggregation"
    assert rows == [{"n": 2}]

    qtype, rows = _answer(spark, 'Which are associated with "Mailstore"?', nodes, edges)
    assert qtype == "relationship"
    assert [row["neighbor"] for row in rows] == ["AUTH GATEWAY"]


@pytest.mark.spark
def test_path_and_comparison_queries(spark, kg):
    nodes, edges = kg

    qtype, rows = _answer(
        spark,
        'What is the relationship between "Admin Panel" and "User Database"?',
        nodes,
        edges,
    )
    assert qtype == "path"
    hops = {row["hops"] for row in rows}
    assert 1 in hops  # the direct DEPENDS_ON edge
    assert 2 in hops  # via AUTH GATEWAY

    qtype, rows = _answer(
        spark,
        'Which entities are related to both "Admin Panel" and "Mailstore"?',
        nodes,
        edges,
    )
    assert qtype == "comparison"
    assert [row["common_neighbor"] for row in rows] == ["AUTH GATEWAY"]


@pytest.mark.spark
def test_batch_dedupes_repeated_mentions(kg, monkeypatch):
    """The same mention repeated links once: the linking collect returns
    O(distinct mentions) rows, not O(sum of mentions)."""
    nodes, _ = kg

    _DF = type(nodes)
    collected = []
    orig_collect = _DF.collect

    def spy(self):
        rows = orig_collect(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(_DF, "collect", spy)
    linked = link_entities(["Admin Panel"] * 5, nodes)
    monkeypatch.undo()

    assert [x["name"] for x in linked] == ["ADMIN PANEL"] * 5
    assert collected == [1], collected
