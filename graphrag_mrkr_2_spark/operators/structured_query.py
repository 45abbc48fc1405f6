"""Q8: natural-language → structured KG query (Text-to-SQL).

Re-expresses the stages of rag/nodes/structured_kg_executor.py (670 LoC,
Text-to-Cypher against Neo4j) that the driver's kg_structured_query runs:
the generated artifact is READ-ONLY Spark SQL over registered ``kg_nodes`` /
``kg_edges`` temp views.

  1. query-type detection     detect_query_type (:192-227, keyword heuristics
                              ported verbatim)
  2. mention extraction       extract_mentions_default, the deterministic
                              stand-in for the LLM extractor (:262-299)
  3. entity linking           mention embeddings vs node-name embeddings,
                              best match per mention at threshold 0.85
                              (:243-346; the same pseudo-embedding as T8)
  4. SQL generation           default_sql_generator renders per-query-type
                              templates (:349-450 generates Cypher via LLM)
  5. read-only validation     validate_readonly_sql — the SQL analog of
                              validate_readonly_cypher (:65-78): no ';', no
                              DML/DDL keywords, SELECT required, LIMIT
                              required unless aggregating

Scale note: everything the SQL touches executes as ordinary Spark plans over
the KG tables (Catalyst optimizes the generated SQL like any other query);
the driver-side work is O(linked mentions).
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import DataFrame

from ..functions.embeddings import pseudo_embedding

# SQL analog of FORBIDDEN_CYPHER_RE (:48-51)
FORBIDDEN_SQL_RE = re.compile(
    r"\b(INSERT|UPDATE|DELETE|MERGE|DROP|CREATE|ALTER|TRUNCATE|GRANT|REVOKE|CALL|COPY|SET)\b",
    re.IGNORECASE,
)

_AGG_TOKENS = ("COUNT(", "SUM(", "AVG(", "MIN(", "MAX(")


def detect_query_type(query: str) -> str:
    """structured_kg_executor.py:192-227, keyword heuristics ported."""
    q = query.lower()
    if any(w in q for w in ("how many", "count", "total", "number of", "sum of")):
        return "aggregation"
    if any(w in q for w in ("relationship between", "connect", "path from", "link between", "relates to")):
        return "path"
    if any(w in q for w in ("both", "compare", "versus", "vs", "difference between", "similar to")):
        return "comparison"
    if any(w in q for w in ("hierarchy", "parent", "child", "descendants", "ancestors", "tree")):
        return "hierarchical"
    if any(w in q for w in ("what does", "which are", "related to", "associated with", "mentions", "mention")):
        return "relationship"
    if any(p in q for p in ("find document", "search document", "documents that", "docs that", "which document")):
        return "relationship"
    return "general"


def validate_readonly_sql(sql: str) -> bool:
    """SQL analog of validate_readonly_cypher (:65-78): single read-only
    SELECT, bounded unless aggregating."""
    if not sql or ";" in sql:
        return False
    if FORBIDDEN_SQL_RE.search(sql):
        return False
    u = sql.upper()
    if "SELECT" not in u:
        return False
    is_agg = any(k in u for k in _AGG_TOKENS)
    if (not is_agg) and ("LIMIT" not in u):
        return False
    return True


_MENTION_RE = re.compile(r'"([^"]+)"|\'([^\']+)\'|((?:[A-Z][\w\-]*)(?:\s+[A-Z][\w\-]*)*)')


def extract_mentions_default(query: str) -> list[str]:
    """Deterministic stand-in for the LLM mention extractor (:262-299):
    quoted spans plus maximal Title-Case runs, capped at 5 like the
    reference. An LLM client drops into the same seam."""
    out: list[str] = []
    for m in _MENTION_RE.finditer(query or ""):
        s = next(g for g in m.groups() if g is not None).strip()
        if len(s) >= 3 and s.lower() not in ("what", "which", "how", "show", "the"):
            out.append(s)
    seen: set[str] = set()
    uniq = []
    for s in out:
        if s.lower() not in seen:
            seen.add(s.lower())
            uniq.append(s)
    return uniq[:5]


def link_entities(mentions: list[str], nodes: DataFrame) -> list[dict]:
    """Best embedding match per mention at the reference's 0.85 threshold
    (:304-346), in ONE broadcast+window plan.

    Mentions are de-duplicated by exact surface form, embedded driver-side
    (≤5 per query, tiny) and broadcast against the embeddings of the
    distinct node names; a per-mention ``row_number()==1`` window picks each
    winner. Only distinct-mention winners reach the driver: O(distinct
    mentions), independent of node count. Returns the linked entities in
    mention order.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..functions.embeddings import DEFAULT_DIM
    from .similarity import with_embeddings

    # exact surface form is the dedup key: pseudo/real embeddings are
    # case-sensitive, so "Admin Panel" and "admin panel" may link differently
    distinct = list(dict.fromkeys(mentions))
    if not distinct:
        return []

    node_embeddings = with_embeddings(nodes.select("name").distinct(), text_col="name")
    spark = node_embeddings.sparkSession
    mrows = []
    for mention in distinct:
        v = pseudo_embedding(mention, dim=DEFAULT_DIM)
        mrows.append((mention, [float(x) for x in (v / np.linalg.norm(v))]))
    m_df = spark.createDataFrame(mrows, "query_mention string, mvec array<double>")

    nvec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(nvec, F.col("mvec"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nnorm = F.sqrt(
        F.aggregate(
            F.transform(nvec, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )
    w = Window.partitionBy("query_mention").orderBy(F.desc("confidence"), F.asc("name"))
    top = (
        node_embeddings.crossJoin(F.broadcast(m_df))
        .select("query_mention", "name", (dot / nnorm).alias("confidence"))
        .withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") == 1) & (F.col("confidence") >= 0.85))
        .collect()
    )
    best = {
        r["query_mention"]: {"name": r["name"], "confidence": float(r["confidence"])}
        for r in top
    }
    return [{"query_mention": m, **best[m]} for m in mentions if m in best]


def _q(name: str) -> str:
    return name.replace("'", "''")


def default_sql_generator(query: str, entities: list[dict], query_type: str) -> str:
    """Deterministic Text-to-SQL templates per query type — the network-free
    default for the LLM seam (:349-450). Views: kg_nodes(name, ...),
    kg_edges(subj, obj, rel_type, strength)."""
    e = [_q(x["name"]) for x in entities]
    if query_type == "aggregation":
        if e:
            return (
                "SELECT COUNT(*) AS n FROM kg_edges "
                f"WHERE subj = '{e[0]}' OR obj = '{e[0]}'"
            )
        return "SELECT COUNT(*) AS n FROM kg_nodes"
    if query_type in ("relationship", "hierarchical"):
        if not e:
            return "SELECT name FROM kg_nodes ORDER BY importance_score DESC LIMIT 50"
        return (
            f"SELECT CASE WHEN subj = '{e[0]}' THEN obj ELSE subj END AS neighbor, "
            "rel_type, strength FROM kg_edges "
            f"WHERE subj = '{e[0]}' OR obj = '{e[0]}' "
            "ORDER BY strength DESC, neighbor ASC LIMIT 50"
        )
    if query_type == "path" and len(e) >= 2:
        return (
            f"SELECT '{e[0]}' AS a, rel_type, '{e[1]}' AS b, strength, 1 AS hops "
            "FROM kg_edges WHERE "
            f"(subj = '{e[0]}' AND obj = '{e[1]}') OR (subj = '{e[1]}' AND obj = '{e[0]}') "
            "UNION ALL "
            "SELECT x.anchor AS a, CONCAT(x.rt, ' / ', y.rt) AS rel_type, y.anchor AS b, "
            "x.strength * y.strength AS strength, 2 AS hops FROM "
            f"(SELECT CASE WHEN subj = '{e[0]}' THEN '{e[0]}' ELSE '{e[0]}' END AS anchor, "
            f" CASE WHEN subj = '{e[0]}' THEN obj ELSE subj END AS mid, rel_type AS rt, strength "
            f" FROM kg_edges WHERE subj = '{e[0]}' OR obj = '{e[0]}') x "
            "JOIN "
            f"(SELECT CASE WHEN subj = '{e[1]}' THEN '{e[1]}' ELSE '{e[1]}' END AS anchor, "
            f" CASE WHEN subj = '{e[1]}' THEN obj ELSE subj END AS mid, rel_type AS rt, strength "
            f" FROM kg_edges WHERE subj = '{e[1]}' OR obj = '{e[1]}') y "
            "ON x.mid = y.mid ORDER BY hops ASC, strength DESC LIMIT 50"
        )
    if query_type == "comparison" and len(e) >= 2:
        return (
            f"SELECT n1.x AS common_neighbor FROM "
            f"(SELECT DISTINCT CASE WHEN subj = '{e[0]}' THEN obj ELSE subj END AS x "
            f" FROM kg_edges WHERE subj = '{e[0]}' OR obj = '{e[0]}') n1 "
            f"JOIN (SELECT DISTINCT CASE WHEN subj = '{e[1]}' THEN obj ELSE subj END AS x "
            f" FROM kg_edges WHERE subj = '{e[1]}' OR obj = '{e[1]}') n2 "
            "ON n1.x = n2.x ORDER BY common_neighbor LIMIT 50"
        )
    # under-linked path/comparison degrade to the relationship shape
    return default_sql_generator(query, entities, "relationship")
