"""Candidate reranking — the FlashRank stage (rag/rerankers/
flashrank_reranker.py) re-expressed as a batch DataFrame operator.

Reference semantics mirrored (flashrank_reranker.py:80-141):

- only the top ``max_candidates`` per query (by the incoming order) are sent
  to the scorer — ``to_rank = candidates[:cap]``;
- each scored row gains ``rerank_score``;
- with ``blend_weight`` b > 0: ``combined_score = b*rerank + (1-b)*hybrid``
  (hybrid taken from ``score_col``) and the head sorts by combined; with
  b == 0 the head sorts by rerank_score alone (:125-133);
- rows beyond the cap keep their original relative order AFTER the reranked
  head — ``reordered = to_rank + candidates[cap:]`` (:136);
- ties preserve the incoming order (Python's stable sort), mirrored here by
  a secondary sort on the original position;
- reranker unavailable/disabled → the caller simply doesn't invoke this
  operator (the reference returns the input unchanged).

Spark shape: the reference reranks ONE query's ≤100 candidates in-process;
the batch analog scores (query, text) pairs for MANY queries at once through
an Arrow-batched pandas UDF — the right shape for cross-encoder inference at
training-data scale (model forward passes amortize over Arrow batches; one
window per query for the final order, partitioned by query id so no global
exchange). The default scorer is a deterministic lexical-overlap stand-in
(network-free, and exactly reproducible in SQL for the driver oracle:
query_rerank); a FlashRank/ONNX cross-encoder drops into the same seam.
"""

from __future__ import annotations

import re
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_TOKEN_RE = re.compile(r"[^a-z0-9]+")


def lexical_overlap_scorer(queries: pd.Series, texts: pd.Series) -> pd.Series:
    """Default rerank scorer: Jaccard overlap of lowercase ascii-alnum token
    sets. Deterministic, vectorizable, and expressible in ANSI SQL (the
    driver oracle recomputes it in DuckDB exactly)."""
    out = []
    for q, t in zip(queries, texts):
        qs = {w for w in _TOKEN_RE.split((q or "").lower()) if w}
        ts = {w for w in _TOKEN_RE.split((t or "").lower()) if w}
        union = len(qs | ts)
        out.append(len(qs & ts) / union if union else 0.0)
    return pd.Series(out, dtype="float64")


Scorer = Callable[[pd.Series, pd.Series], pd.Series]


def rerank_candidates(
    candidates: DataFrame,
    scorer: Scorer = lexical_overlap_scorer,
    max_candidates: int = 100,
    blend_weight: float = 0.0,
) -> DataFrame:
    """Rerank per-query candidates (query_id, query, content, hybrid_score);
    returns the input columns plus ``rerank_score``, ``combined_score`` and
    ``final_rank`` (1-based).

    Incoming order per query = ``hybrid_score`` descending (the retriever's
    hybrid order the reference receives its candidate list in), ties broken
    by ``content`` for determinism where a Python list would carry arrival
    order.
    """

    @F.pandas_udf("double")
    def _score(q: pd.Series, t: pd.Series) -> pd.Series:
        return scorer(q, t)

    w_in = Window.partitionBy("query_id").orderBy(
        F.desc("hybrid_score"), F.asc("content")
    )
    pos = candidates.withColumn("__pos", F.row_number().over(w_in))

    head = pos.where(F.col("__pos") <= max_candidates).withColumn(
        "rerank_score", _score(F.col("query"), F.col("content"))
    )
    combined = (
        F.lit(float(blend_weight)) * F.col("rerank_score")
        + F.lit(1.0 - float(blend_weight)) * F.col("hybrid_score").cast("double")
        if blend_weight > 0.0
        else F.col("rerank_score")
    )
    head = head.withColumn("combined_score", combined).withColumn(
        "__k1", F.lit(0)
    )
    tail = (
        pos.where(F.col("__pos") > max_candidates)
        .withColumn("rerank_score", F.lit(None).cast("double"))
        .withColumn("combined_score", F.lit(None).cast("double"))
        .withColumn("__k1", F.lit(1))
    )
    # head sorts by combined desc (stable: original position breaks ties);
    # tail follows in original order — the reference's to_rank + rest
    w_out = Window.partitionBy("query_id").orderBy(
        F.asc("__k1"), F.desc_nulls_last("combined_score"), F.asc("__pos")
    )
    return (
        head.unionByName(tail)
        .withColumn("final_rank", F.row_number().over(w_out))
        .drop("__pos", "__k1")
    )
