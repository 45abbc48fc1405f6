"""Similarity search over embedding columns (brute force, IVF).

Covers the reference's vector top-k (Q1, core/graph_db.py:2288-2360 — Neo4j
vector index with a brute-force Python cosine fallback) re-expressed for
Spark, plus the scale paths a 100 TB corpus needs:

- brute_force_topk: exact cosine top-k for one query vector. The dot
  product is a JVM higher-order fold (zip_with + aggregate) — no Python —
  and TakeOrderedAndProject gives a global top-k without a full sort.
- knn_join: exact top-k for a *table* of query vectors via crossJoin of a
  broadcast query side + per-query window top-k.
- ivf_train / ivf_topk: inverted-file ANN — spherical k-means coarse
  quantizer (trained with JVM map-side partial sums; only the k x dim
  centroid matrix ever reaches the driver), items partitioned into lists,
  queries probe the ``nprobe`` nearest lists and rescore exactly.  With
  ``nprobe == n_lists`` the result is EXACTLY knn_join's (the property the
  driver oracle pins); recall at nprobe < n_lists is the tested tradeoff.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType
from pyspark.sql.window import Window


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def cosine_to_query(df: DataFrame, query_vec: list[float]) -> DataFrame:
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    v = _as_double(F.col("embedding"))
    cos = _dot(v, q) / (_norm(v) * _norm(q))
    return df.withColumn("cosine", cos)


def brute_force_topk(df: DataFrame, query_vec: list[float], k: int = 10) -> DataFrame:
    """Exact top-k by cosine (ties broken by vec_id asc for determinism)."""
    return (
        cosine_to_query(df, query_vec)
        .select("vec_id", "cosine")
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def _cosine_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Per-query top-k items of (query_id, vec_id, ivec, qvec) pairs by the
    exact JVM cosine (ties broken by vec_id asc)."""
    iv, qv = _as_double(F.col("ivec")), _as_double(F.col("qvec"))
    scored = pairs.select(
        "query_id", "vec_id", (_dot(iv, qv) / (_norm(iv) * _norm(qv))).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def knn_join(items: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact k-NN join: for each query row, top-k items by cosine.

    Broadcast the (small) query side; per-query window top-k. Exact but
    O(|items|·|queries|) — the correctness baseline for ivf_topk.
    """
    q = queries.select("query_id", F.col("embedding").alias("qvec"))
    it = items.select("vec_id", F.col("embedding").alias("ivec"))
    return _cosine_topk(it.crossJoin(F.broadcast(q)), k)


# ---------------------------------------------------------------------------
# IVF (inverted file) — coarse k-means quantizer + probed exact rescoring
# ---------------------------------------------------------------------------


def _normalize_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


def ivf_train(items: DataFrame, n_lists: int = 16, max_iter: int = 5) -> np.ndarray:
    """Spherical k-means centroids, (n_lists, dim) float64, rows L2-normal.

    100-TB shape: initialization is a hash-ordered bounded sample
    (n_lists rows), each Lloyd iteration is ONE map-side-combined groupBy —
    the per-dimension sums are plain JVM ``F.sum(vec[i])`` aggregates, so
    the shuffle carries n_lists x dim doubles, and only the centroid matrix
    is collected.
    """
    init = (
        items.select(_as_double(F.col("embedding")).alias("v"))
        .orderBy(F.xxhash64(F.col("vec_id").cast("string"), F.lit(7)))
        .limit(n_lists)
        .collect()
    )
    if len(init) < n_lists:
        raise ValueError(f"need >= {n_lists} vectors to train {n_lists} lists")
    centroids = _normalize_rows(np.array([r["v"] for r in init], dtype=np.float64))
    dim = centroids.shape[1]
    # persist the projected vectors: each Lloyd iteration re-reads them,
    # and re-scanning the full upstream lineage max_iter times is the
    # dominant cost at corpus scale (review r5 finding #7)
    vecs = items.select(_as_double(F.col("embedding")).alias("v")).persist()
    try:
        for _ in range(max_iter):
            assign = _assign_udf(centroids)
            sums = (
                vecs.withColumn("list_id", assign(F.col("v")))
                .groupBy("list_id")
                .agg(*[F.sum(F.col("v")[i]).alias(f"s{i}") for i in range(dim)])
                .collect()
            )
            new = centroids.copy()  # empty lists keep their previous centroid
            for r in sums:
                new[r["list_id"]] = [r[f"s{i}"] for i in range(dim)]
            centroids = _normalize_rows(new)
    finally:
        vecs.unpersist()
    return centroids


def _assign_udf(centroids: np.ndarray):
    """Arrow-batched argmax of cosine against the (broadcast) centroids."""
    c = np.ascontiguousarray(centroids)

    @F.pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        m = _normalize_rows(np.array(vs.tolist(), dtype=np.float64))
        return pd.Series(np.argmax(m @ c.T, axis=1).astype(np.int32))

    return assign


def _probe_udf(centroids: np.ndarray, nprobe: int):
    c = np.ascontiguousarray(centroids)

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe(vs: pd.Series) -> pd.Series:
        m = _normalize_rows(np.array(vs.tolist(), dtype=np.float64))
        scores = m @ c.T
        order = np.argsort(-scores, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return probe


def ivf_assign(df: DataFrame, centroids: np.ndarray) -> DataFrame:
    """Attach the IVF ``list_id`` column (nearest centroid by cosine)."""
    return df.withColumn(
        "list_id", _assign_udf(centroids)(_as_double(F.col("embedding")))
    )


def ivf_topk(
    items: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """IVF ANN top-k: queries score only items in their ``nprobe`` nearest
    lists; survivors are rescored with the exact JVM cosine.

    One equi-join shuffle keyed by list_id — each query reads ~nprobe /
    n_lists of the corpus instead of all of it.  Skew is bounded by list
    balance (k-means keeps lists comparable; a pathological corpus shows up
    as a hot list_id, fixable by raising n_lists).  ``nprobe == n_lists``
    degenerates to the exact knn_join result — the correctness anchor."""
    bi = ivf_assign(items, centroids).select(
        "vec_id", F.col("embedding").alias("ivec"), "list_id"
    )
    bq = (
        queries.select(
            "query_id",
            F.col("embedding").alias("qvec"),
            _probe_udf(centroids, nprobe)(_as_double(F.col("embedding"))).alias("probes"),
        )
        .select("query_id", "qvec", F.explode("probes").alias("list_id"))
    )
    return _cosine_topk(bi.join(bq, "list_id"), k)
