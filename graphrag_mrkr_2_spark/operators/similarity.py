"""S9: embeddings + SIMILAR_TO edges (J1 chunk-chunk, J2 entity-entity).

Reference semantics:
- embeddings: OpenAI ada-002 in the reference (core/embeddings.py:152-330);
  here a deterministic hash embedding via mapInPandas (tests/bench), with the
  same seam taking a real client at deployment.
- chunk-chunk similarity (J1, core/graph_db.py:2030-2088): within-document
  all-pairs cosine, keep pairs >= similarity_threshold (0.7), per source
  chunk top max_similarity_connections (5) by similarity with rank,
  persisted as undirected SIMILAR_TO {score, rank} (:1992-2011).
- entity-entity similarity (J2, core/graph_db.py:2134-2286): same pattern
  over entity embeddings, skipping identical (name, type) pairs, MERGE
  SIMILAR_TO {similarity}.

Spark shape: J1 is one NumPy gram matrix per document after a shuffle by
document_id (docs are small → no skew blowup); the global entity variant is
quadratic and therefore gated behind banded random-hyperplane LSH
(dedup._multiband_hyperplane_buckets → dedup.band_pairs) — at 10^12 docs J1
stays per-doc (linear), J2 runs bucketed. The within-document self-join and
the entity crossJoin are test oracles (tests/helpers.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType
from pyspark.sql.window import Window

from ..functions.embeddings import DEFAULT_DIM, pseudo_embed_many
from ..session import pin
from .ann import _as_double, _dot, _norm
from .dedup import _multiband_hyperplane_buckets, band_pairs, sorted_runs


def with_embeddings(df: DataFrame, text_col: str = "content") -> DataFrame:
    """T8 — deterministic DEFAULT_DIM-float pseudo-embedding (FIXTURES.md F5)
    of ``text_col`` as an ``embedding`` column, via pandas UDF."""

    @F.pandas_udf(ArrayType(FloatType()))
    def _embed(texts: pd.Series) -> pd.Series:
        mat = pseudo_embed_many(texts.fillna("").tolist(), DEFAULT_DIM)
        return pd.Series(list(mat))

    return df.withColumn("embedding", _embed(F.col(text_col)))


def chunk_similarity_edges_grams(chunks: DataFrame, threshold: float = 0.7) -> DataFrame:
    """J1 via per-document NumPy gram matrices — the plan SURVEY §2.5
    prescribes: documents are small (tens of chunks), so the all-pairs
    cosine is one vectorized matmul per group instead of a self-join with
    interpreted per-pair array folds (~10× at bench scale).

    Physical shape (r8): repartition by document + sortWithinPartitions +
    ONE ``mapInPandas`` pass that walks document runs across the Arrow
    batches with ``dedup.sorted_runs`` (a document split across a batch
    edge arrives whole; one that recurs unsorted raises). The
    r3-r7 ``groupBy(doc).applyInPandas`` shape paid a per-GROUP Python
    call + pandas-frame construction for every document — at web scale
    documents are tiny groups, and that per-group overhead dominated the
    stage 3:1 over the actual math (measured r8: 7.0 s -> 2.2 s at sf0.1,
    byte-identical output). Output contract identical to the self-join
    with ``max_connections=5`` (tests assert it).
    """
    import numpy as np

    def _gram_rows(doc, ids, vecs, out):
        n = len(ids)
        if n < 2:
            return
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        unit = mat / norms[:, None]
        sims = unit @ unit.T
        np.fill_diagonal(sims, -np.inf)
        best: dict[tuple[str, str], tuple[float, int]] = {}
        for i in range(n):
            row = sims[i]
            # per-source top-k by similarity, ties broken by id asc
            order = sorted(range(n), key=lambda j: (-row[j], ids[j]))
            rank = 0
            for j in order:
                if row[j] < threshold:
                    break
                rank += 1
                if rank > 5:
                    break
                key = (min(ids[i], ids[j]), max(ids[i], ids[j]))
                score = float(row[j])
                prev = best.get(key)
                if prev is None or (score, -rank) > (prev[0], -prev[1]):
                    cur_rank = rank if prev is None else min(rank, prev[1])
                    best[key] = (max(score, prev[0]) if prev else score, cur_rank)
                else:
                    best[key] = (prev[0], min(prev[1], rank))
        for k, v in best.items():
            out.append((doc, k[0], k[1], v[0], v[1]))

    def _run(batches):
        # one task handles MANY documents: runs are contiguous because the
        # input is hash-partitioned AND sorted by doc
        cols = (
            (pdf["document_id"].to_numpy(), (pdf["chunk_id"].to_numpy(), pdf["embedding"].to_numpy()))
            for pdf in batches
        )
        names = ["document_id", "id1", "id2", "score", "rank"]
        out: list[tuple] = []
        for doc, (ids, vecs) in sorted_runs(cols):
            _gram_rows(doc, list(ids), vecs, out)
            if len(out) >= 4096:
                yield pd.DataFrame(out, columns=names)
                out = []
        if out:
            yield pd.DataFrame(out, columns=names)

    # explicit partition count: the per-row payload here is tiny (id + a
    # 32-float vector), so an AQE-coalescible un-numbered repartition would
    # collapse to one partition by bytes and serialize the CPU-bound gram
    # kernel; the session's shuffle parallelism is the scale-adaptive knob
    n_shuffle = int(chunks.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    src = (
        chunks.select("document_id", "chunk_id", "embedding")
        .repartition(n_shuffle, F.col("document_id"))
        .sortWithinPartitions("document_id")
    )
    out = src.mapInPandas(
        _run,
        "document_id string, id1 string, id2 string, score double, rank int",
    )
    return out.withColumn("edge_type", F.lit("SIMILAR_TO"))


# J2's cosine threshold (the reference's similarity_threshold)
ENTITY_SIMILARITY_THRESHOLD = 0.7


def entity_similarity_edges(nodes: DataFrame) -> DataFrame:
    """J2 — entity SIMILAR_TO edges (global) over (entity_id, embedding),
    each entity keeping its top 5.

    Candidates come from banded random-hyperplane buckets (equi-join keyed
    by (band, bucket), AQE covers bucket skew), then exact cosine
    verification, so false positives are impossible and recall is the only
    approximation (P(miss) ≈ 1% for a pair at exactly τ=0.7 with 12×4
    bands, less above it). Tests compare it with the quadratic crossJoin.
    """
    v = nodes.select(F.col("entity_id").alias("id"), F.col("embedding").alias("v"))
    # read from both band-join sides (r8)
    bb = pin(_multiband_hyperplane_buckets(nodes, "entity_id", 12, 4))
    join = (
        band_pairs(bb)
        .join(v.select(F.col("id").alias("id1"), F.col("v").alias("v1")), "id1")
        .join(v.select(F.col("id").alias("id2"), F.col("v").alias("v2")), "id2")
        .select(
            F.struct(F.col("id1").alias("id"), F.col("v1").alias("v")).alias("a"),
            F.struct(F.col("id2").alias("id"), F.col("v2").alias("v")).alias("b"),
        )
    )
    return _top_similar(join)


def _top_similar(join: DataFrame) -> DataFrame:
    """SIMILAR_TO edges of (a, b) candidate pairs of (id, v) structs, a.id
    < b.id: cosine ≥ ENTITY_SIMILARITY_THRESHOLD, top 5 per entity."""
    # each undirected pair is scored once, then mirrored so both endpoints
    # rank it: the cosine fold is symmetric bit for bit
    va, vb = _as_double(F.col("a.v")), _as_double(F.col("b.v"))
    sim = (_dot(va, vb) / (_norm(va) * _norm(vb))).alias("similarity")
    scored = join.select(F.col("a.id").alias("a"), F.col("b.id").alias("b"), sim).where(
        F.col("similarity") >= ENTITY_SIMILARITY_THRESHOLD
    )
    pairs = scored.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst"), "similarity"),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst"), "similarity"),
            )
        ).alias("e")
    ).select("e.*")
    w = Window.partitionBy("src").orderBy(F.desc("similarity"), F.asc("dst"))
    ranked = pairs.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= 5
    )
    return (
        ranked.select(
            F.least(F.col("src"), F.col("dst")).alias("id1"),
            F.greatest(F.col("src"), F.col("dst")).alias("id2"),
            F.col("similarity"),
        )
        .groupBy("id1", "id2")
        .agg(F.max("similarity").alias("similarity"))
        .withColumn("edge_type", F.lit("SIMILAR_TO"))
    )
