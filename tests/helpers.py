"""Test-only helpers: fixture encoders at settings no product caller uses,
and the reference twins of product operators that tests compare against.

The package keeps one code path per function and turns settings no product
caller passes into module constants; the wrappers here patch those
constants for one call. The twins are Spark operators kept as oracles: their
UDF bodies are nested functions, so Python workers unpickle them by value
and never import this module.
"""

from __future__ import annotations

from unittest import mock

from graphrag_mrkr_2_spark.functions import jpegcodec, tiffcodec


def encode_jpeg_at(pixels, quality=90, subsampling="444") -> bytes:
    """``jpegcodec.encode_jpeg`` at a given quality and chroma subsampling."""
    with mock.patch.multiple(jpegcodec, JPEG_QUALITY=quality, JPEG_SUBSAMPLING=subsampling):
        return jpegcodec.encode_jpeg(pixels)


def encode_tiff_lzw(pixels, predictor) -> bytes:
    """``tiffcodec.encode_tiff`` with LZW compression and a predictor."""
    with mock.patch.multiple(tiffcodec, TIFF_COMPRESSION="lzw", TIFF_PREDICTOR=predictor):
        return tiffcodec.encode_tiff(pixels)


# ---------------------------------------------------------------------------
# Reference twins of product operators
# ---------------------------------------------------------------------------


def chunk_similarity_edges(chunks, threshold=0.7, max_connections=5):
    """J1 self-join oracle of ``similarity.chunk_similarity_edges_grams``:
    within-document SIMILAR_TO edges with per-source rank, over
    (document_id, chunk_id, embedding).

    Directed top-k per source first (rank semantics of graph_db.py:2056-2083),
    then undirected canonicalization (least/greatest) keeping the best
    (score, min rank) per pair — matching the MERGE-undirected persistence.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from graphrag_mrkr_2_spark.operators.ann import _as_double, _dot, _norm

    left = chunks.select(
        F.col("document_id").alias("doc"), F.col("chunk_id").alias("src"), F.col("embedding").alias("v1")
    )
    right = chunks.select(
        F.col("document_id").alias("doc"), F.col("chunk_id").alias("dst"), F.col("embedding").alias("v2")
    )
    v1, v2 = _as_double(F.col("v1")), _as_double(F.col("v2"))
    pairs = (
        left.join(right, "doc")
        .where(F.col("src") != F.col("dst"))
        .withColumn("score", _dot(v1, v2) / (_norm(v1) * _norm(v2)))
        .where(F.col("score") >= threshold)
    )
    w = Window.partitionBy("doc", "src").orderBy(F.desc("score"), F.asc("dst"))
    ranked = pairs.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= max_connections
    )
    return (
        ranked.select(
            F.col("doc").alias("document_id"),
            F.least(F.col("src"), F.col("dst")).alias("id1"),
            F.greatest(F.col("src"), F.col("dst")).alias("id2"),
            F.col("score"),
            F.col("rank"),
        )
        .groupBy("document_id", "id1", "id2")
        .agg(F.max("score").alias("score"), F.min("rank").alias("rank"))
        .withColumn("edge_type", F.lit("SIMILAR_TO"))
    )


def entity_similarity_edges_exact(nodes):
    """Quadratic crossJoin baseline of ``similarity.entity_similarity_edges``:
    every pair a.id < b.id is a candidate, scored and ranked as the LSH
    path scores and ranks its bucketed candidates."""
    from pyspark.sql import functions as F

    from graphrag_mrkr_2_spark.operators.similarity import _top_similar

    v = nodes.select(F.col("entity_id").alias("id"), F.col("embedding").alias("v"))
    a, b = v.alias("a"), v.alias("b")
    return _top_similar(a.crossJoin(b).where(F.col("a.id") < F.col("b.id")))


def embedding_near_dupes_exact(df, threshold):
    """Quadratic self-join baseline of ``dedup.embedding_near_dupes``:
    cosine-similar pairs (id1 < id2, cosine >= threshold) of
    (vec_id, embedding)."""
    from pyspark.sql import functions as F

    from graphrag_mrkr_2_spark.operators.ann import _as_double, _dot, _norm

    v = df.select(F.col("vec_id").alias("id"), _as_double(F.col("embedding")).alias("vec"))
    a, b = v.alias("a"), v.alias("b")
    pairs = a.join(b, F.col("a.id") < F.col("b.id")).select(
        F.col("a.id").alias("id1"),
        F.col("b.id").alias("id2"),
        F.col("a.vec").alias("v1"),
        F.col("b.vec").alias("v2"),
    )
    cos = _dot(F.col("v1"), F.col("v2")) / (_norm(F.col("v1")) * _norm(F.col("v2")))
    return pairs.select("id1", "id2", cos.alias("cosine")).where(F.col("cosine") >= threshold)


def ngram_hashes_interpreted(df, n):
    """The pre-r4 higher-order-function gram builder over (doc_id, text):
    the equality oracle of ``textclean.ngram_hashes``."""
    from pyspark.sql import functions as F

    from graphrag_mrkr_2_spark.operators.textclean import ascii_word_tokens

    toks_df = df.select(
        F.col("doc_id"),
        ascii_word_tokens(F.col("text")).alias("__toks"),
    )
    t = F.col("__toks")
    grams = F.transform(
        F.slice(t, 1, F.greatest(F.size(t) - (n - 1), F.lit(0))),
        lambda w, i: F.xxhash64(
            F.concat_ws(" ", F.array([F.element_at(t, i + j + 1) for j in range(n)]))
        ),
    )
    return toks_df.select(F.col("doc_id"), F.explode(grams).alias("gram_hash"))


def extract_mentions(chunks, llm=None, max_gleanings=1):
    """S4+S5 of the modular chain: run the gleaning extraction per chunk
    of (chunk_id, document_id, content), emit ``triples.MENTION_SCHEMA``
    rows — the per-stage twin of ``triples.extract_mentions_fused``.

    One union table ('entity'/'relationship' rows) so the LLM runs once per
    chunk; split with ``entity_mentions``/``relationship_mentions``.
    """
    from graphrag_mrkr_2_spark.functions.mock_llm import mock_llm_response
    from graphrag_mrkr_2_spark.operators.triples import MENTION_SCHEMA, mention_frame

    llm = llm or mock_llm_response

    def _extract(batches):
        for pdf in batches:
            out = mention_frame(
                zip(pdf["chunk_id"], pdf["document_id"], pdf["content"]), llm, max_gleanings
            )
            if len(out):
                yield out

    return chunks.select("chunk_id", "document_id", "content").mapInPandas(
        _extract, MENTION_SCHEMA
    )


def orphan_entities_per_doc(rels_doc, entities_doc):
    """C5 — endpoints that resolve to no entity by name become orphan rows
    (type '', importance 0, mention_count 0, is_orphan=true;
    entity_graph.py:292-341). Empty by construction after the consolidation
    endpoint check (triples.py:371-376), so ``canonicalize`` does not call
    it; real for a direct-persistence path and exercised by the F4
    fixtures.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StringType

    endpoints = (
        rels_doc.select("document_id", F.col("source_entity").alias("name"))
        .unionByName(rels_doc.select("document_id", F.col("target_entity").alias("name")))
        .withColumn("name_key", F.upper(F.trim(F.col("name"))))
        .dropDuplicates(["document_id", "name_key"])
    )
    known = entities_doc.select(
        "document_id", F.upper(F.trim(F.col("name"))).alias("name_key")
    ).distinct()
    missing = endpoints.join(known, ["document_id", "name_key"], "left_anti")
    return missing.select(
        "document_id",
        F.trim(F.col("name")).alias("name"),
        F.lit("").alias("type"),
        F.lit("").alias("description"),
        F.lit(0.0).alias("importance_score"),
        F.array().cast(ArrayType(StringType())).alias("source_chunks"),
        F.lit(0).cast("long").alias("mention_count"),
        F.lit(True).alias("is_orphan"),
    )


def image_features_binned(media, bins, **kwargs):
    """``multimodal.image_features`` with a ``bins``-bin luminance histogram."""
    from graphrag_mrkr_2_spark.operators import multimodal

    with mock.patch.object(multimodal, "IMAGE_FEATURE_BINS", bins):
        return multimodal.image_features(media, **kwargs)


def modularity(edges, membership: dict) -> float:
    """Weighted modularity (resolution 1) of a membership dict over an edge
    list [(u, v, w)] (the quantity igraph reports alongside the partition)."""
    from graphrag_mrkr_2_spark.functions.leiden import _build

    idx, _, strength, _, two_m = _build(edges)
    if two_m <= 0:
        return 0.0
    intra = 0.0
    tot: dict[int, float] = {}
    for node, i in idx.items():
        c = membership[node]
        tot[c] = tot.get(c, 0.0) + strength[i]
    for u, v, w in edges:
        if membership[u] == membership[v]:
            intra += float(w)
    # each undirected edge counted once in `edges`; modularity uses 2m scale
    # (self-loops contribute w here and 2w to strength — consistent with
    # the _build convention)
    return (2.0 * intra) / two_m - sum(t * t for t in tot.values()) / (two_m * two_m)
