"""S7: entity resolution — LSH blocking + scoring + connected components.

The reference resolves entities only by exact normalized-name identity (C6,
md5(lower(name))) plus manual merge_nodes curation (C8,
core/graph_db.py:799-902) and entity SIMILAR_TO edges (J2). The north star
requires automatic cross-document ER at scale: minhash-LSH candidate
blocking over name character-3-grams, similarity scoring, and a
connected-components canonical mapping (BASELINE.json north_star).

Pipeline:
 1. blocking: character n-gram minhash over normalized names, banded LSH →
    candidate pairs (one bucket-keyed shuffle; no quadratic blowup);
 2. scoring: exact n-gram Jaccard (cheap, JVM) and optionally embedding
    cosine on the candidate pairs only;
 3. match graph: pairs with score >= τ;
 4. canonicalization: connected components (graphalgo.py) → canonical_id =
    min(entity_id) per component;
 5. application: broadcast-join the (entity_id → canonical_id) mapping onto
    nodes/edges — the C8 "redirect edges" semantics as one join instead of
    per-node APOC calls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pin
from .ann import _as_double, _dot, _norm
from .dedup import _minhash_buckets, band_pairs, char_ngram_tokens
from .graphalgo import connected_components


def _char_ngrams_expr(name_col, n: int):
    """Distinct character n-grams of lower(name) (padded for short names)."""
    padded = F.concat(F.lit(" "), F.lower(F.trim(name_col)), F.lit(" "))
    idx = F.sequence(F.lit(1), F.greatest(F.length(padded) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: padded.substr(i, F.lit(n))))


def candidate_pairs(
    entities: DataFrame,
    id_col: str = "entity_id",
    name_col: str = "name",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """LSH candidate pairs (id1 < id2) from banded minhash over name n-grams.

    Signatures are built on exploded (id, gram) rows — ``num_hashes`` min()
    aggregates in ONE groupBy over ``dedup.char_ngram_tokens`` output
    (whole-stage codegen + map-side partial agg), replacing the r2
    array_min(transform(...)) higher-order expressions that Catalyst
    interprets per-element (~2× map cost measured on the word-shingle twin;
    VERDICT r2 'Next round' #3). Same hash family — min over the same
    distinct gram set of xxhash64(gram, seed=i) — so outputs are
    hash-identical to the r2 path (er_name_clusters oracle unchanged).
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    toks = char_ngram_tokens(entities, id_col, name_col, n)
    # materialize once (r8): the band self-join below references this
    # subtree from BOTH sides and only the bottom exchange is runtime-
    # reused — without the checkpoint the gram explode + k-min agg ran
    # twice (same finding as minhash_lsh_pairs). Rows are (id, k longs).
    sigs = pin(
        toks.groupBy("id")
        .agg(
            *[
                F.min(F.xxhash64(F.col("gram"), F.lit(i))).alias(f"m{i}")
                for i in range(num_hashes)
            ]
        )
        .select(
            "id",
            F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("signature"),
        )
    )
    return band_pairs(_minhash_buckets(sigs, "id", bands, r))


def score_pairs(
    pairs: DataFrame,
    entities: DataFrame,
    id_col: str = "entity_id",
    name_col: str = "name",
    n: int = 3,
    vec_col: str | None = None,
) -> DataFrame:
    """Similarity scoring on candidate pairs only (never all-pairs).

    Always computes exact name n-gram Jaccard; when ``vec_col`` names an
    embedding column on ``entities``, also computes embedding cosine — the
    north star's "TF-IDF/embedding cosine scoring" leg — so callers can
    gate matches on either or both signals.
    """
    cols = [F.col(id_col).alias("id"), _char_ngrams_expr(F.col(name_col), n).alias("grams")]
    if vec_col:
        cols.append(_as_double(F.col(vec_col)).alias("vec"))
    g = entities.select(*cols)

    def _side(side: str) -> DataFrame:
        out = g.withColumnRenamed("id", side).withColumnRenamed("grams", f"g_{side}")
        if vec_col:
            out = out.withColumnRenamed("vec", f"v_{side}")
        return out

    scored = (
        pairs.join(_side("id1"), "id1")
        .join(_side("id2"), "id2")
        .withColumn("inter", F.size(F.array_intersect("g_id1", "g_id2")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.size("g_id1") + F.size("g_id2") - F.col("inter")),
        )
    )
    out_cols = ["id1", "id2", "jaccard"]
    if vec_col:
        v1, v2 = F.col("v_id1"), F.col("v_id2")
        scored = scored.withColumn("cosine", _dot(v1, v2) / (_norm(v1) * _norm(v2)))
        out_cols.append("cosine")
    return scored.select(*out_cols)


def tfidf_scores(pairs: DataFrame, entities: DataFrame) -> DataFrame:
    """TF-IDF cosine over (entity_id, name) tokens for candidate pairs — the north
    star's "TF-IDF ... cosine scoring" leg, computed corpus-wide:

      tf(id, t)  = token count within the entity's name
      idf(t)     = ln((N + 1) / (df_t + 1)) + 1   (smoothed)
      w          = tf * idf;   score = Σ_shared w1*w2 / (||w1|| * ||w2||)

    Plan: one explode + two groupBys build the weight table (map-side
    partial agg, keyed by entity id / token — high-cardinality keys), the
    corpus size N rides as a broadcast 1-row aggregate (no driver collect),
    and scoring joins WEIGHTS onto the candidate pairs only — never
    all-pairs. Everything JVM-side.
    """
    toks = entities.select(
        F.col("entity_id").alias("id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("name"))), r"[^a-z0-9]+"),
                lambda w: w != "",
            )
        ).alias("token"),
    )
    tf = toks.groupBy("id", "token").agg(F.count(F.lit(1)).alias("tf"))
    n_total = entities.select(
        F.countDistinct(F.col("entity_id")).alias("n_docs")
    )
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    weights = (
        tf.join(df_t, "token")
        .crossJoin(F.broadcast(n_total))
        .withColumn(
            "w",
            F.col("tf")
            * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + F.lit(1.0)),
        )
        .select("id", "token", "w")
    )
    norms = weights.groupBy("id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
    )
    w1 = weights.select(
        F.col("id").alias("id1"), "token", F.col("w").alias("w1")
    )
    w2 = weights.select(
        F.col("id").alias("id2"), "token", F.col("w").alias("w2")
    )
    dots = (
        pairs.join(w1, "id1")
        .join(w2, ["id2", "token"])
        .groupBy("id1", "id2")
        .agg(F.sum(F.col("w1") * F.col("w2")).alias("dot"))
    )
    return (
        pairs.join(dots, ["id1", "id2"], "left")
        .join(norms.withColumnRenamed("id", "id1").withColumnRenamed("norm", "n1"), "id1")
        .join(norms.withColumnRenamed("id", "id2").withColumnRenamed("norm", "n2"), "id2")
        .select(
            "id1",
            "id2",
            (F.coalesce(F.col("dot"), F.lit(0.0)) / (F.col("n1") * F.col("n2"))).alias(
                "tfidf_cosine"
            ),
        )
    )


def entity_mapping(
    entities: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    vec_col: str | None = None,
    cosine_threshold: float | None = None,
    tfidf_threshold: float | None = None,
) -> DataFrame:
    """(entity_id → canonical_id) via LSH blocking → scoring → CC (min id root).

    Match gate: name Jaccard ≥ threshold, OR (when ``vec_col`` +
    ``cosine_threshold`` are given) embedding cosine ≥ cosine_threshold,
    OR (when ``tfidf_threshold`` is given) name TF-IDF cosine ≥ it — the
    north star's three scoring legs, each computed on candidates only."""
    cands = candidate_pairs(entities, n=n, num_hashes=num_hashes, bands=bands)
    if tfidf_threshold is not None:
        # two consumers (jaccard scoring + tfidf scoring) — materialize the
        # blocking output once instead of recomputing the LSH DAG per branch.
        # (r8: an UNCONDITIONAL checkpoint here was tried and reverted — the
        # extra job barrier measured 0.3-0.5 s slower than letting the two
        # scoring-side joins re-read the one-job pipelined plan at sf0.1;
        # the signature subtree, the expensive half, is already
        # checkpointed inside candidate_pairs.)
        cands = pin(cands)
    scored = score_pairs(cands, entities, n=n, vec_col=vec_col)
    gate = F.col("jaccard") >= threshold
    if vec_col and cosine_threshold is not None:
        gate = gate | (F.col("cosine") >= cosine_threshold)
    if tfidf_threshold is not None:
        # LEFT join + coalesce(0): a pair whose names have no [a-z0-9]
        # tokens (CJK, punctuation) has no tfidf row — it must still flow
        # through the jaccard/cosine gates, scoring 0 on this signal only
        scored = scored.join(
            tfidf_scores(cands, entities),
            ["id1", "id2"],
            "left",
        ).withColumn("tfidf_cosine", F.coalesce(F.col("tfidf_cosine"), F.lit(0.0)))
        gate = gate | (F.col("tfidf_cosine") >= tfidf_threshold)
    matches = scored.where(gate)
    comp = connected_components(matches, "id1", "id2")
    all_ids = entities.select(F.col("entity_id").alias("node")).distinct()
    return (
        all_ids.join(comp, "node", "left")
        .select(
            F.col("node").alias("entity_id"),
            F.coalesce(F.col("component"), F.col("node")).alias("canonical_id"),
        )
    )


def apply_mapping(df: DataFrame, mapping: DataFrame, cols: list[str]) -> DataFrame:
    """Rewrite the given id columns through the canonical mapping
    (broadcast join per column — C8's edge redirect as joins)."""
    out = df
    for c in cols:
        m = mapping.select(
            F.col("entity_id").alias(c), F.col("canonical_id").alias(f"__canon_{c}")
        )
        out = (
            out.join(F.broadcast(m), c, "left")
            .withColumn(c, F.coalesce(F.col(f"__canon_{c}"), F.col(c)))
            .drop(f"__canon_{c}")
        )
    return out
