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
    min(entity_id) per component. An input of at most
    graphalgo.LOCAL_EDGE_LIMIT rows scored on Jaccard alone runs steps 1-4
    on the driver after one collect of (id, grams, gram hashes), with the
    same hashes, bands, scores and min-id components (``_map_on_driver``);
    larger inputs run them as the Spark jobs above;
 5. application: broadcast-join the (entity_id → canonical_id) mapping onto
    nodes/edges — the C8 "redirect edges" semantics as one join instead of
    per-node APOC calls.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..session import pin
from . import graphalgo
from .ann import _as_double, _dot, _norm
from .dedup import _minhash_buckets, _xxh64_hash_int, band_pairs, char_ngram_tokens


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
    north star's three scoring legs, each computed on candidates only.

    With the Jaccard leg alone (every product caller's gate), an input of
    at most graphalgo.LOCAL_EDGE_LIMIT rows is resolved on the driver after
    one collect (``_map_on_driver``); a limit of 0 disables that path, as it
    does connected_components' and detect_communities'. Larger inputs, and
    the cosine and TF-IDF legs, run blocking, scoring and CC on Spark. Both
    paths return the same rows.

    Crossover (4 cores, local[4], Spark 4.1.2; whole call on a pinned input
    plus one count of the merged rows, median of 3, driver path vs Spark
    path with LOCAL_EDGE_LIMIT=0). Names are two-word bases written as
    given, upper-cased and with a company suffix, threshold 0.7; shared
    suffixes make candidates grow faster than names (3.3M at 50k):

        names      10k          50k           100k
        seconds    0.75 / 2.32  5.14 / 11.91  16.79 / 44.58

    The driver path wins at every size up to the limit, so ER keeps the
    shared limit. At the limit the collect holds every name's grams and
    gram hashes in this process; the per-slot signature loop and the
    blocked Jaccard bound the numpy working set."""
    cosine_leg = bool(vec_col) and cosine_threshold is not None
    limit = graphalgo.LOCAL_EDGE_LIMIT
    if limit > 0 and not cosine_leg and tfidf_threshold is None:
        # one narrow projection, pinned once and counted in the same pass.
        # Spark builds the grams (JVM case mapping, spaces-only trim) and
        # each gram's xxhash64, the seed of every minhash slot
        obs = Observation()
        proj = pin(
            entities.select(
                F.col("entity_id").alias("id"),
                _char_ngrams_expr(F.col("name"), n).alias("grams"),
            )
            .withColumn("hs", F.transform("grams", lambda g: F.xxhash64(g)))
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        if obs.get["n"] <= limit:
            return _map_on_driver(proj, threshold, num_hashes, bands)
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
    if cosine_leg:
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
    comp = graphalgo.connected_components(matches, "id1", "id2")
    all_ids = entities.select(F.col("entity_id").alias("node")).distinct()
    return (
        all_ids.join(comp, "node", "left")
        .select(
            F.col("node").alias("entity_id"),
            F.coalesce(F.col("component"), F.col("node")).alias("canonical_id"),
        )
    )


def _map_on_driver(proj: DataFrame, threshold: float, num_hashes: int, bands: int) -> DataFrame:
    """Pinned (id, grams, hs) rows → (entity_id, canonical_id), resolved in
    this process with the Spark path's blocking, scoring and clustering:

    - slot i of an id's signature is the min over the grams of all its rows
      of Spark's ``xxhash64(gram, lit(i))``: the ``hashInt`` step seeded
      with the gram's ``xxhash64`` (``hs``), one numpy call per slot;
    - ids sharing all ``num_hashes // bands`` slots of a band are candidates
      (id1 < id2). A bucket is keyed by the slots themselves, so it differs
      from Spark's ``xxhash64(concat_ws(...))`` bucket only on a 64-bit
      hash collision;
    - a candidate matches when the set Jaccard ``inter / (|A| + |B| -
      inter)`` of some row of each id is at least ``threshold``, as the
      Spark path scores every pair of their rows;
    - matches are clustered by graphalgo._union_find (min id per component).

    Every distinct id, null included, gets a row. The mapping is
    graphalgo.root_relation's Arrow-built LocalRelation, as
    connected_components' local path returns, so reading it starts no
    Python-worker stage."""
    rows = proj.collect()
    # null ids never pair: the band join's id1 < id2 is null-rejecting.
    # Sorted, so index order is id order: i < j means id1 < id2
    ids = sorted({r["id"] for r in rows if r["id"] is not None})
    comp: dict = {}
    if ids:
        index = {k: j for j, k in enumerate(ids)}
        named = [r for r in rows if r["id"] is not None]
        ent = np.array([index[r["id"]] for r in named], np.int64)
        lens = np.array([len(r["grams"]) for r in named], np.int64)
        starts = np.cumsum(lens) - lens
        seed = np.array([h for r in named for h in r["hs"]], np.int64).view(np.uint64)
        # per slot, not one (grams x num_hashes) matrix: bounded memory at the gate
        row_sig = np.column_stack(
            [
                np.minimum.reduceat(_xxh64_hash_int(seed, np.array(i)), starts)
                for i in range(num_hashes)
            ]
        )
        sig = np.full((len(ids), num_hashes), np.iinfo(np.int64).max)
        np.minimum.at(sig, ent, row_sig)
        i, j = _band_candidates(sig, bands)

        # a candidate's row pairs: the cross product of the two ids' rows
        n_rows = np.bincount(ent, minlength=len(ids))
        by_ent = np.argsort(ent, kind="stable")
        first = np.cumsum(n_rows) - n_rows
        m = n_rows[i] * n_rows[j]
        cand = np.repeat(np.arange(len(i)), m)
        t = np.arange(len(cand)) - np.repeat(np.cumsum(m) - m, m)
        ra = by_ent[first[i[cand]] + t // n_rows[j[cand]]]
        rb = by_ent[first[j[cand]] + t % n_rows[j[cand]]]

        vocab: dict = {}
        grams = np.array([vocab.setdefault(g, len(vocab)) for r in named for g in r["grams"]])
        # sort each row's gram ids: the row-major keys stay in row blocks
        owner = np.repeat(np.arange(len(named)), lens)
        grams = np.sort(owner * len(vocab) + grams) - owner * len(vocab)
        inter = _shared_counts(starts, lens, grams, len(vocab), ra, rb)
        hits = np.unique(cand[inter / (lens[ra] + lens[rb] - inter) >= threshold])
        comp = graphalgo._union_find((ids[i[k]], ids[j[k]]) for k in hits)

    keys = list(dict.fromkeys(r["id"] for r in rows))
    return graphalgo.root_relation(
        proj.sparkSession, keys, comp, proj.schema["id"], ("entity_id", "canonical_id")
    )


def _band_candidates(sig: np.ndarray, bands: int) -> tuple[np.ndarray, np.ndarray]:
    """Index pairs (i, j), i < j, of signature rows equal on every slot of
    at least one of ``bands`` equal-width bands: per band, sort the rows by
    bucket and pair each member with the later members of its bucket."""
    n, r = len(sig), sig.shape[1] // bands
    codes = []
    for b in range(bands):
        _, inv = np.unique(sig[:, b * r : (b + 1) * r], axis=0, return_inverse=True)
        # stable: members of a bucket keep ascending row order
        order = np.argsort(inv.ravel(), kind="stable")
        bucket = inv.ravel()[order]
        start = np.flatnonzero(np.r_[True, bucket[1:] != bucket[:-1]])
        size = np.diff(np.r_[start, n])
        later = np.repeat(start + size, size) - np.arange(n) - 1
        left = np.repeat(np.arange(n), later)
        right = left + 1 + np.arange(len(left)) - np.repeat(np.cumsum(later) - later, later)
        codes.append(order[left] * n + order[right])
    pairs = np.unique(np.concatenate(codes))
    return pairs // n, pairs % n


def _shared_counts(starts, lens, grams, n_grams, ra, rb) -> np.ndarray:
    """|grams(ra[k]) ∩ grams(rb[k])| for every k, over rows whose gram ids
    are ``grams[starts[r] : starts[r] + lens[r]]``, sorted ascending.

    Per block of pairs, each side's grams become sorted, distinct
    ``k * n_grams + gram`` keys; a stable sort merges the two sorted runs in
    linear time, and a shared gram is a key that appears twice. Blocks
    bound the memory."""
    out = np.zeros(len(ra), np.int64)
    for lo in range(0, len(ra), 1 << 16):
        a, b = ra[lo : lo + (1 << 16)], rb[lo : lo + (1 << 16)]
        keys = np.sort(
            np.concatenate(
                [_pair_keys(starts, lens, grams, n_grams, a), _pair_keys(starts, lens, grams, n_grams, b)]
            ),
            kind="stable",
        )
        shared = keys[1:][keys[1:] == keys[:-1]]
        out[lo : lo + len(a)] = np.bincount(shared // n_grams, minlength=len(a))
    return out


def _pair_keys(starts, lens, grams, n_grams, rows) -> np.ndarray:
    """Keys ``k * n_grams + gram`` of the grams of ``rows[k]``, in order."""
    n = lens[rows]
    owner = np.repeat(np.arange(len(rows)), n)
    pos = np.arange(len(owner)) - np.repeat(np.cumsum(n) - n - starts[rows], n)
    return owner * n_grams + grams[pos]


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
