"""Dedup suite + similarity search operators."""

import pytest
from pyspark.sql import functions as F

from graphrag_mrkr_2_spark.operators.ann import brute_force_topk, knn_join
from graphrag_mrkr_2_spark.operators.dedup import (
    embedding_near_dupes,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from helpers import embedding_near_dupes_exact

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog today"),
    (1, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy cat today"),  # near dup
    (3, "completely different content about spark dataframes and shuffles"),
    (4, "another unrelated text regarding distributed query processing"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


@pytest.mark.spark
def test_exact_duplicates(docs_df):
    rows = exact_duplicates(docs_df).collect()
    assert len(rows) == 1
    assert rows[0]["n_docs"] == 2 and rows[0]["representative"] == 0


@pytest.mark.spark
def test_ngram_jaccard(docs_df):
    pairs = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == pytest.approx(1.0)
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.3
    assert not any(3 in p or 4 in p for p in pairs)


@pytest.mark.spark
def test_minhash_verified_equals_exact(docs_df):
    """Verified LSH output must equal brute-force Jaccard pairs (recall 1.0
    expected at these sizes with 64 hashes / 16 bands)."""
    exact = {
        (r["doc1"], r["doc2"])
        for r in ngram_jaccard_pairs(docs_df, threshold=0.3).collect()
    }
    lsh = {
        (r["doc1"], r["doc2"])
        for r in minhash_lsh_pairs(docs_df, threshold=0.3).collect()
    }
    assert lsh == exact


@pytest.mark.spark
def test_simhash_near_dupes(docs_df):
    """One word changed in a 10-word doc flips many vote bits (hamming 13
    under the md5 word hash), so the near-dup assertion uses a threshold
    that covers it; banding is exact-recall for any threshold by
    construction (r+1 bands)."""
    pairs = {(r["doc1"], r["doc2"]): r["hamming"] for r in simhash_pairs(docs_df, max_hamming=16).collect()}
    assert pairs[(0, 1)] == 0  # identical text -> identical fingerprint
    assert (0, 2) in pairs and 0 < pairs[(0, 2)] <= 16
    assert (3, 4) not in pairs  # unrelated docs stay apart


@pytest.mark.spark
def test_simhash_banding_exact_recall_vs_bruteforce(spark):
    """Band-join pair set == brute-force hamming filter (recall 1.0 by
    pigeonhole) on a corpus of small perturbations of one long doc."""
    base_words = [f"word{i}" for i in range(120)]
    rows = [(0, " ".join(base_words))]
    for j in range(1, 8):
        w = list(base_words)
        w[j] = f"changed{j}"  # 1-word delta on a 120-word doc -> small hamming
        rows.append((j, " ".join(w)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    from graphrag_mrkr_2_spark.operators.dedup import simhash_fingerprints

    fps = {r["doc"]: r["simhash"] for r in simhash_fingerprints(df).collect()}
    expected = {
        (a, b)
        for a in fps
        for b in fps
        if a < b and bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1") <= 6
    }
    got = {(r["doc1"], r["doc2"]) for r in simhash_pairs(df, max_hamming=6).collect()}
    assert got == expected and expected, f"expected {len(expected)} pairs"


@pytest.mark.spark
def test_simhash_garbage_corpus_emits_no_pairs(spark):
    """VERDICT r2 'Next round' #4: with no min_words floor, 1k empty/
    whitespace docs all fingerprint to 0 and pair as a quadratic hamming-0
    clique (~500k pairs). The default min_words=1 guard drops them before
    the UDF: zero pairs among garbage, real dups still found."""
    garbage = [(i, ["", "   ", "\t\n  ", None][i % 4]) for i in range(1000)]
    real = [(10_000, "the same actual sentence"), (10_001, "the same actual sentence")]
    df = spark.createDataFrame(garbage + real, "doc_id long, text string")
    pairs = {(r["doc1"], r["doc2"]) for r in simhash_pairs(df, max_hamming=3).collect()}
    assert pairs == {(10_000, 10_001)}
    # fingerprints are simply absent for the garbage docs
    from graphrag_mrkr_2_spark.operators.dedup import simhash_fingerprints

    assert simhash_fingerprints(df).count() == 2


@pytest.mark.spark
def test_simhash_max_hamming_zero_single_band(spark):
    """max_hamming=0 -> one 64-bit band; the (1<<64)-1 literal the r2 code
    built does not fit LongType (ADVICE r2) — the band must be the unmasked
    fingerprint. Only exact-fingerprint pairs survive."""
    rows = [
        (0, "alpha beta gamma delta"),
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma epsilon"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["doc1"], r["doc2"]): r["hamming"]
        for r in simhash_pairs(df, max_hamming=0).collect()
    }
    assert pairs == {(0, 1): 0}


@pytest.mark.spark
def test_shingle_tokens_equals_with_shingles(spark):
    """The codegen scan path (posexplode + window leads) must produce the
    exact (doc, shingle) set of the array path — including the sub-n-word
    tail, empty strings, and multi-space collapse."""
    from graphrag_mrkr_2_spark.operators.dedup import shingle_tokens, with_shingles

    rows = [
        (0, "one two three four five"),
        (1, "two words"),
        (2, "single"),
        (3, ""),
        (4, "  spaced   out   tokens   here  "),
        (5, "dup dup dup dup"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    via_arrays = {
        (r["doc_id"], s)
        for r in with_shingles(df).collect()
        for s in r["shingles"]
    }
    via_tokens = {
        (r["doc"], r["shingle"]) for r in shingle_tokens(df).collect()
    }
    assert via_tokens == via_arrays


@pytest.mark.spark
def test_hot_shingle_cap(spark):
    df = spark.createDataFrame(
        [(i, "same boilerplate everywhere common") for i in range(10)], ["doc_id", "text"]
    )
    capped = ngram_jaccard_pairs(df, threshold=0.1, max_shingle_df=5)
    assert capped.count() == 0  # all shingles hot -> no pairs generated


@pytest.fixture(scope="module")
def emb_df(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


@pytest.mark.spark
def test_brute_force_topk_self_first(emb_df):
    qv = emb_df.where(F.col("vec_id") == 5).collect()[0]["embedding"]
    top = brute_force_topk(emb_df, qv, k=5).collect()
    assert top[0]["vec_id"] == 5 and top[0]["cosine"] == pytest.approx(1.0)
    scores = [r["cosine"] for r in top]
    assert scores == sorted(scores, reverse=True)


@pytest.mark.spark
def test_knn_join_matches_brute_force(emb_df):
    queries = emb_df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = knn_join(emb_df, queries, k=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    for qid in (0, 1, 2):
        qv = emb_df.where(F.col("vec_id") == qid).collect()[0]["embedding"]
        expect = [r["vec_id"] for r in brute_force_topk(emb_df, qv, k=4).collect()]
        assert [v for _, v in sorted(by_q[qid])] == expect


@pytest.mark.spark
def test_embedding_near_dupes_finds_planted(spark):
    base = [0.1, 0.9, 0.2, 0.4]
    rows = [
        (1, base),
        (2, [x * 2 for x in base]),  # same direction -> cosine 1
        (3, [0.9, -0.1, 0.3, -0.7]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    pairs = embedding_near_dupes(df, threshold=0.99).collect()
    assert [(p["id1"], p["id2"]) for p in pairs] == [(1, 2)]


@pytest.mark.spark
def test_embedding_near_dupes_lsh_equals_exact(spark):
    """The default (bucketed LSH + exact verify) must equal the quadratic
    baseline on a fixture with planted near-dupes well above τ — the scale
    path can't silently trade correctness (VERDICT r1 'What's wrong' #4)."""
    import numpy as np

    rng = np.random.RandomState(11)
    base = rng.normal(size=(40, 64))
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    # plant 10 near-dupes: tiny perturbations of vectors 0..9 (cosine > 0.99)
    for j in range(10):
        pert = base[j] + rng.normal(scale=0.02, size=64)
        rows.append((100 + j, [float(x) for x in pert]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    exact = {
        (r["id1"], r["id2"])
        for r in embedding_near_dupes_exact(df, threshold=0.95).collect()
    }
    lsh = {
        (r["id1"], r["id2"])
        for r in embedding_near_dupes(df, threshold=0.95).collect()
    }
    assert all((j, 100 + j) in exact for j in range(10))
    assert lsh == exact


# ---------------------------------------------------------------------------
# IVF ANN (operators/ann.py ivf_train / ivf_topk)
# ---------------------------------------------------------------------------


@pytest.mark.spark
def test_ivf_full_probe_equals_exact_knn(emb_df):
    """nprobe == n_lists must reproduce knn_join EXACTLY, whatever the
    k-means quantizer learned — the driver oracle (ann_ivf_full) pins the
    same property against DuckDB at sf0.01."""
    from graphrag_mrkr_2_spark.operators.ann import ivf_topk, ivf_train, knn_join

    queries = emb_df.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = ivf_train(emb_df, n_lists=4, max_iter=2)
    assert centroids.shape == (4, 64)
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in ivf_topk(emb_df, queries, centroids, k=3, nprobe=4).collect()
    )
    exact = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in knn_join(emb_df, queries, k=3).collect()
    )
    assert got == exact


@pytest.mark.spark
def test_ivf_partial_probe_recall_on_clustered_data(spark):
    """Gaussian blobs around 8 anchors: probing 2 of 8 lists must still
    find the true nearest neighbor for >= 90% of queries (the blob
    structure is what IVF exploits)."""
    import numpy as np

    from graphrag_mrkr_2_spark.operators.ann import ivf_topk, ivf_train, knn_join

    rng = np.random.RandomState(3)
    anchors = rng.normal(size=(8, 16))
    rows = []
    for i in range(400):
        a = anchors[i % 8]
        rows.append((i, (a + 0.05 * rng.normal(size=16)).tolist()))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    queries = df.where(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = ivf_train(df, n_lists=8, max_iter=4)
    got = {
        r["query_id"]: r["vec_id"]
        for r in ivf_topk(df, queries, centroids, k=1, nprobe=2).collect()
        if r["rank"] == 1
    }
    exact = {
        r["query_id"]: r["vec_id"]
        for r in knn_join(df, queries, k=1).collect()
        if r["rank"] == 1
    }
    hits = sum(1 for q in exact if got.get(q) == exact[q])
    assert hits / len(exact) >= 0.9
    # and the probed candidate set is genuinely partial: with tight blobs,
    # a query's own list plus one neighbor can't cover all 400 items
    from graphrag_mrkr_2_spark.operators.ann import ivf_assign

    sizes = ivf_assign(df, centroids).groupBy("list_id").count().collect()
    assert len(sizes) >= 4  # k-means actually spread the corpus


@pytest.mark.spark
def test_ivf_train_requires_enough_vectors(spark):
    from graphrag_mrkr_2_spark.operators.ann import ivf_train

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id int, embedding array<double>"
    )
    with pytest.raises(ValueError, match="train"):
        ivf_train(df, n_lists=5)


def test_numpy_rehash_matches_spark_xxhash64(spark):
    """r8: minhash_signatures' vectorized k-fold re-hash must reproduce the
    JVM expression xxhash64(h_long, lit(int_i)) bit-for-bit — the whole
    LSH candidate set rides on it."""
    import numpy as np

    from pyspark.sql import functions as F

    from graphrag_mrkr_2_spark.operators.dedup import _xxhash64_rehash_matrix

    rng = np.random.default_rng(11)
    vals = rng.integers(-2**63, 2**63 - 1, 500, dtype=np.int64)
    vals[:4] = [0, -1, 2**63 - 1, -2**63]  # boundary longs
    mat = _xxhash64_rehash_matrix(vals, 8)
    df = spark.createDataFrame([(int(v),) for v in vals], "h long")
    for i in (0, 3, 7):
        got = [r[0] for r in df.select(F.xxhash64("h", F.lit(i))).collect()]
        assert got == mat[:, i].tolist()


def test_numpy_hash_int_step_matches_spark_xxhash64(spark):
    """The hashInt step seeded with Spark's xxhash64(gram) must equal the
    JVM expression xxhash64(gram, lit(i)): entity resolution's driver path
    builds its minhash slots this way. A null gram is skipped by Spark's
    field chain, so its seed is the bare seed 42."""
    import numpy as np

    from pyspark.sql import functions as F

    from graphrag_mrkr_2_spark.operators.dedup import _xxh64_hash_int

    grams = [" ad", "adm", "pan", "ß", "İs", "東京都", "a", " ", None]
    df = spark.createDataFrame([(g,) for g in grams], "gram string")
    seed_rows = df.select(F.xxhash64("gram")).collect()
    assert seed_rows[-1][0] == 42
    seeds = np.array([r[0] for r in seed_rows], np.int64).view(np.uint64)
    mat = _xxh64_hash_int(seeds[:, None], np.arange(32))
    want = df.select(*[F.xxhash64("gram", F.lit(i)) for i in range(32)]).collect()
    assert mat.tolist() == [list(r) for r in want]


def test_minhash_signatures_match_jvm_aggregate_form(spark, monkeypatch):
    """The r8 numpy signature stage must equal the r2-r7 JVM k-min-agg
    form exactly (same hash family over the same shingle set)."""
    import random

    from pyspark.sql import functions as F

    from graphrag_mrkr_2_spark.operators import dedup
    from graphrag_mrkr_2_spark.operators.dedup import (
        minhash_signatures,
        shingle_tokens,
    )

    random.seed(3)
    words = [f"w{j}" for j in range(40)]
    rows = [
        (i, " ".join(random.choice(words) for _ in range(random.randint(0, 30))))
        for i in range(60)
    ] + [(1000, ""), (1001, "one two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(dedup, "MINHASH_HASHES", 16)
    got = {r["doc"]: list(r["signature"])
           for r in minhash_signatures(df).collect()}
    toks = shingle_tokens(df).select("doc", F.xxhash64("shingle").alias("h"))
    aggs = [F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"m{i}") for i in range(16)]
    ref = {r["doc"]: [r[f"m{i}"] for i in range(16)]
           for r in toks.groupBy("doc").agg(*aggs).collect()}
    assert got == ref

    # string ids keep their type through the python stage
    sdf = df.select(F.concat(F.lit("d"), F.col("doc_id")).alias("doc_id"), "text")
    monkeypatch.setattr(dedup, "MINHASH_HASHES", 4)
    srows = minhash_signatures(sdf).collect()
    assert srows and all(isinstance(r["doc"], str) for r in srows)


def _walk(batches):
    """sorted_runs over pandas batches of (k, v): [(key, [v...])]."""
    from graphrag_mrkr_2_spark.operators.dedup import sorted_runs

    cols = ((pdf["k"].to_numpy(), (pdf["v"].to_numpy(),)) for pdf in batches)
    return [(k, list(v)) for k, (v,) in sorted_runs(cols)]


def _batches(*keys_per_batch):
    import pandas as pd

    out, i = [], 0
    for keys in keys_per_batch:
        out.append(pd.DataFrame({"k": pd.Series(keys, dtype=object), "v": range(i, i + len(keys))}))
        i += len(keys)
    return out


def test_sorted_runs_joins_runs_across_batch_edges():
    assert _walk(_batches(["a", "a"], ["a", "b"], ["b"])) == [("a", [0, 1, 2]), ("b", [3, 4])]


def test_sorted_runs_rejects_a_key_after_its_run():
    with pytest.raises(ValueError, match="reappears"):
        _walk(_batches(["a", "b"], ["a"]))
    with pytest.raises(ValueError, match="reappears"):
        _walk(_batches(["a", "b", "a"]))


def test_sorted_runs_empty_batch_changes_nothing():
    plain = _walk(_batches(["a", "a"], ["a", "b"], ["b"]))
    assert _walk(_batches(["a", "a"], [], ["a", "b"], [], ["b"])) == plain
    assert _walk(_batches([], [])) == []


def test_sorted_runs_null_key_is_its_own_run():
    assert _walk(_batches(["a", None], [None, "b"])) == [("a", [0]), (None, [1, 2]), ("b", [3])]
    # float keys: pandas turns a null long into NaN, which must still run
    import numpy as np

    from graphrag_mrkr_2_spark.operators.dedup import sorted_runs

    keys = [np.array([1.0, np.nan]), np.array([np.nan, 2.0])]
    got = [(k, list(v)) for k, (v,) in sorted_runs((k, (k,)) for k in keys)]
    assert [k for k, _ in got] == [1.0, None, 2.0] and len(got[1][1]) == 2
    # a null run that comes back is out of order too
    with pytest.raises(ValueError):
        _walk(_batches([None, "a"], [None]))
