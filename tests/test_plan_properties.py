"""Physical-plan regression tests — the 100 TB properties, asserted.

Correctness tests prove the operators compute the right answers at small
scale; these pin the PLAN properties that decide whether the same code
survives a 1000-executor cluster (task brief: "explain('formatted') the
plan and iterate until it's the plan you'd want"):

- predicate pushdown + column pruning reach the parquet scan,
- the small side of a kNN join broadcasts,
- corpus aggregations partial-aggregate map-side (HashAggregate pairs),
- the dedup scan path contains no Python (BatchEvalPython) stages,
- no accidental CartesianProduct anywhere it isn't explicitly designed
  (knn_join's broadcast cross is the one deliberate exception).

A refactor that silently regresses one of these still passes the value
oracles — this file makes the regression loud.
"""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


@pytest.mark.spark
def test_filter_and_projection_reach_parquet_scan(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.where(F.col("lang") == "en").select("doc_id")
    plan = _plan(q)
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[1][:200]
    # ReadSchema must not include the wide text column for a doc_id projection
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "text" not in read_schema


@pytest.mark.spark
def test_knn_join_broadcasts_query_side(spark):
    from graphrag_mrkr_2_spark.operators.ann import knn_join

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    plan = _plan(knn_join(emb, q, k=3))
    assert "BroadcastExchange" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


@pytest.mark.spark
def test_exact_dedup_partial_aggregates(spark):
    from graphrag_mrkr_2_spark.operators.dedup import exact_duplicates

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(exact_duplicates(docs))
    # partial + final HashAggregate around one Exchange: map-side combine
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


@pytest.mark.spark
def test_minhash_scan_path_shape(spark):
    """Shingle build + string hashing stay JVM codegen; the ONLY Python in
    the signature plan is the single vectorized mapInPandas re-hash stage
    (r8 — numpy k-fold XXH64, bit-identical to the JVM aggregate form per
    test_dedup_ann), fed by ONE exchange that carries compact pre-explode
    rows; never row-at-a-time Python, never a cross join."""
    from graphrag_mrkr_2_spark.operators.dedup import (
        _minhash_candidates,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sig_plan = _plan(minhash_signatures(docs))
    assert "BatchEvalPython" not in sig_plan and "ArrowEvalPython" not in sig_plan
    tree = sig_plan.split("\n\n")[0]
    assert tree.count("MapInPandas") == 1
    assert tree.count("Exchange") == 1

    plan = _plan(_minhash_candidates(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the candidate join is an equi-join on (band, bucket), never a cross
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


@pytest.mark.spark
def test_content_filter_is_codegen_no_python(spark):
    from graphrag_mrkr_2_spark.operators.extract import with_content_filter

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(with_content_filter(docs, content_col="text"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the repetition check carries one filter() higher-order expression
    # (interpreted, still JVM) — the projection itself must stay a single
    # narrow Project over the scan with no exchange
    assert "Exchange" not in plan


@pytest.mark.spark
def test_bm25_single_plan_no_cartesian_blowup(spark):
    from graphrag_mrkr_2_spark.operators.query import bm25_search, build_bm25_index

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("chunk_id"), F.col("text").alias("content")
    )
    plan = _plan(bm25_search(build_bm25_index(docs), ["data", "report"], top_k=5))
    # corpus scalars ride as a broadcast 1-row aggregate: a single broadcast
    # nested-loop join against one row is fine, a shuffled cartesian is not
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


@pytest.mark.spark
def test_ngram_pairs_join_is_equi_join(spark):
    from graphrag_mrkr_2_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(ngram_jaccard_pairs(docs, threshold=0.5))
    assert "CartesianProduct" not in plan


def test_pii_redaction_is_codegen_no_python(spark):
    """redact_pii must stay entirely JVM-side (regexp chain, no UDFs)."""
    from graphrag_mrkr_2_spark.operators.textclean import redact_pii

    df = spark.createDataFrame([("d", "x")], "doc_id string, text string")
    plan = _plan(redact_pii(df))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_repetition_stats_partial_aggregates(spark):
    """Both groupBy levels must show map-side partial aggregation."""
    from graphrag_mrkr_2_spark.operators.textclean import repetition_stats

    df = spark.createDataFrame([("d", "a b\nc d")], "doc_id string, text string")
    plan = _plan(repetition_stats(df))
    assert "partial" in plan.lower()
    assert "BatchEvalPython" not in plan


def test_contamination_probe_no_corpus_shuffle_of_text(spark):
    """The corpus side joins on gram_hash only — document text never rides
    through the join (column pruning), and the benchmark side broadcasts."""
    from graphrag_mrkr_2_spark.operators.textclean import contamination_overlap

    docs = spark.createDataFrame(
        [("d", "a b c d e f g h i")], "doc_id string, text string"
    )
    bench = spark.createDataFrame(
        [("b", "a b c d e f g h")], "bench_id string, text string"
    )
    plan = _plan(contamination_overlap(docs, bench, n=8))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


@pytest.mark.spark
def test_order_priority_check_plans_semi_join(spark):
    """Q4 shape: the EXISTS probe must plan as a semi join (no row
    multiplication from lineitem into the priority rollup)."""
    import __spark_entry__ as em

    plan = _plan(em.q_order_priority_check(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.spark
def test_idle_customers_plans_anti_join_and_broadcast_scalar(spark):
    """Q22 shape: NOT EXISTS must plan as an anti join and the scalar
    average must broadcast (no shuffle of customer against a 1-row
    aggregate)."""
    import __spark_entry__ as em

    plan = _plan(em.q_idle_customers(spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "BroadcastExchange" in plan


@pytest.mark.spark
def test_customer_order_distribution_preserves_outer_join(spark):
    """Q13 shape: the left OUTER join must survive planning (an inner
    join would silently drop zero-order customers and the histogram's
    c_count=0 bucket)."""
    import __spark_entry__ as em

    plan = _plan(em.q_customer_order_distribution(spark, SF_DIR))
    assert "LeftOuter" in plan


@pytest.mark.spark
def test_disjunctive_bands_single_scan_no_union(spark):
    """Q19 shape: the OR'd bands must evaluate in ONE scan + one
    broadcast join — not three unioned subplans re-reading lineitem."""
    import __spark_entry__ as em

    plan = _plan(em.q_disjunctive_brand_revenue(spark, SF_DIR))
    assert "Union" not in plan
    # formatted mode prints each node twice (tree + details): 4 hits =
    # exactly 2 physical scans, lineitem + part once each
    assert plan.count("Scan parquet") == 4
    assert "BroadcastHashJoin" in plan


@pytest.mark.spark
def test_supplier_part_counts_two_phase_distinct(spark):
    """Q16 shape: COUNT DISTINCT must plan as the two-phase
    partial/final aggregate (4 HashAggregate nodes for distinct rollups),
    not a single-node distinct collapse."""
    import __spark_entry__ as em

    plan = _plan(em.q_supplier_part_counts(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4


@pytest.mark.spark
def test_evaluate_robots_broadcasts_small_robots_side(spark):
    """The robots table is tiny next to a URL corpus — the domain join
    must broadcast it (no shuffle of the URL side for the join key)."""
    from graphrag_mrkr_2_spark.operators.urlops import evaluate_robots

    urls = spark.range(2000).selectExpr(
        "concat('https://site', id % 50, '.example/p/', id) AS url")
    robots = spark.range(50).selectExpr(
        "concat('site', id, '.example') AS domain",
        "'User-agent: *\nDisallow: /private/\n' AS robots_txt")
    plan = _plan(evaluate_robots(urls, robots))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.spark
def test_repartition_skip_gate_markers(spark, tmp_path_factory, monkeypatch):
    """run_kg_pipeline skips its url-hash exchange only for a plain
    splittable columnar scan with >= defaultParallelism partitions. The
    gate walks plan node classes, so a scan whose path prints a plan
    marker (Filter, Exchange, ExistingRDD) still skips, while a filtered
    scan, a curated scan and an in-memory relation keep the exchange. The
    mentions are read from the pinned pass, so a recorder around
    repartition_by_url observes the gate."""
    from pyspark.sql.window import Window

    from graphrag_mrkr_2_spark.operators.urlops import with_normalized_urls
    from graphrag_mrkr_2_spark.plans import pipeline
    from graphrag_mrkr_2_spark.sources.pages import (
        PAGES_SCHEMA,
        generate_pages,
        make_page,
    )

    width = spark.sparkContext.defaultParallelism
    pages = generate_pages(spark, 64, partitions=16)

    calls = []
    real_repartition = pipeline.repartition_by_url

    def recording_repartition(df, num_partitions):
        calls.append(num_partitions)
        return real_repartition(df, num_partitions)

    monkeypatch.setattr(pipeline, "repartition_by_url", recording_repartition)

    def exchanged(pages) -> bool:
        calls.clear()
        pipeline.run_kg_pipeline(pages, num_partitions=width)
        assert calls in ([], [width])
        return bool(calls)

    # a short base dir keeps the whole path inside the plan's printed
    # Location (Spark truncates it at spark.sql.maxMetadataStringLength)
    base = tmp_path_factory.mktemp("gate")
    for sub in ("plain", "Filter", "Exchange", "crawl-ExistingRDD"):
        path = str(base / sub)
        pages.write.parquet(path)
        scan = spark.read.parquet(path)
        assert scan.rdd.getNumPartitions() >= width
        assert not exchanged(scan), sub
        assert exchanged(scan.where(F.col("url") != "")), sub
    # one row per normalized URL: a window over the scan keeps the exchange
    w = Window.partitionBy("norm_url").orderBy("url")
    curated = with_normalized_urls(scan).withColumn("__rn", F.row_number().over(w))
    assert exchanged(curated.where(F.col("__rn") == 1).drop("__rn"))

    local = spark.createDataFrame([make_page(i) for i in range(8)], PAGES_SCHEMA)
    assert exchanged(local)
