"""One materialization seam: every stage pin of the package is ``session.pin``.

``test_pin_is_the_only_checkpoint_call`` is AST only (no Spark): a
``localCheckpoint(...)`` or ``.checkpoint(...)`` call in a ``*.py`` of the
repo outside ``tests/`` and ``perfbench/`` and outside ``session.pin`` is a
second materialization policy.
``test_reliable_pins_keep_every_row`` runs the pinned stages with a
checkpoint directory set (reliable checkpoints) and without one (local
checkpoints) and compares their rows.
"""

import ast
import pathlib

import pytest
from pyspark.sql import functions as F
from test_dedup_ann import DOCS

from graphrag_mrkr_2_spark.operators import graphalgo

ROOT = pathlib.Path(__file__).resolve().parent.parent
PIN_METHODS = ("localCheckpoint", "checkpoint")
UNGUARDED = ("tests", "perfbench")


def _checkpoint_calls():
    """[(module, enclosing top-level function or None, method name)]."""
    found = []
    for path in sorted(ROOT.rglob("*.py")):
        mod = path.relative_to(ROOT).as_posix()
        if mod.split("/")[0] in UNGUARDED:
            continue
        tree = ast.parse(path.read_text())
        owners = {}
        for top in tree.body:
            for node in ast.walk(top):
                owners[id(node)] = getattr(top, "name", None)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in PIN_METHODS
            ):
                found.append((mod, owners.get(id(node)), node.func.attr))
    return found


def test_pin_is_the_only_checkpoint_call():
    """Every ``*.py`` in the repo except ``tests/`` (which pins its own
    fixtures) and ``perfbench/``. ``perfbench/`` still holds five ``localCheckpoint(eager=True)`` calls of
    its own (``kgbuild.py`` 3, ``run.py`` 2); they move to ``session.pin``
    with the benchmark change of ROADMAP D9, and the guard widens then."""
    calls = _checkpoint_calls()
    outside = [c for c in calls if c[:2] != ("graphrag_mrkr_2_spark/session.py", "pin")]
    assert not outside, f"pin through session.pin instead: {outside}"
    assert sorted(m for _, _, m in calls) == sorted(PIN_METHODS)


def _pinned_outputs(spark):
    """Sorted rows of every table and operator that pins, on the smallest
    inputs their own tests use."""
    from graphrag_mrkr_2_spark.operators import communities
    from graphrag_mrkr_2_spark.operators.communities import (
        detect_communities,
        normalize_edge_weights,
        project_edges,
    )
    from graphrag_mrkr_2_spark.operators.dedup import minhash_lsh_pairs
    from graphrag_mrkr_2_spark.operators.resolution import entity_mapping
    from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
    from graphrag_mrkr_2_spark.sources.pages import generate_pages

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    res = run_kg_pipeline(generate_pages(spark, 40), num_partitions=8)
    out = {t: rows(getattr(res, t)) for t in ("chunks", "mentions", "nodes", "edges", "triples")}
    out["entity_mapping"] = rows(entity_mapping(res.nodes, threshold=0.7))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graphalgo, "LOCAL_EDGE_LIMIT", 0)
        out["entity_mapping_spark"] = rows(entity_mapping(res.nodes, threshold=0.7))
    edges = res.edges.select(
        F.col("source_id").alias("src"),
        F.col("target_id").alias("dst"),
        "edge_type",
        F.col("strength").cast("double").alias("strength"),
    )
    out["connected_components"] = rows(graphalgo.star_components(edges, "src", "dst"))
    weighted = project_edges(normalize_edge_weights(edges))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graphalgo, "LOCAL_EDGE_LIMIT", 0)
        out["communities_spark"] = rows(detect_communities(weighted))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(communities, "MAX_COMPONENT_SIZE", 0)
        out["communities_lpa"] = rows(detect_communities(weighted))
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    out["minhash_lsh_pairs"] = rows(minhash_lsh_pairs(docs, threshold=0.3))
    return out


@pytest.mark.spark
def test_reliable_pins_keep_every_row(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    local = _pinned_outputs(spark)
    sc.setCheckpointDir(str(tmp_path))
    try:
        reliable = _pinned_outputs(spark)
    finally:
        # PySpark has no unset; the JVM setter restores "no directory"
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
    assert sc.getCheckpointDir() is None
    assert all(local.values())
    assert reliable == local
    assert any(p.is_file() for p in tmp_path.rglob("part-*"))
