"""E2E P/R parity: Spark pipeline vs sequential reference-semantics oracle.

This is the BASELINE.json gate: (subj, pred, obj) P/R >= 0.95 on the
deterministic extraction fixtures. The pipelines share only the pure
functions (which unit tests pin to the reference line-by-line); execution
plans are completely different (mapInPandas + groupBy vs sequential dicts),
so this test catches any divergence introduced by distribution.
"""

import pytest

from graphrag_mrkr_2_spark.functions.chunking import assign_text_units
from graphrag_mrkr_2_spark.functions.extraction import extract_chunk_with_gleaning
from graphrag_mrkr_2_spark.functions.html_text import HtmlHeadingChunker
from graphrag_mrkr_2_spark.functions.mock_llm import mock_llm_response
from graphrag_mrkr_2_spark.functions.quality import should_embed_chunk
from graphrag_mrkr_2_spark.functions.reference_pipeline import run_reference_pipeline
from graphrag_mrkr_2_spark.operators.extract import document_id_for_url
from graphrag_mrkr_2_spark.sources.pages import make_page

N_PAGES = 20


def _reference_docs(n):
    ck = HtmlHeadingChunker()
    docs = []
    for i in range(n):
        p = make_page(i)
        doc_id = document_id_for_url(p["url"])
        pieces = ck.chunk_html(p["html"].decode())
        units = assign_text_units(doc_id, p["text"], [c["text"] for c in pieces])
        kept = [
            (u["chunk_id"], u["content"])
            for u in units
            if should_embed_chunk(u["content"])[0]
        ]
        docs.append((doc_id, kept))
    return docs


@pytest.mark.spark
def test_triple_parity_spark_vs_reference(spark):
    from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
    from graphrag_mrkr_2_spark.sources.pages import generate_pages

    pages = generate_pages(spark, N_PAGES)
    res = run_kg_pipeline(pages, num_partitions=4)
    spark_triples = {(r["subj"], r["pred"], r["obj"]) for r in res.triples.collect()}

    ref_triples, stats = run_reference_pipeline(_reference_docs(N_PAGES))

    assert spark_triples, "pipeline produced no triples"
    tp = len(spark_triples & ref_triples)
    precision = tp / len(spark_triples)
    recall = tp / len(ref_triples)
    assert precision >= 0.95, f"P={precision} ({sorted(spark_triples - ref_triples)[:5]})"
    assert recall >= 0.95, f"R={recall} ({sorted(ref_triples - spark_triples)[:5]})"
    # deterministic fixtures: we actually expect exact equality
    assert spark_triples == ref_triples


def test_gleaning_adds_recall():
    """Pass 2 must contribute new entities/relationships (README.md:66
    claims +30-40% recall from gleaning; our mock withholds odd-index
    entities from pass 1)."""
    p = make_page(3)
    chunk = p["text"][:2000]
    e0, r0 = extract_chunk_with_gleaning(chunk, "c0", mock_llm_response, max_gleanings=0)
    e1, r1 = extract_chunk_with_gleaning(chunk, "c0", mock_llm_response, max_gleanings=1)
    assert len(e1) > len(e0)


def test_third_pass_early_stop():
    """Pass 3 of the mock yields nothing -> loop must stop early
    (entity_extraction.py:1018-1022); results equal max_gleanings=1."""
    p = make_page(5)
    chunk = p["text"][:2000]
    a = extract_chunk_with_gleaning(chunk, "c0", mock_llm_response, max_gleanings=1)
    b = extract_chunk_with_gleaning(chunk, "c0", mock_llm_response, max_gleanings=5)
    assert a == b


@pytest.mark.spark
def test_pipeline_determinism(spark):
    from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
    from graphrag_mrkr_2_spark.sources.pages import generate_pages

    t1 = {
        (r["subj"], r["pred"], r["obj"])
        for r in run_kg_pipeline(generate_pages(spark, 8), num_partitions=2).triples.collect()
    }
    t2 = {
        (r["subj"], r["pred"], r["obj"])
        for r in run_kg_pipeline(generate_pages(spark, 8), num_partitions=7).triples.collect()
    }
    assert t1 == t2  # partitioning must not change results


_CHUNK_KEY_COLS = ["chunk_id", "document_id", "chunk_index", "content_hash", "heading_path", "content"]


def _chunk_set(df) -> set:
    return {tuple(r[c] for c in _CHUNK_KEY_COLS) for r in df.select(*_CHUNK_KEY_COLS).collect()}


def _triple_set(df) -> set:
    return {(r["subj"], r["pred"], r["obj"]) for r in df.collect()}


@pytest.mark.spark
@pytest.mark.parametrize("strategy", ["html_heading", "legacy"])
def test_unified_pass_matches_modular_build(spark, modular_kg, strategy):
    """The builder's one fused pass (mentions AND chunk rows, pinned once)
    produces the same chunk table and triples as the unfused
    chunk_pages → with_content_filter → extract_mentions chain, for each
    strategy that chunks web pages."""
    from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
    from graphrag_mrkr_2_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 12)
    res = run_kg_pipeline(pages, num_partitions=3, strategy=strategy)
    m_chunks, m_triples = modular_kg(pages, strategy=strategy)

    t_uni = _triple_set(res.triples)
    assert t_uni == _triple_set(m_triples) and t_uni
    c_uni = _chunk_set(res.chunks)
    assert c_uni == _chunk_set(m_chunks) and c_uni


@pytest.mark.spark
def test_materialize_chunks_is_ignored(spark):
    """materialize_chunks is kept only as an accepted keyword: with it set,
    the builder's chunks and triples are unchanged."""
    from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
    from graphrag_mrkr_2_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 8)
    base = run_kg_pipeline(pages, num_partitions=2)
    flagged = run_kg_pipeline(pages, num_partitions=2, materialize_chunks=True)
    assert _triple_set(flagged.triples) == _triple_set(base.triples)
    assert _row_set(flagged.chunks) == _row_set(base.chunks)
    assert _row_set(base.chunks)


@pytest.mark.spark
def test_frozen_triples_regression(spark):
    """The committed golden triple set (seed 42, 40 pages — the same run the
    driver's entry() smoke uses) must reproduce exactly. Guards against
    silent semantic drift between rounds; regenerate the fixture ONLY for an
    intentional semantics change (and say so in the commit message)."""
    import json
    import os

    from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
    from graphrag_mrkr_2_spark.sources.pages import generate_pages

    fixture = os.path.join(os.path.dirname(__file__), "fixtures_triples_seed42_40pages.json")
    expected = {tuple(t) for t in json.load(open(fixture))}
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in run_kg_pipeline(generate_pages(spark, 40), num_partitions=8).triples.collect()
    }
    assert got == expected


def _row_set(df):
    """Order-independent multiset of rows (arrays as tuples)."""
    from collections import Counter

    return Counter(
        tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()
    )


@pytest.mark.spark
def test_kg_result_plans_downstream_tables_lazily(spark, monkeypatch, modular_kg):
    """run_kg_pipeline runs and pins only the fused pass (mentions and
    chunks); canonicalize runs on first access of a table that needs it,
    and the tables equal the explicit chain."""
    from graphrag_mrkr_2_spark.operators import triples
    from graphrag_mrkr_2_spark.plans import pipeline
    from graphrag_mrkr_2_spark.sources.pages import generate_pages

    def boom(*_args, **_kwargs):
        raise AssertionError("planned eagerly")

    pages = generate_pages(spark, 12)
    with monkeypatch.context() as mp:
        for mod in (triples, pipeline):
            mp.setattr(mod, "canonicalize", boom)
        res = pipeline.run_kg_pipeline(pages, num_partitions=3)
        assert res.chunks.count() > 0
        assert res.mentions.where("kind = 'entity'").count() > 0
        with pytest.raises(AssertionError, match="planned eagerly"):
            res.nodes

    e_doc, r_doc = triples.canonicalize(res.mentions)
    edges = triples.build_edges(r_doc)
    assert _row_set(res.nodes) == _row_set(triples.build_nodes(e_doc))
    assert _row_set(res.edges) == _row_set(edges)
    expected = _row_set(triples.build_triples(edges))
    assert _row_set(res.triples) == expected and expected

    modular_chunks, modular_triples = modular_kg(pages)
    assert modular_chunks.count() == res.chunks.count()
    assert _row_set(modular_triples) == expected
