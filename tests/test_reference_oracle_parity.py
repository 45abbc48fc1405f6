"""E2E parity vs the ACTUAL reference implementation (round-2 upgrade).

Round 1 measured (subj, pred, obj) parity against a builder-written
sequential port (functions/reference_pipeline.py). This module replaces that
oracle with the reference's OWN code, imported from /root/reference:

  core.entity_extraction.EntityExtractor — real tuple parsing dispatch,
      name/type normalization, low-value filter, per-chunk dedup, the
      gleaning loop, and the batch consolidation + pair grouping
      (entity_extraction.py:879-1163)
  core.entity_graph.EntityGraph — canonical-key merge, orphan creation with
      name-any-type lookup, strength accumulation (entity_graph.py:132-341)
  config.settings — the reference's real thresholds
      (importance_score_threshold=0.3, strength_threshold=0.4)

Only two modules are stubbed, both environmental seams with zero extraction
semantics:
  core.llm        — the OpenAI/network client; replaced by a manager that
                    serves the SAME deterministic mock responses the Spark
                    pipeline consumes (the injection point the reference
                    itself uses: entity_extraction.py:15 `llm_manager`).
  core.singletons — a ThreadPoolExecutor provider (import blocked by
                    cachetools being absent from this container).

The mock LLM is a pure function of (chunk_text, pass_index), so the Spark
plan and the reference's asyncio plan consume byte-identical responses and
their global triple sets must be EQUAL — this is the hard version of the
BASELINE P/R >= 0.95 gate.
"""

from __future__ import annotations

import asyncio
import concurrent.futures
import re
import sys
import threading
import types

import pytest

from graphrag_mrkr_2_spark.functions.chunking import assign_text_units
from graphrag_mrkr_2_spark.functions.html_text import HtmlHeadingChunker
from graphrag_mrkr_2_spark.functions.mock_llm import mock_llm_response
from graphrag_mrkr_2_spark.functions.quality import should_embed_chunk
from graphrag_mrkr_2_spark.operators.extract import document_id_for_url
from graphrag_mrkr_2_spark.sources.pages import make_page

N_PAGES = 20

_REFERENCE_ROOT = "/root/reference"

_CHUNK_ID_RE = re.compile(r"TextUnit ID:\s*([\w\-]+)")


class _MockLLMManager:
    """Serves mock_llm_response through the reference's llm_manager seam.

    The reference embeds the chunk id in every prompt it builds
    (entity_extraction.py:526,580 "TextUnit ID: {id}"; :858 for gleaning), so
    the manager recovers (chunk_text, pass_index) from a chunk_id -> text
    registry plus a per-chunk call counter. Thread-safe: the reference runs
    LLM calls on an executor with llm_concurrency=2.
    """

    def __init__(self) -> None:
        self.registry: dict[str, str] = {}
        self._passes: dict[str, int] = {}
        self._lock = threading.Lock()

    def register(self, chunk_id: str, text: str) -> None:
        self.registry[chunk_id] = text

    def _chunk_id(self, prompt: str) -> str:
        m = _CHUNK_ID_RE.search(prompt)
        assert m, f"no TextUnit ID in prompt: {prompt[:120]!r}"
        return m.group(1)

    def generate_response(self, prompt: str, **kwargs) -> str:
        cid = self._chunk_id(prompt)
        with self._lock:
            self._passes[cid] = 1
        return mock_llm_response(self.registry[cid], cid, 0)

    def generate_response_with_history(self, prompt: str, history=None, **kwargs) -> str:
        cid = self._chunk_id(prompt)
        with self._lock:
            pass_index = self._passes.get(cid, 1)
            self._passes[cid] = pass_index + 1
        return mock_llm_response(self.registry[cid], cid, pass_index)


def _load_reference():
    """Import the reference modules with the two environmental stubs.

    Returns (entity_extraction_module, EntityGraph, settings, manager) or
    None if /root/reference is unavailable.
    """
    if _REFERENCE_ROOT not in sys.path:
        sys.path.append(_REFERENCE_ROOT)  # append, never shadow repo modules

    manager = _MockLLMManager()

    fake_llm = types.ModuleType("core.llm")
    fake_llm.llm_manager = manager
    sys.modules["core.llm"] = fake_llm

    fake_singletons = types.ModuleType("core.singletons")
    executor = concurrent.futures.ThreadPoolExecutor(max_workers=4)
    fake_singletons.get_blocking_executor = lambda: executor
    fake_singletons.SHUTTING_DOWN = False
    sys.modules["core.singletons"] = fake_singletons

    try:
        import core.entity_extraction as ee  # noqa: PLC0415
        from config.settings import settings  # noqa: PLC0415
        from core.entity_graph import EntityGraph  # noqa: PLC0415
    except Exception:  # pragma: no cover - container without /root/reference
        return None

    # the manager instance the module captured at import time may be an
    # earlier one (module caching across calls) — use that exact object
    return ee, EntityGraph, settings, ee.llm_manager


_REF = _load_reference()


def _reference_docs(n: int):
    """Same chunking front-end the Spark pipeline uses (T1-T6); this module
    tests extraction->graph parity, chunking parity is pinned separately by
    test_chunking/test_frozen_triples_regression."""
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


def _run_actual_reference(docs) -> set[tuple[str, str, str]]:
    """Feed the mock responses through the reference's own extraction +
    EntityGraph, mirroring document_processor._persist_with_entity_graph
    (ingestion/document_processor.py:1069-1180: importance/strength gates
    around EntityGraph.add_entity/add_relationship, one graph per doc)."""
    ee, EntityGraph, settings, manager = _REF

    # the reference rate-limits LLM calls (entity_extraction.py:1078-1086)
    # with random.uniform(llm_delay_min, llm_delay_max) sleeps — timing only,
    # no semantics; zero them so the oracle runs in seconds.
    saved_random = ee.random
    ee.random = types.SimpleNamespace(uniform=lambda a, b: 0.0)
    try:
        extractor = ee.EntityExtractor()  # loads the REAL classification config
        triples: set[tuple[str, str, str]] = set()
        for _doc_id, chunks in docs:
            for cid, text in chunks:
                manager.register(cid, text)
            chunk_dicts = [{"chunk_id": cid, "content": text} for cid, text in chunks]
            entity_dict, rels_by_pair = asyncio.run(
                extractor.extract_from_chunks_with_gleaning(
                    chunk_dicts, max_gleanings=1
                )
            )
            graph = EntityGraph()
            for entity in entity_dict.values():
                if entity.importance_score >= settings.importance_score_threshold:
                    graph.add_entity(
                        name=entity.name,
                        type=entity.type,
                        description=entity.description,
                        importance_score=entity.importance_score,
                        source_chunks=entity.source_chunks or [],
                    )
            for rels in rels_by_pair.values():
                for rel in rels:
                    if rel.strength >= settings.strength_threshold:
                        graph.add_relationship(
                            source=rel.source_entity,
                            target=rel.target_entity,
                            rel_type=rel.relationship_type or "RELATED_TO",
                            description=rel.description or "",
                            strength=rel.strength,
                            source_chunks=rel.source_chunks or [],
                        )
            for s, t, data in graph.graph.edges(data=True):
                triples.add(
                    (
                        graph.graph.nodes[s]["name"],
                        data["relationship_type"],
                        graph.graph.nodes[t]["name"],
                    )
                )
        return triples
    finally:
        ee.random = saved_random


needs_reference = pytest.mark.skipif(
    _REF is None, reason="/root/reference unavailable"
)


@needs_reference
def test_builder_port_matches_actual_reference():
    """The round-1 sequential port must agree with the real reference code —
    validates the port that all the fast unit-level parity tests lean on."""
    from graphrag_mrkr_2_spark.functions.reference_pipeline import (
        run_reference_pipeline,
    )

    docs = _reference_docs(N_PAGES)
    actual = _run_actual_reference(docs)
    ported, _stats = run_reference_pipeline(docs)
    assert actual, "reference produced no triples"
    assert ported == actual, (
        f"port-only: {sorted(ported - actual)[:5]} "
        f"reference-only: {sorted(actual - ported)[:5]}"
    )


def _run_actual_reference_tables(docs):
    """Per-document node/edge ATTRIBUTE tables from the reference's own code
    (gate + EntityGraph exactly as _run_actual_reference)."""
    ee, EntityGraph, settings, manager = _REF
    saved_random = ee.random
    ee.random = types.SimpleNamespace(uniform=lambda a, b: 0.0)
    try:
        extractor = ee.EntityExtractor()
        nodes: dict = {}
        edges: dict = {}
        for doc_id, chunks in docs:
            for cid, text in chunks:
                manager.register(cid, text)
            chunk_dicts = [{"chunk_id": cid, "content": text} for cid, text in chunks]
            entity_dict, rels_by_pair = asyncio.run(
                extractor.extract_from_chunks_with_gleaning(chunk_dicts, max_gleanings=1)
            )
            graph = EntityGraph()
            for entity in entity_dict.values():
                if entity.importance_score >= settings.importance_score_threshold:
                    graph.add_entity(
                        name=entity.name, type=entity.type,
                        description=entity.description,
                        importance_score=entity.importance_score,
                        source_chunks=entity.source_chunks or [],
                    )
            for rels in rels_by_pair.values():
                for rel in rels:
                    if rel.strength >= settings.strength_threshold:
                        graph.add_relationship(
                            source=rel.source_entity, target=rel.target_entity,
                            rel_type=rel.relationship_type or "RELATED_TO",
                            description=rel.description or "",
                            strength=rel.strength,
                            source_chunks=rel.source_chunks or [],
                        )
            for _nid, nd in graph.graph.nodes(data=True):
                if nd.get("is_orphan"):
                    continue
                # provenance compared as a SET: the reference's list order
                # is asyncio completion order (nondeterministic even across
                # its own runs); this engine canonicalizes by sorting
                nodes[(doc_id, nd["name"].upper())] = (
                    nd["type"],
                    round(nd["importance_score"], 9),
                    nd["description"],
                    frozenset(nd["source_chunks"]),
                )
            for s, t, d in graph.graph.edges(data=True):
                edges[
                    (doc_id, graph.graph.nodes[s]["name"].upper(),
                     graph.graph.nodes[t]["name"].upper(), d["relationship_type"])
                ] = (
                    round(d["strength"], 9),
                    d["mention_count"],
                    d["description"],
                    frozenset(d["source_chunks"]),
                )
        return nodes, edges
    finally:
        ee.random = saved_random


@needs_reference
@pytest.mark.spark
def test_spark_attributes_match_actual_reference(spark):
    """Beyond (subj, pred, obj): per-document entity/relationship ATTRIBUTES
    — mean importance, summed strength, relationship mention counts,
    newline-set-union descriptions, sorted provenance — must equal what the
    reference's EntityGraph computes on identical mock responses."""
    from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
    from graphrag_mrkr_2_spark.sources.pages import generate_pages

    docs = _reference_docs(N_PAGES)
    ref_nodes, ref_edges = _run_actual_reference_tables(docs)

    res = run_kg_pipeline(generate_pages(spark, N_PAGES), num_partitions=4)
    got_nodes = {
        (r["document_id"], r["name"].upper()): (
            r["type"],
            round(r["importance_score"], 9),
            r["description"],
            frozenset(r["source_chunks"]),
        )
        for r in res.entities_doc.collect()
    }
    got_edges = {
        (
            r["document_id"], r["source_entity"].upper(),
            r["target_entity"].upper(), r["relationship_type"],
        ): (
            round(r["strength"], 9),
            r["mention_count"],
            r["description"],
            frozenset(r["source_chunks"]),
        )
        for r in res.rels_doc.collect()
    }

    assert got_nodes.keys() == ref_nodes.keys()
    mismatched = {k: (got_nodes[k], ref_nodes[k]) for k in ref_nodes if got_nodes[k] != ref_nodes[k]}
    assert not mismatched, dict(list(mismatched.items())[:3])

    assert got_edges.keys() == ref_edges.keys()
    mismatched_e = {k: (got_edges[k], ref_edges[k]) for k in ref_edges if got_edges[k] != ref_edges[k]}
    assert not mismatched_e, dict(list(mismatched_e.items())[:3])
    assert ref_nodes and ref_edges


@needs_reference
@pytest.mark.spark
def test_spark_pipeline_matches_actual_reference(spark):
    """THE BASELINE gate, hard version: Spark triples == triples produced by
    the reference's own EntityExtractor + EntityGraph on identical mock
    responses (P = R = 1.0 >= 0.95)."""
    from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
    from graphrag_mrkr_2_spark.sources.pages import generate_pages

    docs = _reference_docs(N_PAGES)
    actual = _run_actual_reference(docs)

    pages = generate_pages(spark, N_PAGES)
    res = run_kg_pipeline(pages, num_partitions=4)
    spark_triples = {(r["subj"], r["pred"], r["obj"]) for r in res.triples.collect()}

    assert spark_triples, "pipeline produced no triples"
    tp = len(spark_triples & actual)
    precision = tp / len(spark_triples)
    recall = tp / len(actual)
    assert precision >= 0.95, f"P={precision} ({sorted(spark_triples - actual)[:5]})"
    assert recall >= 0.95, f"R={recall} ({sorted(actual - spark_triples)[:5]})"
    assert spark_triples == actual


@needs_reference
@pytest.mark.spark
def test_spark_pipeline_matches_actual_reference_100_pages(spark):
    """Breadth variant of the BASELINE gate (round 3): 5× the corpus — 100
    synthetic pages push more entity/type/relationship variety and more
    cross-chunk consolidation through the reference's REAL code paths.
    Exact triple-set equality must hold at this size too."""
    from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
    from graphrag_mrkr_2_spark.sources.pages import generate_pages

    n = 100
    docs = _reference_docs(n)
    actual = _run_actual_reference(docs)

    res = run_kg_pipeline(generate_pages(spark, n), num_partitions=8)
    spark_triples = {(r["subj"], r["pred"], r["obj"]) for r in res.triples.collect()}

    # cross-page entity reuse consolidates heavily: 100 pages -> 65 triples
    # (vs 45 at 20 pages) -- still strictly more variety than the base test
    assert len(actual) > 50, "breadth corpus should yield a larger triple set"
    assert spark_triples == actual, (
        f"spark-only: {sorted(spark_triples - actual)[:5]} "
        f"reference-only: {sorted(actual - spark_triples)[:5]}"
    )


def _docs_from_pages(pages: list[dict]):
    """_reference_docs over arbitrary pre-built page dicts."""
    ck = HtmlHeadingChunker()
    docs = []
    for p in pages:
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


@needs_reference
@pytest.mark.spark
def test_spark_pipeline_matches_actual_reference_1000_pages(spark):
    """Breadth gate at 1000 pages (VERDICT r3 'Next round' #8 — 10× the r3
    gate): chunk ids AND triples. The triple set must equal the reference's
    own EntityExtractor+EntityGraph output exactly, and the distributed
    chunker must emit exactly the chunk ids the sequential driver-side
    chunker produces (per-page, order included)."""
    from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
    from graphrag_mrkr_2_spark.sources.pages import generate_pages

    n = 1000
    docs = _reference_docs(n)
    actual = _run_actual_reference(docs)

    res = run_kg_pipeline(generate_pages(spark, n), num_partitions=16)
    spark_triples = {(r["subj"], r["pred"], r["obj"]) for r in res.triples.collect()}
    spark_chunks = {
        (r["document_id"], r["chunk_id"]) for r in res.chunks.select(
            "document_id", "chunk_id"
        ).collect()
    }

    expected_chunks = {
        (doc_id, cid) for doc_id, kept in docs for cid, _ in kept
    }
    missing = expected_chunks - spark_chunks
    assert not missing, sorted(missing)[:5]
    assert len(actual) > 60, "1000-page corpus should yield a larger triple set"
    assert spark_triples == actual, (
        f"spark-only: {sorted(spark_triples - actual)[:5]} "
        f"reference-only: {sorted(actual - spark_triples)[:5]}"
    )


@needs_reference
@pytest.mark.spark
def test_adversarial_html_parity(spark):
    """Hostile HTML through the WHOLE gate (VERDICT r3 #8): deep nesting,
    malformed entities, mis-nested tags, comment/script traps, unicode
    soup, a single-tag megapage, attribute bombs, hollow pages — 40 pages
    (5 per variant). Chunk ids and triples must match the sequential
    chunker + the reference's real extraction code exactly; nothing may
    crash, and trap markup must not leak into chunks."""
    from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline
    from helpers import generate_adversarial_pages, make_adversarial_page

    n = 40
    pages = [make_adversarial_page(i) for i in range(n)]
    docs = _docs_from_pages(pages)
    actual = _run_actual_reference(docs)

    res = run_kg_pipeline(generate_adversarial_pages(spark, n), num_partitions=8)
    spark_triples = {(r["subj"], r["pred"], r["obj"]) for r in res.triples.collect()}
    chunk_rows = res.chunks.select("document_id", "chunk_id", "content").collect()

    spark_chunk_ids = {(r["document_id"], r["chunk_id"]) for r in chunk_rows}
    expected_ids = {(doc_id, cid) for doc_id, kept in docs for cid, _ in kept}
    assert spark_chunk_ids == expected_ids, (
        f"spark-only: {sorted(spark_chunk_ids - expected_ids)[:3]} "
        f"seq-only: {sorted(expected_ids - spark_chunk_ids)[:3]}"
    )
    # trap markup must never surface in chunk text
    for r in chunk_rows:
        assert "ghost heading" not in r["content"]
        assert "not a heading" not in r["content"]
        assert "styled" not in r["content"]
    assert actual, "adversarial corpus still carries extractable mentions"
    assert spark_triples == actual, (
        f"spark-only: {sorted(spark_triples - actual)[:5]} "
        f"reference-only: {sorted(actual - spark_triples)[:5]}"
    )


@needs_reference
def test_ten_megabyte_single_tag_page_chunks(monkeypatch):
    """The 10 MB single-<p> page (VERDICT r3 #8's extreme case) must chunk
    without pathological behavior: full coverage of the text, bounded chunk
    sizes, deterministic ids across two runs."""
    import helpers
    from helpers import make_adversarial_page

    monkeypatch.setattr(helpers, "BIG_PAGE_CHARS", 10_000_000)
    page = make_adversarial_page(5)
    assert len(page["html"]) >= 10_000_000

    ck = HtmlHeadingChunker()
    doc_id = document_id_for_url(page["url"])

    def _units():
        pieces = ck.chunk_html(page["html"].decode())
        return assign_text_units(
            doc_id, page["text"], [c["text"] for c in pieces]
        )

    units1, units2 = _units(), _units()
    ids1 = [u["chunk_id"] for u in units1]
    assert ids1 == [u["chunk_id"] for u in units2]  # deterministic
    assert len(units1) > 1000  # really split, not one mega-chunk
    total = sum(len(u["content"]) for u in units1)
    assert total >= 9_000_000  # covers (almost) all of the text
    assert max(len(u["content"]) for u in units1) < 100_000
    # the megapage is two sentences repeated ~70k times — T5's quality gate
    # must flag that as repetitive and drop every chunk (the CORRECT crawl
    # behavior for degenerate boilerplate), which _docs_from_pages mirrors
    verdicts = {should_embed_chunk(u["content"])[1] for u in units1[:50]}
    assert verdicts == {"repetitive"}
    assert _docs_from_pages([page])[0][1] == []
