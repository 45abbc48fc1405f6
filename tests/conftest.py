import pytest

from graphrag_mrkr_2_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _modular_kg(pages, cfg=None, strategy="html_heading"):
    """The unfused reference build: chunk_pages → with_content_filter (the
    rows with no filter_reason) → extract_mentions → canonicalize → build_*, one operator per stage.
    Returns (chunks, triples) to compare against run_kg_pipeline."""
    from graphrag_mrkr_2_spark.config import DEFAULT_CONFIG
    from graphrag_mrkr_2_spark.operators.extract import (
        chunk_pages,
        extract_text,
        with_content_filter,
    )
    from graphrag_mrkr_2_spark.operators.triples import (
        build_edges,
        build_triples,
        canonicalize,
    )
    from helpers import extract_mentions

    cfg = cfg or DEFAULT_CONFIG
    if "text" not in pages.columns:
        pages = extract_text(pages)
    chunks = (
        with_content_filter(chunk_pages(pages, strategy=strategy, cfg=cfg.chunking),
                            cfg=cfg.content_filter)
        .where("filter_reason IS NULL")
        .drop("filter_reason")
    )
    mentions = extract_mentions(chunks, max_gleanings=cfg.extraction.max_gleanings)
    _, rels_doc = canonicalize(
        mentions,
        importance_threshold=cfg.extraction.importance_score_threshold,
        strength_threshold=cfg.extraction.strength_threshold,
    )
    return chunks, build_triples(build_edges(rels_doc))


@pytest.fixture
def modular_kg():
    return _modular_kg
