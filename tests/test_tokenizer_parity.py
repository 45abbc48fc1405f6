"""T2 tokenizer contract: pin the divergence explicitly (VERDICT r1 #7).

The reference packs chunks by cl100k_base token counts when tiktoken is
installed, and degrades deterministically to character-based approximations
when it is not (core/token_counter.py:41-49,67-79). tiktoken is absent from
this container (and from this engine), so BOTH engines take the same
fallback — these tests make that contract explicit and frozen:

1. functions/tokens.py must agree byte-for-byte with the reference's OWN
   TokenCounter (imported from /root/reference, fallback mode active here).
2. The chunk ids of the seed-42 40-page corpus are golden-frozen; any drift
   in chunk boundaries (hence chunk ids, extraction context, and similarity
   inputs) fails loudly instead of silently.

When a real cl100k BPE is available, it injects at the TokenCounter seam in
functions/tokens.py and the fixture is regenerated as an INTENTIONAL
semantics change (say so in the commit message). OPERATORS.md documents the
divergence-vs-tiktoken-deployments contract.
"""

import json
import os
import sys

import pytest

from graphrag_mrkr_2_spark.functions.tokens import count_tokens, split_by_chars, tail_text

_REFERENCE_ROOT = "/root/reference"


def _reference_counter():
    if _REFERENCE_ROOT not in sys.path:
        sys.path.append(_REFERENCE_ROOT)
    try:
        from core.token_counter import HAS_TIKTOKEN, TokenCounter  # noqa: PLC0415
    except Exception:  # pragma: no cover
        return None, None
    return TokenCounter(), HAS_TIKTOKEN


SAMPLES = [
    "",
    "x",
    "hello world",
    "a" * 3,
    "a" * 4,
    "a" * 5,
    "word " * 100,
    "Unicode: caffè, naïve, 中文文本, emoji 🎉 mixed in.",
    "\n\n  leading and trailing  \n",
    "Sentence one. Sentence two! A third — with punctuation; and more.",
    "long " * 5000,
]


def test_token_count_matches_actual_reference_fallback():
    counter, has_tiktoken = _reference_counter()
    if counter is None:
        pytest.skip("/root/reference unavailable")
    assert not has_tiktoken, (
        "tiktoken appeared in the environment: wire a real BPE through the "
        "functions/tokens.py seam and regenerate the chunk fixture"
    )
    for s in SAMPLES:
        assert count_tokens(s) == counter.count(s), repr(s[:40])


def test_tail_text_matches_actual_reference_fallback():
    counter, _ = _reference_counter()
    if counter is None:
        pytest.skip("/root/reference unavailable")
    for s in SAMPLES:
        for overlap in (0, 1, 16, 50):
            assert tail_text(s, overlap) == counter.tail_text(s, overlap), (
                repr(s[:40]),
                overlap,
            )


def test_split_by_chars_covers_text_exactly():
    """html_chunker.py:318-329 no-tokenizer branch: 4*max_tokens char slices
    that reassemble to the input."""
    text = "word " * 1000
    parts = split_by_chars(text, max_tokens=100)
    assert all(len(p) <= 400 for p in parts)
    assert "".join(parts) == text


@pytest.mark.spark
def test_frozen_chunk_ids_regression(spark):
    """Golden chunk boundaries for seed-42/40 pages: chunk_id embeds
    (doc, start, end, content-hash), so ANY boundary drift changes this set.
    Regenerate only for an intentional tokenizer/chunking change."""
    from graphrag_mrkr_2_spark.operators.extract import chunk_pages, with_content_filter
    from graphrag_mrkr_2_spark.sources.pages import generate_pages

    fixture = os.path.join(
        os.path.dirname(__file__), "fixtures_chunks_seed42_40pages.json"
    )
    expected = {tuple(r) for r in json.load(open(fixture))}
    chunks = with_content_filter(chunk_pages(generate_pages(spark, 40)))
    chunks = chunks.where("filter_reason IS NULL").drop("filter_reason")
    got = {
        (r["chunk_id"], r["document_id"], r["chunk_index"], r["content_hash"])
        for r in chunks.select(
            "chunk_id", "document_id", "chunk_index", "content_hash"
        ).collect()
    }
    assert got == expected
    assert len(got) == 178
