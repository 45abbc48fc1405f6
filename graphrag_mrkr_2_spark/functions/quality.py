"""Heuristic content filtering (pure Python).

Reimplements the content quality filter of ingestion/content_filters.py:86-425
(ContentQualityFilter.should_embed_chunk; filters 1-5 are the generic text
path; 6-8 are metadata-gated special cases). The fused extraction pass calls
it per chunk; ``operators/extract.with_content_filter`` re-expresses the same
math as built-in column expressions (JVM-side) and the tests assert
expression == oracle on sampled data.
"""

from __future__ import annotations

def should_embed_chunk(
    chunk: str,
    min_chunk_length: int = 50,
    max_chunk_length: int = 100000,
    min_unique_word_ratio: float = 0.3,
    max_special_char_ratio: float = 0.5,
    min_alphanumeric_ratio: float = 0.3,
) -> tuple[bool, str | None]:
    """ingestion/content_filters.py:127-200 (should_embed_chunk), generic path.

    Filters in reference order: length min/max, unique-word ratio, single-word
    repetition, alphanumeric ratio, special-char ratio. The metadata-gated
    conversation/structured/code filters (:175-196) require caller-provided
    flags; see ``should_embed_conversation`` etc. below.
    """
    chunk_stripped = chunk.strip()

    if len(chunk_stripped) < min_chunk_length:
        return False, "too_short"
    if len(chunk_stripped) > max_chunk_length:
        return False, "too_long"
    if not chunk_stripped:
        return False, "empty"

    words = chunk_stripped.split()
    if len(words) == 0:
        return False, "repetitive"
    unique_ratio = len(set(words)) / len(words)
    if unique_ratio < min_unique_word_ratio:
        return False, "repetitive"
    if len(words) >= 4:
        first_word = words[0].lower()
        first_word_count = sum(1 for w in words if w.lower() == first_word)
        if first_word_count / len(words) > 0.7:
            return False, "repetitive"

    total_chars = len(chunk_stripped)
    alnum = sum(1 for c in chunk_stripped if c.isalnum())
    special = sum(1 for c in chunk_stripped if not c.isalnum() and not c.isspace())
    if alnum / total_chars < min_alphanumeric_ratio:
        return False, "bad_char_distribution"
    if special / total_chars > max_special_char_ratio:
        return False, "bad_char_distribution"

    return True, None
