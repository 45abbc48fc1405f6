"""Chunk quality scoring + heuristic content filtering (pure Python).

Reimplements:
- quality scoring: core/ocr.py:162-297 (_analyze_text_quality /
  assess_chunk_quality), constants at core/ocr.py:40-43
- post-extraction removal rule: core/ocr.py:300-330 (should_remove_chunk)
- content quality filter: ingestion/content_filters.py:86-425
  (ContentQualityFilter.should_embed_chunk; filters 1-5 are the generic text
  path; 6-8 are metadata-gated special cases)

These are the oracle implementations used in unit tests; the Spark operators
re-express the same math as built-in column expressions (JVM-side) and the
tests assert expression == oracle on sampled data.
"""

from __future__ import annotations

import re

# core/ocr.py:40-43
MIN_TEXT_RATIO = 0.15
MAX_WHITESPACE_RATIO = 0.65
MIN_CHUNK_LENGTH = 30
MIN_WORDS_PER_LINE = 2

_NON_ASCII_RE = re.compile(r"[^\x00-\x7F]+")
_SHORT_WORD_RE = re.compile(r"\b\w{1,2}\b")


def analyze_text_quality(text: str) -> dict:
    """core/ocr.py:162-258 (_analyze_text_quality)."""
    if not text or len(text.strip()) < 5:
        return {
            "is_readable": False,
            "quality_score": 0.0,
            "total_chars": len(text) if text else 0,
        }

    total_chars = len(text)
    alpha_chars = sum(1 for c in text if c.isalnum())
    whitespace_chars = sum(1 for c in text if c.isspace())
    lines = text.split("\n")

    text_ratio = alpha_chars / total_chars if total_chars > 0 else 0
    whitespace_ratio = whitespace_chars / total_chars if total_chars > 0 else 0

    non_empty_lines = [line.strip() for line in lines if line.strip()]
    avg_words_per_line = 0.0
    if non_empty_lines:
        total_words = sum(len(line.split()) for line in non_empty_lines)
        avg_words_per_line = total_words / len(non_empty_lines)

    has_ocr_artifacts = bool(_NON_ASCII_RE.search(text))
    has_fragmented_words = len(_SHORT_WORD_RE.findall(text)) > total_chars * 0.1
    has_excessive_spaces = "   " in text

    quality_score = (
        text_ratio * 0.4
        + (1 - whitespace_ratio) * 0.3
        + min(avg_words_per_line / 5, 1) * 0.3
    )
    if has_ocr_artifacts:
        quality_score *= 0.8
    if has_fragmented_words:
        quality_score *= 0.7
    if has_excessive_spaces:
        quality_score *= 0.9
    if total_chars < MIN_CHUNK_LENGTH:
        quality_score *= 0.6

    is_readable = (
        quality_score >= 0.5
        and text_ratio >= MIN_TEXT_RATIO
        and whitespace_ratio <= MAX_WHITESPACE_RATIO
        and avg_words_per_line >= MIN_WORDS_PER_LINE
        and not (has_fragmented_words and has_ocr_artifacts)
    )

    return {
        "is_readable": is_readable,
        "quality_score": quality_score,
        "total_chars": total_chars,
        "text_ratio": text_ratio,
        "whitespace_ratio": whitespace_ratio,
        "avg_words_per_line": avg_words_per_line,
        "has_ocr_artifacts": has_ocr_artifacts,
        "has_fragmented_words": has_fragmented_words,
    }


def assess_chunk_quality(chunk: str) -> dict:
    """core/ocr.py:262-297 (assess_chunk_quality)."""
    analysis = analyze_text_quality(chunk)
    return {
        "quality_score": analysis["quality_score"],
        "needs_ocr": (not analysis["is_readable"]) and analysis["quality_score"] < 0.3,
    }


def should_remove_chunk(chunk_text: str, entity_count: int, relationship_count: int) -> bool:
    """core/ocr.py:300-330 (should_remove_chunk)."""
    qa = assess_chunk_quality(chunk_text)
    if qa["quality_score"] < 0.2 and entity_count == 0 and relationship_count == 0:
        return True
    if len(chunk_text.strip()) < MIN_CHUNK_LENGTH and entity_count == 0:
        return True
    return False


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
