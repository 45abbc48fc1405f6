"""Sentence splitting (T9) — port of core/sentence_chunker.py:1-110.

Regex sentence boundaries with abbreviation protection; min length 10;
whole-text fallback when nothing qualifies; ±window context join.
"""

from __future__ import annotations

import re

# core/sentence_chunker.py:15-19
ABBREVIATIONS = {
    "mr.", "mrs.", "ms.", "dr.", "prof.", "sr.", "jr.", "vs.", "etc.", "i.e.",
    "e.g.", "fig.", "vol.", "no.", "pp.", "p.", "ed.", "eds.", "rev.", "st.",
    "inc.", "corp.", "ltd.", "co.", "dept.", "univ.", "approx.", "est.",
    "min.", "max.", "avg.",
}

_WS_RE = re.compile(r"\s+")
_BOUNDARY_RE = re.compile(r"(?<=[.!?])\s+(?=[A-Z])")


def split_into_sentences(text: str) -> list[str]:
    """core/sentence_chunker.py:22-66 (split_into_sentences); sentences
    shorter than 10 characters are dropped."""
    if not text or not text.strip():
        return []
    text = _WS_RE.sub(" ", text.strip())

    protected_text = text
    for abbrev in ABBREVIATIONS:
        pattern = re.compile(re.escape(abbrev), re.IGNORECASE)
        protected_text = pattern.sub(abbrev.replace(".", "<PERIOD>"), protected_text)

    raw_sentences = _BOUNDARY_RE.split(protected_text)

    sentences = []
    for sentence in raw_sentences:
        sentence = sentence.replace("<PERIOD>", ".").strip()
        if len(sentence) >= 10:
            sentences.append(sentence)

    if not sentences and text.strip():
        return [text.strip()]
    return sentences


# sentences kept on each side of the target sentence
SENTENCE_WINDOW = 5


def get_sentence_window(sentences: list[str], target_index: int) -> str:
    """core/sentence_chunker.py:68-110 (get_sentence_window)."""
    if not sentences:
        return ""
    target_index = max(0, min(target_index, len(sentences) - 1))
    start_index = max(0, target_index - SENTENCE_WINDOW)
    end_index = min(len(sentences), target_index + SENTENCE_WINDOW + 1)
    return " ".join(sentences[start_index:end_index])
