"""Token counting for chunk sizing — fallback mode + injectable BPE mode.

Reimplements the reference's ``core/token_counter.py`` in BOTH of its modes:

- **fallback** (DEFAULT here — tiktoken is not installed in this
  environment): the reference degrades deterministically to character-based
  approximations (token_counter.py:41-80) — ``count = max(1, len(text)//4)``
  and ``tail_text = text[-overlap_tokens*4:]``. Implemented exactly, so both
  engines agree byte-for-byte on chunk boundaries when run side by side here
  (pinned by tests/test_tokenizer_parity.py against the reference's own
  TokenCounter).
- **BPE** (when a ranks file is injected — functions/bpe.py seam, VERDICT r2
  #6): ``count = len(encode(text))``, ``tail_text = decode(tokens[-k:])``,
  and token-sliced splitting with overlap — the encoder-present branches of
  token_counter.py:44-47/71-76 and html_chunker.py:318-329. Set
  ``SPARK_GRAFT_BPE_RANKS`` to a .tiktoken ranks file to switch modes; the
  cl100k merges data itself is absent from this container (no network), so
  tests pin the BPE mode with a small constructed ranks table.
"""

from __future__ import annotations

from .bpe import get_default_encoder


def count_tokens(text: str) -> int:
    """token_counter.py:41-49 (encoder branch, else fallback branch)."""
    if not text:
        return 0
    enc = get_default_encoder()
    if enc is not None:
        return len(enc.encode(text))
    return max(1, len(text) // 4)


def tail_text(text: str, overlap_tokens: int) -> str:
    """token_counter.py:68-80 (decode-of-token-tail, else char approx)."""
    if overlap_tokens <= 0 or not text:
        return ""
    enc = get_default_encoder()
    if enc is not None:
        tokens = enc.encode(text)
        if not tokens:
            return ""
        tail = tokens[-overlap_tokens:] if len(tokens) > overlap_tokens else tokens
        return enc.decode(tail)
    char_count = max(1, overlap_tokens * 4)
    return text[-char_count:]


def split_by_tokens(text: str, max_tokens: int, overlap_tokens: int = 0) -> list[str]:
    """html_chunker.py:318-329 (_split_by_tokens), both branches.

    With an encoder: token windows of ``max_tokens`` stepped by
    ``max_tokens - overlap_tokens``, decoded back to text, blank slices
    dropped. Without one the reference slices ``max_tokens * 4`` characters
    (no overlap) — kept identical here so fallback-mode chunk ids stay
    frozen.
    """
    enc = get_default_encoder()
    if enc is not None:
        tokens = enc.encode(text)
        if tokens:
            step = max(1, max_tokens - overlap_tokens)
            chunks = [
                enc.decode(tokens[i : i + max_tokens]) for i in range(0, len(tokens), step)
            ]
            return [c for c in chunks if c.strip()]
    return split_by_chars(text, max_tokens)


def split_by_chars(text: str, max_tokens: int) -> list[str]:
    """html_chunker.py:318-329 (_split_by_tokens) when encode() returns [].

    With no tokenizer the reference slices by ``max_tokens * 4`` characters.
    """
    step = max(1, max_tokens * 4)
    return [text[i : i + step] for i in range(0, len(text), step)]
