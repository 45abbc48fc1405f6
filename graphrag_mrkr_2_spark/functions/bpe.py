"""Byte-pair encoder: the cl100k_base ALGORITHM with the ranks table as a
data seam (VERDICT r2 'Next round' #6).

The reference packs chunks by cl100k_base token counts when tiktoken is
installed (core/token_counter.py:26-39, core/html_chunker.py:244-279,
config/settings.py:140-153); without it, it falls back to char//4
approximations, which functions/tokens.py pins byte-for-byte. This module
closes the remaining semantic gap — the ENCODER itself:

- the cl100k_base pre-tokenizer regex (public, from the tiktoken project's
  published encoder definition), applied verbatim via the ``regex`` module
  (possessive quantifiers + Unicode property classes);
- greedy lowest-rank byte-pair merging over each pre-token's UTF-8 bytes —
  the standard BPE inference loop (Sennrich et al. 2016; tiktoken's
  educational implementation documents the identical procedure).

The RANKS TABLE is injected, not vendored: this container has neither
tiktoken nor network access to the ~1.7 MB cl100k_base.tiktoken data file.
Point ``SPARK_GRAFT_BPE_RANKS`` at a ``.tiktoken`` ranks file (the public
``base64(token) <space> rank`` per-line format) and every TokenCounter
consumer (chunk packing, overlap tails, token splits in functions/tokens.py)
switches from the fallback to true BPE counts. Tests exercise the
algorithm against a small constructed ranks table with hand-computable
merges.

Special tokens (<|endoftext|> etc.) are NOT handled: the reference only ever
encodes ordinary document text (encode(), count(), tail_text()), never
special-token markup, so the plain-text path is the whole contract here.
"""

from __future__ import annotations

import base64
import os

# cl100k_base pre-tokenizer (public pattern; requires the `regex` module for
# \p{L}/\p{N} and possessive quantifiers — present in this container)
CL100K_PATTERN = (
    r"""'(?i:[sdmt]|ll|ve|re)|[^\r\n\p{L}\p{N}]?+\p{L}+|\p{N}{1,3}"""
    r"""| ?[^\s\p{L}\p{N}]++[\r\n]*|\s*[\r\n]|\s+(?!\S)|\s+"""
)


class BytePairEncoder:
    """Greedy lowest-rank BPE over pre-tokenized UTF-8 byte runs."""

    def __init__(self, ranks: dict[bytes, int]) -> None:
        import regex

        self._ranks = ranks
        self._tokens = {rank: tok for tok, rank in ranks.items()}
        self._re = regex.compile(CL100K_PATTERN)

    @classmethod
    def from_tiktoken_file(cls, path: str) -> "BytePairEncoder":
        """Load a ``.tiktoken`` ranks file: one ``base64(token) rank`` per line."""
        ranks: dict[bytes, int] = {}
        with open(path, "rb") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                tok_b64, rank = line.split()
                ranks[base64.b64decode(tok_b64)] = int(rank)
        return cls(ranks)

    # -- core ---------------------------------------------------------------

    def _merge_piece(self, piece: bytes) -> list[int]:
        """The BPE inference loop: repeatedly merge the adjacent pair with the
        lowest rank until no mergeable pair remains."""
        ranks = self._ranks
        if piece in ranks:
            return [ranks[piece]]
        parts = [piece[i : i + 1] for i in range(len(piece))]
        while len(parts) > 1:
            best_rank = None
            best_i = -1
            for i in range(len(parts) - 1):
                r = ranks.get(parts[i] + parts[i + 1])
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank = r
                    best_i = i
            if best_rank is None:
                break
            parts[best_i : best_i + 2] = [parts[best_i] + parts[best_i + 1]]
        # a PARTIAL ranks table (the seam accepts any .tiktoken file) may
        # lack some single-byte entry; count such leftovers as one unknown
        # token instead of crashing the executor UDF mid-ingest
        return [ranks.get(p, -1) for p in parts]

    def encode(self, text: str) -> list[int]:
        if not text:
            return []
        out: list[int] = []
        for piece in self._re.findall(text):
            out.extend(self._merge_piece(piece.encode("utf-8")))
        return out

    def decode(self, tokens: list[int]) -> str:
        # -1 = unknown-byte sentinel from _merge_piece → U+FFFD
        return b"".join(
            self._tokens.get(t, b"\xef\xbf\xbd") for t in tokens
        ).decode("utf-8", errors="replace")

    def count(self, text: str) -> int:
        return len(self.encode(text))


# -- process-default encoder seam (read once per worker) ---------------------

_DEFAULT: list[BytePairEncoder | None] = [None]
_LOADED_FROM: list[str | None] = [None]


def get_default_encoder() -> BytePairEncoder | None:
    """The encoder lazily loaded from the ranks file named by
    ``SPARK_GRAFT_BPE_RANKS`` (cached per process; workers inherit the env
    through spark.executorEnv / the OS environment). Tracks the env var both
    ways: setting/switching it (re)loads, UNSETTING it clears the cache and
    returns to fallback mode — no stale encoder survives."""
    path = os.environ.get("SPARK_GRAFT_BPE_RANKS")
    if path != _LOADED_FROM[0]:
        _DEFAULT[0] = BytePairEncoder.from_tiktoken_file(path) if path else None
        _LOADED_FROM[0] = path
    return _DEFAULT[0]
