"""Pipeline defaults mirroring the reference's ``config/settings.py``.

Every constant cites the reference default it reproduces
(/root/reference/config/settings.py unless noted). These are plain module
constants: the engine is configured per-run via :class:`PipelineConfig`, not a
global mutable settings object.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class ChunkingConfig:
    # settings.py:138-139 (legacy recursive splitter)
    chunk_size: int = 1200
    chunk_overlap: int = 150
    # settings.py:140-153 (token-aware HTML heading chunker)
    chunk_target_tokens: int = 800
    chunk_min_tokens: int = 180
    chunk_max_tokens: int = 1000
    chunk_overlap_tokens: int = 100
    include_heading_path: bool = True  # settings.py:155-157


@dataclass(frozen=True)
class ExtractionConfig:
    # settings.py:183-188 — additional passes after the initial extraction
    max_gleanings: int = 1
    # settings.py:744-747 / 748-751 — persistence gates
    importance_score_threshold: float = 0.3
    strength_threshold: float = 0.4


@dataclass(frozen=True)
class ContentFilterConfig:
    # ingestion/content_filters.py:86-118 constructor defaults
    min_chunk_length: int = 50
    max_chunk_length: int = 100000
    min_unique_word_ratio: float = 0.3
    max_special_char_ratio: float = 0.5
    min_alphanumeric_ratio: float = 0.3


@dataclass(frozen=True)
class PipelineConfig:
    chunking: ChunkingConfig = field(default_factory=ChunkingConfig)
    extraction: ExtractionConfig = field(default_factory=ExtractionConfig)
    content_filter: ContentFilterConfig = field(default_factory=ContentFilterConfig)


DEFAULT_CONFIG = PipelineConfig()
