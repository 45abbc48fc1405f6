"""S1-S3: HTML→text extraction, chunking, content filtering, quality scoring.

Spark-first design notes (scale rationale in SURVEY §4/§7):
- html→text and chunking are row-multiplying, CPU-bound, chunk-local →
  Arrow-batched ``mapInPandas``; no shuffle is introduced, partition layout
  of the pages scan is preserved.
- content filtering (T7, ingestion/content_filters.py:86-198) and quality
  scoring (T5, core/ocr.py:162-297) are pure per-row math → expressed as
  built-in column expressions (JVM/whole-stage-codegen, no Python), with
  pure-Python twins serving as test oracles (functions/quality.py for the
  filter, tests/helpers.py for the score).
- The pages input is repartitioned by ``pmod(xxhash64(url), N)`` before the
  heavy UDF stages so Zipf-headed domains can't serialize a partition
  (north_rule skew requirement).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..config import ChunkingConfig, ContentFilterConfig
from ..functions.charsets import to_text
from ..functions.chunking import (
    StructureHybridChunker,
    assign_text_units,
    chunk_document,
)
from ..functions.html_text import HtmlHeadingChunker, extract_plain_text
from .chunk_patterns import _PY_NON_SPACE_RE, _PY_SPACE_RUN_RE, _STRIP_RE

# ---------------------------------------------------------------------------
# S1: plain-text extraction (T1 — core/html_chunker.py:88-91)
# ---------------------------------------------------------------------------


def document_id_for_url(url: str) -> str:
    """Stable document id = md5(url).

    The reference keys documents on md5(path+mtime)
    (ingestion/document_processor.py:312-321); for the immutable
    (url, warc_ts) web-page input we key on the url alone so re-crawls of the
    same url overwrite (J5 incremental path diffs on content_hash).
    """
    return hashlib.md5(url.encode("utf-8", "replace")).hexdigest()


def repartition_by_url(df: DataFrame, num_partitions: int) -> DataFrame:
    """Url-hash repartition for head-domain skew (SURVEY §4): hashing the
    full url keeps the key space fine-grained, so a hot domain spreads
    over every partition.

    The partitioning KEY keeps 64x more distinct values than output
    partitions: hashing a key with exactly ``num_partitions`` values into
    ``num_partitions`` buckets leaves ~1/e of the partitions empty and
    loads others 2-4x (balls-in-bins — the guide's synthetic-key trap,
    measured r8: 122/192 partitions non-empty, max 226 rows vs 52 median,
    a straggler tail on the Python-heavy stage downstream).
    """
    key = F.pmod(F.xxhash64(F.col("url")), F.lit(num_partitions * 64))
    return df.repartition(num_partitions, key)


def extract_text(pages: DataFrame) -> DataFrame:
    """Decode the ``html`` binary column to a plain ``text`` column (T1).

    Bytes → str rides the WHATWG charset sniffer (r7,
    functions/charsets.py): BOM, meta prescan, strict-UTF-8 with a
    windows-1252 fallback — a crawl is ~5% legacy-encoded and a flat
    utf-8/replace mojibakes those pages into the corpus. Undeclared
    valid UTF-8 decodes exactly as before; a page DECLARING a legacy
    charset now follows its declaration like a browser would, even when
    its bytes happen to be valid UTF-8."""

    @F.pandas_udf(StringType())
    def _extract(html: pd.Series) -> pd.Series:
        return html.map(lambda b: extract_plain_text(to_text(b)))

    return pages.withColumn("text", _extract(F.col("html")))


# ---------------------------------------------------------------------------
# S2: chunking (T2 html_heading / T3 legacy recursive, T4 ids+offsets)
# ---------------------------------------------------------------------------

CHUNK_SCHEMA = StructType(
    [
        StructField("chunk_id", StringType(), False),
        StructField("document_id", StringType(), False),
        StructField("url", StringType(), True),
        StructField("content", StringType(), False),
        StructField("page", IntegerType(), True),
        StructField("start_offset", IntegerType(), True),
        StructField("end_offset", IntegerType(), True),
        StructField("chunk_index", IntegerType(), False),
        StructField("content_hash", StringType(), False),
        StructField("heading_path", StringType(), True),
        StructField("section_title", StringType(), True),
    ]
)


# the page column each strategy chunks from
STRATEGY_INPUT = {"html_heading": "html", "structure_hybrid": "binary", "legacy": "text"}


def chunk_inputs(pages: DataFrame, strategy: str) -> DataFrame:
    """``pages`` projected to the columns ``strategy`` reads: url, the
    strategy's input column, and text when present (the offset base for
    html/structure chunks).

    An unknown strategy or a missing input column is a plan-time
    ``ValueError``, not a per-row failure in a Python worker. A missing
    ``binary`` column in particular would otherwise send every row down
    structure_hybrid's per-document legacy downgrade, a silent corpus-wide
    misconfiguration.
    """
    need = STRATEGY_INPUT.get(strategy)
    if need is None:
        raise ValueError(
            f"unknown chunking strategy {strategy!r}; expected one of {sorted(STRATEGY_INPUT)}"
        )
    if need not in pages.columns:
        hint = "; load with keep_binary=True" if need == "binary" else ""
        raise ValueError(
            f"strategy={strategy!r} reads the {need!r} column, "
            f"which the pages lack (have: {pages.columns}){hint}"
        )
    return pages.select(*[c for c in dict.fromkeys(["url", need, "text"]) if c in pages.columns])


def page_tuples(pdf: pd.DataFrame) -> Iterator[tuple]:
    """(url, html, text, binary) per row of a ``chunk_inputs`` batch; a
    column the strategy does not read is None."""
    absent = [None] * len(pdf)
    return zip(*(pdf[c] if c in pdf.columns else absent for c in ("url", "html", "text", "binary")))


def page_chunker(strategy: str, cfg: ChunkingConfig | None = None) -> Callable[..., list[dict]]:
    """The one page → chunks kernel: ``(url, html, text, binary)`` → chunk
    rows holding the CHUNK_SCHEMA fields, for a strategy ``chunk_inputs``
    accepted (it also picks the columns the kernel reads).

    'html_heading' is HtmlHeadingChunker.chunk_html
    (core/html_chunker.py:93-124) over the charset-sniffed html (r7);
    'legacy' is the recursive splitter (core/chunking.py:260-264) over
    text; 'structure_hybrid' is the docling_hybrid analog
    (core/chunking.py:149-158 + core/docling_chunker.py): structured blocks
    parsed from the binary payload (docx headings/tables, pdf pages) are
    packed by StructureHybridChunker and their page numbers override the
    offset-derived ones, while a payload that yields no structure falls
    back to legacy (_resolve_chunking_strategy, core/chunking.py:288-292).
    Stable ids {doc}_tu_{start}_{end}_{sha1[:8]} per core/chunking.py:508-513.
    """
    cfg = cfg or ChunkingConfig()
    budget = (
        cfg.chunk_target_tokens,
        cfg.chunk_min_tokens,
        cfg.chunk_max_tokens,
        cfg.chunk_overlap_tokens,
        cfg.include_heading_path,
    )
    html_chunker = HtmlHeadingChunker(*budget)
    structure_chunker = StructureHybridChunker(*budget)

    def chunk(url, html, text, binary) -> list[dict]:
        url = str(url)
        doc_id = document_id_for_url(url)
        pieces = None  # None: the legacy recursive split of text
        if strategy == "html_heading":
            html = to_text(html)
            pieces = html_chunker.chunk_html(html)
            text = text or extract_plain_text(html)
        elif strategy == "structure_hybrid":
            from ..functions.docformats import decode_document, document_blocks

            data = bytes(binary) if isinstance(binary, (bytes, bytearray)) else None
            blocks = document_blocks(data, url) if data else None
            text = text or (decode_document(data, url) if data else None)
            if blocks:
                pieces = structure_chunker.chunk_blocks(blocks)
        if pieces is None:
            units = chunk_document(doc_id, text or "", cfg.chunk_size, cfg.chunk_overlap)
            metas = [{}] * len(units)
        else:
            units = assign_text_units(doc_id, text or "", [p["text"] for p in pieces])
            metas = [p["metadata"] for p in pieces]
        for unit, meta in zip(units, metas):
            unit["url"] = url
            unit["heading_path"] = meta.get("heading_path")
            unit["section_title"] = meta.get("section_title")
            if meta.get("page") is not None:
                unit["page"] = meta["page"]
        return units

    return chunk


def chunk_pages(
    pages: DataFrame,
    strategy: str = "html_heading",
    cfg: ChunkingConfig | None = None,
) -> DataFrame:
    """Chunk pages into TextUnits, one output row per chunk: ``page_chunker``
    over the ``chunk_inputs`` columns in one mapInPandas (chunk-local, no
    shuffle). The fused extraction pass runs the same kernel."""
    inputs = chunk_inputs(pages, strategy)
    columns = [f.name for f in CHUNK_SCHEMA.fields]

    def _chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunk = page_chunker(strategy, cfg)
        for pdf in batches:
            rows = [row for page in page_tuples(pdf) for row in chunk(*page)]
            yield pd.DataFrame(rows, columns=columns)

    return inputs.mapInPandas(_chunk, CHUNK_SCHEMA)


# ---------------------------------------------------------------------------
# S3: content filter (T7) — pure column expressions, JVM-side
# ---------------------------------------------------------------------------


def with_content_filter(
    chunks: DataFrame,
    content_col: str = "content",
    cfg: ContentFilterConfig | None = None,
) -> DataFrame:
    """Adds ``filter_reason`` (null = keep). Mirrors should_embed_chunk
    (ingestion/content_filters.py:127-171 + :200-283), generic text path, as
    whole-stage-codegen column expressions — zero Python in the hot path.

    Reason labels match the reference's FilterMetrics categories
    (content_filters.py:23-58): too_short, too_long, repetitive,
    bad_char_distribution.
    """
    cfg = cfg or ContentFilterConfig()
    # str.strip(), str.split() and str.isspace() as in the twin, not F.trim
    # (which strips only U+0020) and Java's plain \s (ASCII only)
    c = F.regexp_replace(F.col(content_col), _STRIP_RE, "")
    length = F.length(c)
    words = F.split(c, _PY_SPACE_RUN_RE)
    n_words = F.size(words)
    unique_ratio = F.size(F.array_distinct(words)) / n_words
    first_word = F.lower(F.element_at(words, 1))
    # count of words equal (case-folded) to the first word. NOT
    # F.filter(words, lambda w: lower(w) == first_word): an interpreted
    # higher-order filter re-evaluates the captured first_word expression —
    # which embeds the full split — once PER ELEMENT, making the predicate
    # O(words^2) per row (measured r8: this one expression was 2.6 s of the
    # 2.8 s content-filter pass at sf0.1). array_remove evaluates both
    # operands once and scans linearly; count = |words| - |words without
    # first_word|, value-identical (pinned by the DuckDB oracle and the
    # quality.py twin tests).
    lowered = F.transform(words, lambda w: F.lower(w))
    first_word_count = F.size(lowered) - F.size(F.array_remove(lowered, first_word))
    # character classes: \p{L}\p{N} ≈ Python str.isalnum (exact on ASCII)
    alnum = F.length(F.regexp_replace(c, r"[^\p{L}\p{N}]", ""))
    space = F.length(F.regexp_replace(c, _PY_NON_SPACE_RE, ""))
    special = length - alnum - space

    reason = (
        F.when(length < cfg.min_chunk_length, F.lit("too_short"))
        .when(length > cfg.max_chunk_length, F.lit("too_long"))
        .when(n_words == 0, F.lit("repetitive"))
        .when(unique_ratio < cfg.min_unique_word_ratio, F.lit("repetitive"))
        .when(
            (n_words >= 4) & ((first_word_count / n_words) > 0.7),
            F.lit("repetitive"),
        )
        .when(
            (alnum / length) < cfg.min_alphanumeric_ratio,
            F.lit("bad_char_distribution"),
        )
        .when(
            (special / length) > cfg.max_special_char_ratio,
            F.lit("bad_char_distribution"),
        )
        .otherwise(F.lit(None).cast(StringType()))
    )
    return chunks.withColumn("filter_reason", reason)


# ---------------------------------------------------------------------------
# T5: quality scoring — column expressions (oracle: tests/helpers.py)
# ---------------------------------------------------------------------------


def with_quality_score(chunks: DataFrame, content_col: str = "content") -> DataFrame:
    """Adds ``quality_score`` replicating core/ocr.py:162-258 JVM-side.

    score = text_ratio*0.4 + (1-ws_ratio)*0.3 + min(words_per_line/5,1)*0.3
    with multiplicative penalties (non-ASCII ×0.8, fragmented ×0.7,
    triple-space ×0.9, short ×0.6); 0.0 for len(strip)<5.
    """
    c = F.col(content_col)
    total = F.length(c)
    alnum = F.length(F.regexp_replace(c, r"[^\p{L}\p{N}]", ""))
    space = F.length(F.regexp_replace(c, _PY_NON_SPACE_RE, ""))
    text_ratio = alnum / total
    ws_ratio = space / total

    # str.strip() per line and on the whole text, str.split() words and
    # str.isspace() counts, as in the twin (F.trim strips only U+0020, and
    # Java's plain \s is ASCII)
    lines = F.filter(
        F.transform(F.split(c, "\n"), lambda x: F.regexp_replace(x, _STRIP_RE, "")),
        lambda x: x != "",
    )
    total_words = F.aggregate(
        lines, F.lit(0), lambda acc, x: acc + F.size(F.split(x, _PY_SPACE_RUN_RE))
    )
    avg_wpl = F.when(F.size(lines) > 0, total_words / F.size(lines)).otherwise(F.lit(0.0))

    has_artifacts = c.rlike(r"[^\x00-\x7F]")
    # NB: Java's \W is ASCII-only; Python's re is Unicode — use the explicit
    # Unicode class so both agree on fragmented-word counting
    n_short_words = F.size(
        F.filter(F.split(c, r"[^\p{L}\p{N}_]+"), lambda w: (F.length(w) >= 1) & (F.length(w) <= 2))
    )
    has_fragmented = n_short_words > (total * F.lit(0.1))
    has_triple_space = c.contains("   ")

    base = (
        text_ratio * 0.4
        + (F.lit(1.0) - ws_ratio) * 0.3
        + F.least(avg_wpl / 5, F.lit(1.0)) * 0.3
    )
    score = (
        base
        * F.when(has_artifacts, 0.8).otherwise(1.0)
        * F.when(has_fragmented, 0.7).otherwise(1.0)
        * F.when(has_triple_space, 0.9).otherwise(1.0)
        * F.when(total < 30, 0.6).otherwise(1.0)
    )
    score = F.when(
        F.length(F.regexp_replace(c, _STRIP_RE, "")) < 5, F.lit(0.0)
    ).otherwise(score)
    return chunks.withColumn("quality_score", score)
