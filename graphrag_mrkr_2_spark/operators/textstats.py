"""Text analysis operators: language-ID, token counts, fingerprints.

Corpus-analysis layer for training-data pipelines (task brief). All pure
column expressions — whole-stage codegen, no Python in the hot path — with
ANSI-SQL oracle equivalents in __spark_entry__.oracle_sql().
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Small, fixed stopword profiles. Word-boundary regex counting keeps the
# heuristic SQL-portable (same regexes run in the DuckDB oracle).
# ASCII-only words on purpose: Java's \b is Unicode-aware while DuckDB's
# RE2 \b is ASCII-only, so a profile word ending in an accented char (the
# round-1 "für") silently never matches on the oracle side.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "for", "with", "that", "are"],
    "it": ["il", "la", "di", "che", "e", "per", "con", "del", "una", "sono"],
    "de": ["der", "die", "und", "das", "ist", "mit", "von", "ein", "nicht", "auch"],
    "es": ["el", "los", "las", "una", "por", "como", "pero", "sus", "este", "entre"],
    "fr": ["les", "des", "est", "dans", "pour", "qui", "pas", "sur", "avec", "cette"],
}

# deterministic priority when strictly greater than every other profile
_LANG_PRIORITY = ["en", "it", "de", "es", "fr"]

# CJK scripts have no whitespace-delimited stopwords — classify by char ratio
CJK_RANGE = "[一-鿿]"
CJK_MIN_RATIO = 0.05


def _stopword_hits(text_col, words: list[str]):
    pattern = r"\b(?:" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text_col), F.lit(pattern), F.lit(0)))


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language ID into ``lang_pred``: CJK char-ratio branch ('zh' when >5% of chars are in the
    unified-ideograph block), else argmax over stopword-profile hit counts.

    Ties or zero hits → 'und'. A language wins only when strictly greater
    than every other profile (priority order deterministic, see
    _LANG_PRIORITY). Pure column expressions; the DuckDB oracle runs the
    same regexes.
    """
    c = F.col(text_col)
    scores = {lang: _stopword_hits(c, ws) for lang, ws in LANG_PROFILES.items()}
    cjk = F.length(c) - F.length(F.regexp_replace(c, CJK_RANGE, ""))
    is_zh = (F.length(c) > 0) & (cjk > F.length(c) * F.lit(CJK_MIN_RATIO))

    pred = None
    for lang in _LANG_PRIORITY:
        cond = None
        for other in _LANG_PRIORITY:
            if other == lang:
                continue
            c2 = scores[lang] > scores[other]
            cond = c2 if cond is None else (cond & c2)
        pred = (
            F.when(cond, F.lit(lang))
            if pred is None
            else pred.when(cond, F.lit(lang))
        )
    pred = pred.otherwise(F.lit("und"))
    return df.withColumn("lang_pred", F.when(is_zh, F.lit("zh")).otherwise(pred))


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + approx BPE tokens (ceil(chars/4), the reference's
    tiktoken-less approximation, core/token_counter.py:49) + word-ish tokens
    from a BPE-flavored regex (letters runs / digit runs / single symbols)."""
    c = F.trim(F.col(text_col))
    ws_tokens = F.when(F.length(c) == 0, F.lit(0)).otherwise(F.size(F.split(c, r"\s+")))
    approx = F.greatest((F.length(c) / F.lit(4)).cast("long"), F.lit(1))
    bpe_ish = F.size(
        F.filter(F.split(c, r"(?<=[^\p{L}\p{N}])|(?=[^\p{L}\p{N}])"), lambda t: F.trim(t) != "")
    )
    return (
        df.withColumn("ws_tokens", ws_tokens.cast("long"))
        .withColumn("approx_tokens", approx)
        .withColumn("regex_tokens", bpe_ish.cast("long"))
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document ``fingerprint``: md5 over the whitespace-normalized, lowercased
    text — the canonical-form hash used for near-exact dedup grouping."""
    normalized = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return df.withColumn("fingerprint", F.md5(normalized))


def corpus_stats(docs: DataFrame) -> DataFrame:
    """Corpus-level reporting a curation run ends with: per ``lang`` (as
    ``grp``) document count, token totals, and EXACT length percentiles
    (p50/p95/p99 via Spark's exact ``percentile`` — at reporting
    cardinality the exact sort-based aggregate is affordable and lets an
    external SQL engine reproduce the numbers bit-for-bit; swap to
    approx_percentile when groups reach billions)."""
    from .textclean import ascii_word_tokens

    toks = F.size(ascii_word_tokens(F.col("text")))
    base = docs.select(
        F.col("lang").alias("grp"),
        F.length("text").cast("double").alias("n_chars"),
        toks.cast("long").alias("n_tokens"),
    )
    return base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.expr("percentile(n_chars, 0.5)").alias("p50_chars"),
        F.expr("percentile(n_chars, 0.95)").alias("p95_chars"),
        F.expr("percentile(n_chars, 0.99)").alias("p99_chars"),
    )
