"""Test-only helpers: fixture encoders at settings no product caller uses,
input builders (hostile pages, probed media tables), and the reference
twins of product operators that tests compare against.

The package keeps one code path per function and turns settings no product
caller passes into module constants; the wrappers here patch those
constants for one call. The twins are Spark operators kept as oracles: their
UDF bodies are nested functions, so Python workers unpickle them by value
and never import this module.
"""

from __future__ import annotations

import re
from datetime import timedelta
from unittest import mock

import numpy as np

from graphrag_mrkr_2_spark.functions import jpegcodec
from graphrag_mrkr_2_spark.functions.html_text import extract_plain_text
from graphrag_mrkr_2_spark.functions.mock_llm import ENTITY_VOCAB
from graphrag_mrkr_2_spark.sources.pages import _BASE_TS, PAGES_SCHEMA, _hint


def encode_jpeg_at(pixels, quality=90, subsampling="444") -> bytes:
    """``jpegcodec.encode_jpeg`` at a given quality and chroma subsampling."""
    with mock.patch.multiple(jpegcodec, JPEG_QUALITY=quality, JPEG_SUBSAMPLING=subsampling):
        return jpegcodec.encode_jpeg(pixels)


# ---------------------------------------------------------------------------
# Input builders
# ---------------------------------------------------------------------------


_ADVERSARIAL_VARIANTS = 8
# length of variant 5's single <p>; the 10 MB test patches it
BIG_PAGE_CHARS = 200_000


def make_adversarial_page(i: int) -> dict:
    """Hostile-input page generator (VERDICT r3 'Next round' #8): the checked-
    in fixture source for the adversarial parity gate. Variant ``i % 8``:

    0. deep nesting          300-level div/span towers around real content
    1. malformed entities    unterminated/unknown/overflowing &-references
    2. mis-nested tags       unclosed <p>, interleaved <b><i></b></i>, stray
                             closers, orphan <li>/<td>
    3. comment/script traps  markup-shaped text inside <!-- -->, <script>,
                             <style> that must NOT surface or chunk
    4. unicode soup          BOM, NBSP, ZWJ, combining marks, CJK, emoji,
                             RTL runs mixed into mentions
    5. single-tag megapage   ONE <p> of ~``BIG_PAGE_CHARS`` chars (the
                             10 MB case: BIG_PAGE_CHARS=10_000_000)
    6. attribute bombs       multi-KB attribute values, quotes/brackets
                             inside attributes, duplicate ids
    7. hollow page           boilerplate-only / whitespace body

    Every variant still embeds ENTITY_VOCAB mentions so the extraction
    oracle has real work; text is the frozen extract_plain_text output,
    keeping the byte-identical-per-url invariant.
    """
    nvocab = len(ENTITY_VOCAB)
    base = _hint(42, i, "aent", nvocab)
    mentions = [(base + 5 * j) % nvocab for j in range(4)]
    mentions = list(dict.fromkeys(mentions))
    names = [ENTITY_VOCAB[v][0] for v in mentions]
    variant = i % _ADVERSARIAL_VARIANTS
    url = f"https://hostile{i % 7}.example.test/adv/{variant}/case-{i}"

    body = ""
    if variant == 0:
        depth = 300
        inner = f"<h1>Deep dive {i}</h1><p>{names[0]} is documented here. " \
                f"{names[1]} is documented here.</p>"
        body = ("<div><span>" * depth) + inner + ("</span></div>" * depth)
    elif variant == 1:
        body = (
            f"<h1>Entity torture {i}</h1>"
            f"<p>{names[0]} is documented here.&nbsp with &#xZZ; broken refs "
            f"&amp unterminated &bogusref; unknown &#99999999999; overflow "
            f"and a stray & ampersand. {names[1]} is documented here.</p>"
        )
    elif variant == 2:
        body = (
            f"<h1>Mis-nesting {i}"
            f"<p>{names[0]} is documented here. <b>bold <i>both</b> italic?</i>"
            f"<p>{names[1]} is documented here.</div></div>"
            f"<li>orphan item</li><td>orphan cell</td>"
        )
    elif variant == 3:
        body = (
            f"<h1>Trap markup {i}</h1>"
            f"<!-- <h1>ghost heading</h1><p>ghost para</p> -->"
            f"<script>var x = \"<h2>not a heading</h2>\"; if (a < b) {{}}</script>"
            f"<style>.x::before {{ content: \"<li>styled</li>\"; }}</style>"
            f"<p>{names[0]} is documented here. {names[1]} is documented here.</p>"
        )
    elif variant == 4:
        body = (
            f"﻿<h1>Unicode {i} 中文 \U0001f600</h1>"
            f"<p>{names[0]} is documented here. ​"
            f"naïve café שלום "
            f"{names[1]} is documented here.</p>"
        )
    elif variant == 5:
        sent = f"{names[0]} is documented here. {names[1]} is documented here. "
        reps = max(1, BIG_PAGE_CHARS // len(sent))
        body = f"<p>{sent * reps}</p>"
    elif variant == 6:
        bomb = "x" * 4096
        body = (
            f"<h1 id=\"dup\" data-blob=\"{bomb}\" title='quote\"inside'>Attr bomb {i}</h1>"
            f"<p id=\"dup\" data-angle=\"a<b>c\">{names[0]} is documented here. "
            f"{names[1]} is documented here.</p>"
        )
    else:
        body = "<nav>ONLY NAV</nav>   \n\t  <footer>ONLY FOOTER</footer>"

    html = f"<html><head><title>adv {i}</title></head><body>{body}</body></html>"
    return {
        "url": url,
        "warc_ts": _BASE_TS + timedelta(seconds=i * 53 % 864000),
        "html": html.encode("utf-8"),
        "text": extract_plain_text(html),
        "lang": "en",
    }


def generate_adversarial_pages(spark, n: int):
    """``n`` hostile pages as a pages table, built on the driver (the pages
    are small) in the partition count the pipeline tests expect."""
    partitions = max(1, min(16, n // 8 or 1))
    names = PAGES_SCHEMA.fieldNames()
    rows = [tuple(make_adversarial_page(i)[k] for k in names) for i in range(n)]
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), PAGES_SCHEMA)


def probed_media(spark, rows):
    """(media_id, payload) rows → a ``multimodal.MEDIA_SCHEMA`` table: kind,
    codec, dims and duration read from each container's headers by
    ``multimodal.probe_media``; unknown payloads keep kind='unknown'."""
    from graphrag_mrkr_2_spark.operators.multimodal import MEDIA_SCHEMA, probe_media

    meta_fields = MEDIA_SCHEMA["meta"].dataType.fieldNames()
    out = []
    for media_id, payload in rows:
        p = probe_media(bytes(payload))
        out.append((media_id, p["kind"] or "unknown", bytes(payload),
                    {k: p[k] for k in meta_fields}))
    return spark.createDataFrame(out, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Reference twins of product operators
# ---------------------------------------------------------------------------


def chunk_similarity_edges(chunks, threshold=0.7, max_connections=5):
    """J1 self-join oracle of ``similarity.chunk_similarity_edges_grams``:
    within-document SIMILAR_TO edges with per-source rank, over
    (document_id, chunk_id, embedding).

    Directed top-k per source first (rank semantics of graph_db.py:2056-2083),
    then undirected canonicalization (least/greatest) keeping the best
    (score, min rank) per pair — matching the MERGE-undirected persistence.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from graphrag_mrkr_2_spark.operators.ann import _as_double, _dot, _norm

    left = chunks.select(
        F.col("document_id").alias("doc"), F.col("chunk_id").alias("src"), F.col("embedding").alias("v1")
    )
    right = chunks.select(
        F.col("document_id").alias("doc"), F.col("chunk_id").alias("dst"), F.col("embedding").alias("v2")
    )
    v1, v2 = _as_double(F.col("v1")), _as_double(F.col("v2"))
    pairs = (
        left.join(right, "doc")
        .where(F.col("src") != F.col("dst"))
        .withColumn("score", _dot(v1, v2) / (_norm(v1) * _norm(v2)))
        .where(F.col("score") >= threshold)
    )
    w = Window.partitionBy("doc", "src").orderBy(F.desc("score"), F.asc("dst"))
    ranked = pairs.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= max_connections
    )
    return (
        ranked.select(
            F.col("doc").alias("document_id"),
            F.least(F.col("src"), F.col("dst")).alias("id1"),
            F.greatest(F.col("src"), F.col("dst")).alias("id2"),
            F.col("score"),
            F.col("rank"),
        )
        .groupBy("document_id", "id1", "id2")
        .agg(F.max("score").alias("score"), F.min("rank").alias("rank"))
        .withColumn("edge_type", F.lit("SIMILAR_TO"))
    )


def entity_similarity_edges_exact(nodes):
    """Quadratic crossJoin baseline of ``similarity.entity_similarity_edges``:
    every pair a.id < b.id is a candidate, scored and ranked as the LSH
    path scores and ranks its bucketed candidates."""
    from pyspark.sql import functions as F

    from graphrag_mrkr_2_spark.operators.similarity import _top_similar

    v = nodes.select(F.col("entity_id").alias("id"), F.col("embedding").alias("v"))
    a, b = v.alias("a"), v.alias("b")
    return _top_similar(a.crossJoin(b).where(F.col("a.id") < F.col("b.id")))


def embedding_near_dupes_exact(df, threshold):
    """Quadratic self-join baseline of ``dedup.embedding_near_dupes``:
    cosine-similar pairs (id1 < id2, cosine >= threshold) of
    (vec_id, embedding)."""
    from pyspark.sql import functions as F

    from graphrag_mrkr_2_spark.operators.ann import _as_double, _dot, _norm

    v = df.select(F.col("vec_id").alias("id"), _as_double(F.col("embedding")).alias("vec"))
    a, b = v.alias("a"), v.alias("b")
    pairs = a.join(b, F.col("a.id") < F.col("b.id")).select(
        F.col("a.id").alias("id1"),
        F.col("b.id").alias("id2"),
        F.col("a.vec").alias("v1"),
        F.col("b.vec").alias("v2"),
    )
    cos = _dot(F.col("v1"), F.col("v2")) / (_norm(F.col("v1")) * _norm(F.col("v2")))
    return pairs.select("id1", "id2", cos.alias("cosine")).where(F.col("cosine") >= threshold)


def ngram_hashes_interpreted(df, n):
    """The pre-r4 higher-order-function gram builder over (doc_id, text):
    the equality oracle of ``textclean.ngram_hashes``."""
    from pyspark.sql import functions as F

    from graphrag_mrkr_2_spark.operators.textclean import ascii_word_tokens

    toks_df = df.select(
        F.col("doc_id"),
        ascii_word_tokens(F.col("text")).alias("__toks"),
    )
    t = F.col("__toks")
    grams = F.transform(
        F.slice(t, 1, F.greatest(F.size(t) - (n - 1), F.lit(0))),
        lambda w, i: F.xxhash64(
            F.concat_ws(" ", F.array([F.element_at(t, i + j + 1) for j in range(n)]))
        ),
    )
    return toks_df.select(F.col("doc_id"), F.explode(grams).alias("gram_hash"))


def extract_mentions(chunks, llm=None, max_gleanings=1):
    """S4+S5 of the modular chain: run the gleaning extraction per chunk
    of (chunk_id, document_id, content), emit ``triples.MENTION_SCHEMA``
    rows — the per-stage twin of ``triples.extract_mentions_fused``.

    One union table ('entity'/'relationship' rows) so the LLM runs once per
    chunk; split with ``entity_mentions``/``relationship_mentions``.
    """
    from graphrag_mrkr_2_spark.functions.mock_llm import mock_llm_response
    from graphrag_mrkr_2_spark.operators.triples import MENTION_SCHEMA, mention_frame

    llm = llm or mock_llm_response

    def _extract(batches):
        for pdf in batches:
            out = mention_frame(
                zip(pdf["chunk_id"], pdf["document_id"], pdf["content"]), llm, max_gleanings
            )
            if len(out):
                yield out

    return chunks.select("chunk_id", "document_id", "content").mapInPandas(
        _extract, MENTION_SCHEMA
    )


def orphan_entities_per_doc(rels_doc, entities_doc):
    """C5 — endpoints that resolve to no entity by name become orphan rows
    (type '', importance 0, mention_count 0, is_orphan=true;
    entity_graph.py:292-341). Empty by construction after the consolidation
    endpoint check (triples.py:371-376), so ``canonicalize`` does not call
    it; real for a direct-persistence path and exercised by the F4
    fixtures.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StringType

    endpoints = (
        rels_doc.select("document_id", F.col("source_entity").alias("name"))
        .unionByName(rels_doc.select("document_id", F.col("target_entity").alias("name")))
        .withColumn("name_key", F.upper(F.trim(F.col("name"))))
        .dropDuplicates(["document_id", "name_key"])
    )
    known = entities_doc.select(
        "document_id", F.upper(F.trim(F.col("name"))).alias("name_key")
    ).distinct()
    missing = endpoints.join(known, ["document_id", "name_key"], "left_anti")
    return missing.select(
        "document_id",
        F.trim(F.col("name")).alias("name"),
        F.lit("").alias("type"),
        F.lit("").alias("description"),
        F.lit(0.0).alias("importance_score"),
        F.array().cast(ArrayType(StringType())).alias("source_chunks"),
        F.lit(0).cast("long").alias("mention_count"),
        F.lit(True).alias("is_orphan"),
    )


def image_features_binned(media, bins, **kwargs):
    """``multimodal.image_features`` with a ``bins``-bin luminance histogram."""
    from graphrag_mrkr_2_spark.operators import multimodal

    with mock.patch.object(multimodal, "IMAGE_FEATURE_BINS", bins):
        return multimodal.image_features(media, **kwargs)


def modularity(edges, membership: dict) -> float:
    """Weighted modularity (resolution 1) of a membership dict over an edge
    list [(u, v, w)] (the quantity igraph reports alongside the partition)."""
    from graphrag_mrkr_2_spark.functions.leiden import _build

    idx, _, strength, _, two_m = _build(edges)
    if two_m <= 0:
        return 0.0
    intra = 0.0
    tot: dict[int, float] = {}
    for node, i in idx.items():
        c = membership[node]
        tot[c] = tot.get(c, 0.0) + strength[i]
    for u, v, w in edges:
        if membership[u] == membership[v]:
            intra += float(w)
    # each undirected edge counted once in `edges`; modularity uses 2m scale
    # (self-loops contribute w here and 2w to strength — consistent with
    # the _build convention)
    return (2.0 * intra) / two_m - sum(t * t for t in tot.values()) / (two_m * two_m)


def cosine_similarity(vec1, vec2) -> float:
    """Pure cosine, mirroring core/graph_db.py:2013-2028 (_cosine_similarity)."""
    a = np.asarray(vec1, dtype=np.float64)
    b = np.asarray(vec2, dtype=np.float64)
    na, nb = np.linalg.norm(a), np.linalg.norm(b)
    if na == 0.0 or nb == 0.0:
        return 0.0
    return float(np.dot(a, b) / (na * nb))


# T5 quality score: the twin of ``extract.with_quality_score``
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
