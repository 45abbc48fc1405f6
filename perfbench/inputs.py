"""Benchmark inputs, made from the workload seed, and their check oracles.

- pages: ``sources/pages.generate_pages`` (synthetic Common-Crawl pages with
  Zipf domains) written to parquet; its oracle is
  ``functions/reference_pipeline.run_reference_pipeline`` over the same pages
  chunked the reference way.
- mentions: MENTION_SCHEMA rows made here. Entity names are Zipf-ranked
  inside topic clusters and appear with case variants ("Toravin Kelsu",
  "TORAVIN KELSU") and suffix variants ("Toravin Kelsu Inc"); relationships
  link entities mentioned in the same chunk. Its oracle is
  ``checks.triples_from_mentions``.
"""

from __future__ import annotations

import random

_SYLLABLES = (
    "ka to ra vin kel su mor da li sen tu va ber no qui zan fel ho ri pa "
    "gor men tal us ix el ban cor dra pel sil tor um ya wen ost"
).split()
_SUFFIXES = (" Inc", " Labs", " Group", " Systems International")
_ENTITY_TYPES = ("ORGANIZATION", "PRODUCT", "SERVICE", "COMPONENT", "PERSON", "LOCATION")
_REL_TYPES = ("DEPENDS_ON", "PART_OF", "USES", "MANAGES", "RELATED_TO")
_IMPORTANCE = (0.1, 0.45, 0.6, 0.75, 0.9)  # 0.1 falls under the 0.3 gate
_STRENGTH = (0.2, 0.5, 0.7, 0.9)  # 0.2 falls under the 0.4 gate


def write_pages(spark, path: str, n_pages: int, seed: int, partitions: int) -> None:
    from graphrag_mrkr_2_spark.sources.pages import generate_pages

    generate_pages(spark, n_pages, seed=seed, partitions=partitions).write.mode(
        "overwrite"
    ).parquet(path)


def reference_triples(n_pages: int, seed: int) -> set[tuple[str, str, str]]:
    """The reference pipeline's triple set for generate_pages(n_pages, seed)."""
    from graphrag_mrkr_2_spark.functions.chunking import assign_text_units
    from graphrag_mrkr_2_spark.functions.html_text import HtmlHeadingChunker
    from graphrag_mrkr_2_spark.functions.quality import should_embed_chunk
    from graphrag_mrkr_2_spark.functions.reference_pipeline import run_reference_pipeline
    from graphrag_mrkr_2_spark.operators.extract import document_id_for_url
    from graphrag_mrkr_2_spark.sources.pages import make_page

    chunker = HtmlHeadingChunker()
    docs = []
    for i in range(n_pages):
        page = make_page(i, seed)
        doc_id = document_id_for_url(page["url"])
        pieces = chunker.chunk_html(page["html"].decode())
        units = assign_text_units(doc_id, page["text"], [c["text"] for c in pieces])
        kept = [(u["chunk_id"], u["content"]) for u in units if should_embed_chunk(u["content"])[0]]
        docs.append((doc_id, kept))
    triples, _ = run_reference_pipeline(docs)
    return triples


def _word(rng: random.Random) -> str:
    n = 2 + int(rng.random() * 2)
    return "".join(_SYLLABLES[int(rng.random() * len(_SYLLABLES))] for _ in range(n)).capitalize()


def _zipf_index(u: float, weights: list[float], total: float) -> int:
    """Index whose cumulative weight first reaches ``u * total``."""
    x = u * total
    for i, w in enumerate(weights):
        x -= w
        if x <= 0:
            return i
    return len(weights) - 1


def mention_rows(n_docs: int, seed: int, n_topics: int | None = None) -> list[tuple]:
    """MENTION_SCHEMA tuples for ``n_docs`` documents.

    Documents are spread over topics by Zipf weight (stratified: document d
    takes the topic at quantile (d + 0.5) / n_docs, so every seed has the
    same topic sizes and only names and draws change) and have 2-5 chunks; each
    chunk mentions 2-5 of the topic's entities (Zipf over the topic's ranks,
    1% drawn from another topic, which joins topic graphs) and relates each
    mentioned entity to the next. A mention is written as the base name, or
    15% of the time as a lower/upper-case variant, or 10% of the time as a
    suffixed variant, which is a different entity that entity resolution
    should merge with the base when the suffix is short.
    """
    rng = random.Random(seed)
    n_topics = n_topics or max(4, n_docs // 6)
    per_topic = 10
    topics = []
    for t in range(n_topics):
        ents = []
        for r in range(per_topic):
            ents.append(
                (
                    f"{_word(rng)} {_word(rng)}",
                    _ENTITY_TYPES[int(rng.random() * len(_ENTITY_TYPES))],
                    # by (topic, rank), not drawn: which ranks fall under the
                    # importance gate would otherwise swing the triple count
                    _IMPORTANCE[(t + r) % len(_IMPORTANCE)],
                )
            )
        topics.append(ents)
    topic_w = [1.0 / (r + 1) ** 0.8 for r in range(n_topics)]
    topic_total = sum(topic_w)
    rank_w = [1.0 / (r + 1) for r in range(per_topic)]
    rank_total = sum(rank_w)

    rows: list[tuple] = []
    for d in range(n_docs):
        doc_id = f"doc-{seed}-{d:06d}"
        topic = topics[_zipf_index((d + 0.5) / n_docs, topic_w, topic_total)]
        for c in range(2 + int(rng.random() * 4)):
            chunk_id = f"{doc_id}:c{c}"
            surfaces = []
            for _ in range(2 + int(rng.random() * 4)):
                src = topic
                if rng.random() < 0.01:
                    src = topics[int(rng.random() * n_topics)]
                base, typ, imp = src[_zipf_index(rng.random(), rank_w, rank_total)]
                x = rng.random()
                if x < 0.075:
                    name = base.lower()
                elif x < 0.15:
                    name = base.upper()
                elif x < 0.25:
                    name = base + _SUFFIXES[int(rng.random() * len(_SUFFIXES))]
                else:
                    name = base
                surfaces.append(name)
                rows.append(
                    ("entity", chunk_id, doc_id, name, typ, None,
                     f"{base} as described in {chunk_id}", imp, None, [chunk_id])
                )
            for a, b in zip(surfaces, surfaces[1:]):
                if a.upper() == b.upper():
                    continue
                rows.append(
                    ("relationship", chunk_id, doc_id, a,
                     _REL_TYPES[int(rng.random() * len(_REL_TYPES))], b,
                     f"{a} and {b} in {chunk_id}", None,
                     _STRENGTH[int(rng.random() * len(_STRENGTH))], [chunk_id])
                )
    return rows


def write_mentions(spark, path: str, rows: list[tuple], partitions: int) -> None:
    import pandas as pd

    from graphrag_mrkr_2_spark.operators.triples import MENTION_SCHEMA

    pdf = pd.DataFrame(rows, columns=[f.name for f in MENTION_SCHEMA.fields])
    spark.createDataFrame(pdf, MENTION_SCHEMA).repartition(partitions).write.mode(
        "overwrite"
    ).parquet(path)
