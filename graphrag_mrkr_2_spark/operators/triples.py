"""S4-S8: triple extraction (with gleaning), consolidation, canonicalization.

Reference semantics replicated (SURVEY §2.3/§2.4):

  per chunk (inside one Arrow batch, chunk-local → mapInPandas):
    LLM pass 1 + gleaning passes        entity_extraction.py:879-1044
    tuple_v1 parse                      tuple_parser.py:69-344
    low-value filter                    entity_extraction.py:443-468
    per-chunk dedup + normalization     entity_extraction.py:470-513
  per document (groupBy aggregations):
    global dedup                        entity_extraction.py:1142-1148
    endpoint semi-join (drop rels with  entity_extraction.py:1152-1163,
    missing endpoints)                  :1279
    importance >= 0.3 / strength >= 0.4 document_processor.py:1096-1125
    entity merge (desc set-union,       entity_graph.py:132-198
    mean importance, mention counts)
    relationship merge (strength SUM,   entity_graph.py:217-290
    desc set-union, directed key
    (source, target, rel_type))
  global:
    entity id md5(lower(name))[:16]     entity_graph.py:400-404
    node MERGE by name / edge MERGE by  entity_graph.py:424-480
    (source_name, target_name, type)

Documented divergences (none affect (subj, pred, obj) identity — SURVEY §7.4):
- importance averaging is the reference's order-dependent pairwise mean; we
  use the arithmetic mean (exact for the entity_graph stage, which the
  reference itself computes as a running mean ≡ arithmetic mean).
- when one name carries several types, the reference keeps the dict-insertion
  "last" type (entity_extraction.py:1147); we keep the lexicographically
  greatest type deterministically.
- description keep-longer tie-breaks are first-seen in the reference. The
  global node merge (build_nodes) breaks equal-length ties by the greatest
  description, so ``nodes`` does not depend on row order; the per-document
  consolidation still keeps max_by(length), whose ties follow row order.

Orphan entities (C5, entity_graph.py:292-341): the batch path does not
union orphan rows into entities_doc, because the X10 endpoint check leaves
none. consolidate_relationships_per_doc keeps a relationship only if both
upper(trim()) endpoint keys are in its document's entity name set
(triples.py:371-376), and the C5 orphan anti-join (kept as a test oracle)
keys on that same upper(trim()) name against that same entities_doc.

Scale notes:
- extraction is chunk-local: no shuffle; Arrow batch size bounds UDF memory.
- every groupBy below benefits from Spark's built-in partial (map-side)
  aggregation; mega-entity keys ("THE"-like) produce one partial row per map
  partition, so the final reduce sees O(#partitions) rows per key, not
  O(#mentions). The global tables cap each key's provenance at
  DEFAULT_GLOBAL_PROVENANCE_CAP chunk ids (``capped_provenance``).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from dataclasses import asdict

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.extraction import extract_chunk_with_gleaning
from ..functions.mock_llm import mock_llm_response

MENTION_SCHEMA = StructType(
    [
        StructField("kind", StringType(), False),  # 'entity' | 'relationship'
        StructField("chunk_id", StringType(), False),
        StructField("document_id", StringType(), False),
        StructField("name", StringType(), True),  # entity name / rel source
        StructField("type", StringType(), True),  # entity type / rel type
        StructField("target", StringType(), True),  # rel target (null for entity)
        StructField("description", StringType(), True),
        StructField("importance", DoubleType(), True),
        StructField("strength", DoubleType(), True),
        StructField("source_chunks", ArrayType(StringType()), True),
    ]
)


MENTION_COLUMNS = [f.name for f in MENTION_SCHEMA.fields]


def mention_frame(
    chunks: Iterable[tuple[str, str, str | None]],
    llm: Callable[[str, str, int], str],
    max_gleanings: int,
) -> pd.DataFrame:
    """Gleaning extraction over (chunk_id, document_id, content) → one
    MENTION_SCHEMA frame ('entity'/'relationship' rows), built from one
    list per column. The doubles are float64 arrays; the other columns keep
    explicit Nones, because a NaN-filled column breaks Arrow's
    list<string> conversion for source_chunks."""
    cols: dict[str, list] = {c: [] for c in MENTION_COLUMNS}
    (kind, chunk_ids, doc_ids, names, types, targets,
     descriptions, importances, strengths, provs) = cols.values()
    for chunk_id, doc_id, content in chunks:
        entities, relationships = extract_chunk_with_gleaning(
            content or "", chunk_id, llm, max_gleanings=max_gleanings
        )
        for e in entities:
            kind.append("entity")
            chunk_ids.append(chunk_id)
            doc_ids.append(doc_id)
            names.append(e["name"])
            types.append(e["type"])
            targets.append(None)
            descriptions.append(e["description"])
            importances.append(e["importance_score"])
            strengths.append(None)
            provs.append(e["source_chunks"])
        for r in relationships:
            kind.append("relationship")
            chunk_ids.append(chunk_id)
            doc_ids.append(doc_id)
            names.append(r["source_entity"])
            types.append(r["relationship_type"])
            targets.append(r["target_entity"])
            descriptions.append(r["description"])
            importances.append(None)
            strengths.append(r["strength"])
            provs.append(r["source_chunks"])
    cols["importance"] = pd.array(importances, dtype="float64")
    cols["strength"] = pd.array(strengths, dtype="float64")
    return pd.DataFrame(cols)


UNIFIED_EXTRA_FIELDS = [
    StructField("url", StringType(), True),
    StructField("content", StringType(), True),
    StructField("page", IntegerType(), True),
    StructField("start_offset", LongType(), True),
    StructField("end_offset", LongType(), True),
    StructField("chunk_index", IntegerType(), True),
    StructField("content_hash", StringType(), True),
    StructField("heading_path", StringType(), True),
    StructField("section_title", StringType(), True),
]

UNIFIED_SCHEMA = StructType([*MENTION_SCHEMA.fields, *UNIFIED_EXTRA_FIELDS])

# nullable dtypes both halves of a unified batch share before the concat:
# an all-None object column next to a typed one is a pandas FutureWarning,
# and float64-with-NaN does not convert to an int Spark column
_UNIFIED_DTYPES = {
    "importance": "float64", "strength": "float64", "page": "Int32",
    "chunk_index": "Int32", "start_offset": "Int64", "end_offset": "Int64",
}


def extract_mentions_fused(
    pages: DataFrame,
    strategy: str = "html_heading",
    chunk_cfg=None,
    filter_cfg=None,
    llm: Callable[[str, str, int], str] = mock_llm_response,
    max_gleanings: int = 1,
) -> DataFrame:
    """Fused S2+S3+S4+S5: pages → UNIFIED_SCHEMA rows in ONE mapInPandas.

    Per page: ``extract.page_chunker`` (the kernel ``chunk_pages`` runs)
    over the ``extract.chunk_inputs`` columns, the content filter as the
    pure-Python oracle (functions/quality.should_embed_chunk, pinned equal
    to the JVM column expressions by unit tests), then ``mention_frame`` on
    the surviving chunks. Each batch yields the mention rows and one
    kind='chunk' row per surviving TextUnit, so each page crosses the Arrow
    boundary once and is parsed once, whether the consumer reads the
    mentions (``canonicalize`` selects rows by ``kind``), the chunk table,
    or both.
    """
    from ..config import ContentFilterConfig
    from ..functions.quality import should_embed_chunk
    from .extract import CHUNK_SCHEMA, chunk_inputs, page_chunker, page_tuples

    inputs = chunk_inputs(pages, strategy)
    fkw = asdict(filter_cfg or ContentFilterConfig())
    chunk_cols = [f.name for f in CHUNK_SCHEMA.fields]
    out_cols = [f.name for f in UNIFIED_SCHEMA.fields]

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunk = page_chunker(strategy, chunk_cfg)
        for pdf in batches:
            kept = [
                row
                for page in page_tuples(pdf)
                for row in chunk(*page)
                if should_embed_chunk(row["content"], **fkw)[0]
            ]
            mentions = mention_frame(
                ((r["chunk_id"], r["document_id"], r["content"]) for r in kept),
                llm,
                max_gleanings,
            )
            chunks = pd.DataFrame(kept, columns=chunk_cols)
            chunks["kind"] = "chunk"
            # a batch where every chunk was filtered must yield NOTHING: an
            # empty frame cannot carry list<string> for source_chunks
            parts = [p for p in (mentions, chunks) if len(p)]
            if not parts:
                continue
            for p in parts:
                for c in out_cols:
                    if c not in p.columns:
                        p[c] = None
                for c, dt in _UNIFIED_DTYPES.items():
                    p[c] = pd.array(p[c], dtype=dt)
            yield pd.concat([p[out_cols] for p in parts], ignore_index=True)

    return inputs.mapInPandas(_run, UNIFIED_SCHEMA)


def entity_mentions(mentions: DataFrame) -> DataFrame:
    return mentions.where(F.col("kind") == "entity").select(
        "chunk_id",
        "document_id",
        "name",
        "type",
        "description",
        F.col("importance").alias("importance_score"),
        "source_chunks",
    )


def relationship_mentions(mentions: DataFrame) -> DataFrame:
    return mentions.where(F.col("kind") == "relationship").select(
        "chunk_id",
        "document_id",
        F.col("name").alias("source_entity"),
        F.col("target").alias("target_entity"),
        F.col("type").alias("relationship_type"),
        "description",
        "strength",
        "source_chunks",
    )


# ---------------------------------------------------------------------------
# S6: per-document consolidation + canonicalization (C1-C6, X9, X10)
# ---------------------------------------------------------------------------


def _union_sorted_chunks():
    return F.array_sort(F.array_distinct(F.flatten(F.collect_list(F.col("source_chunks")))))


def _desc_set_union():
    """Sorted set-union of newline-split, non-empty descriptions, '\\n'-joined.

    entity_graph.py:163-167 / :261-269 — descriptions accumulate as a sorted,
    deduplicated newline-joined set.
    """
    parts = F.flatten(F.collect_list(F.split(F.col("description"), "\n")))
    cleaned = F.array_sort(
        F.array_distinct(F.filter(F.transform(parts, lambda x: F.trim(x)), lambda x: x != ""))
    )
    return F.array_join(cleaned, "\n")


def consolidate_entities_per_doc(ents: DataFrame) -> DataFrame:
    """X9 global dedup + entity-dict collapse, per document.

    Stage 1 — key (lower(name), type) (entity_extraction.py:494):
    merge provenance, keep longest description, mean importance.
    Stage 2 — key name only (dict at entity_extraction.py:1147): one
    representative per name (type divergence documented above), then the
    EntityGraph merge (C3) which — with one row per (name) — reduces to
    identity, so both stages fuse into the aggregations below.
    """
    stage1 = (
        ents.groupBy("document_id", F.lower(F.col("name")).alias("name_key"), "type")
        .agg(
            F.first("name").alias("name"),
            F.max_by("description", F.length("description")).alias("description"),
            F.avg("importance_score").alias("importance_score"),
            _union_sorted_chunks().alias("source_chunks"),
            F.count(F.lit(1)).alias("mention_count"),
        )
        .drop("name_key")
    )
    # stage 2: one row per (document_id, upper(name)) — reference dict keyed
    # on entity.name.upper().strip() keeps a single representative.
    w_key = F.upper(F.trim(F.col("name")))
    stage2 = (
        stage1.withColumn("name_key", w_key)
        .groupBy("document_id", "name_key")
        .agg(
            F.first("name").alias("name"),
            F.max("type").alias("type"),
            F.max_by("description", F.length("description")).alias("description"),
            F.avg("importance_score").alias("importance_score"),
            _union_sorted_chunks().alias("source_chunks"),
            F.sum("mention_count").alias("mention_count"),
        )
        .drop("name_key")
    )
    return stage2


def consolidate_relationships_per_doc(
    rels: DataFrame,
    entities_doc: DataFrame,
    strength_threshold: float = 0.4,
) -> DataFrame:
    """X10 endpoint check + C2 strength gate + C4 relationship merge.

    Endpoint semi-joins implement entity_extraction.py:1152-1163 (drop
    relationships whose source or target is not an extracted entity — keys
    are upper().strip() which the parser normalization already guarantees).
    Then strength >= 0.4 (document_processor.py:1110-1125) and the directed
    (source, target, rel_type) merge with strength SUM
    (entity_graph.py:255-262).
    """
    # Endpoint existence as ONE join against a per-document name-set table
    # instead of two left-semi joins: Catalyst cannot share the build side
    # between two semi-joins, so the r1-r7 shape physically re-ran the whole
    # entity consolidation chain (2 exchanges + 3 sort aggregates) once per
    # endpoint — the dominant cost of the canonicalization stage (plan audit
    # r8; 1.95 s -> 1.33 s at sf0.1 with byte-identical rels_doc/triples).
    # Set sizes are bounded by entities-per-document (chunks-per-doc bounded),
    # so the collect_set buffer is not a mega-key risk.
    name_sets = entities_doc.groupBy("document_id").agg(
        F.collect_set(F.upper(F.trim(F.col("name")))).alias("__enames")
    )
    keyed = rels.withColumn("skey", F.upper(F.trim(F.col("source_entity")))).withColumn(
        "tkey", F.upper(F.trim(F.col("target_entity")))
    )
    present = (
        keyed.join(name_sets, "document_id")
        .where(
            F.array_contains(F.col("__enames"), F.col("skey"))
            & F.array_contains(F.col("__enames"), F.col("tkey"))
        )
        .drop("__enames")
    )
    gated = present.where(F.col("strength") >= strength_threshold)
    return (
        gated.groupBy(
            "document_id", "source_entity", "target_entity", "relationship_type"
        )
        .agg(
            F.sum("strength").alias("strength"),
            _desc_set_union().alias("description"),
            _union_sorted_chunks().alias("source_chunks"),
            F.count(F.lit(1)).alias("mention_count"),
        )
    )


def canonicalize(
    mentions: DataFrame,
    importance_threshold: float = 0.3,
    strength_threshold: float = 0.4,
) -> tuple[DataFrame, DataFrame]:
    """Full S6: mentions → (entities_doc, relationships_doc).

    Importance gate per document_processor.py:1096-1108 applied after
    consolidation, before graph assembly (a no-op in practice because the
    low-value filter already dropped importance<0.3 — kept for parity).

    entities_doc carries ``is_orphan = False`` on every row and no C5
    orphan rows are unioned in: the X10 endpoint check
    (triples.py:371-376) drops every relationship whose source or target
    key is missing from the document's gated entity set, so the C5
    orphan anti-join of rels_doc against entities_doc is empty by
    construction, and unioning it in would re-run the relationship
    consolidation and an anti-join inside every entities_doc query.
    """
    ents = entity_mentions(mentions)
    rels = relationship_mentions(mentions)

    entities_doc = consolidate_entities_per_doc(ents).where(
        F.col("importance_score") >= importance_threshold
    )
    rels_doc = consolidate_relationships_per_doc(rels, entities_doc, strength_threshold)
    return entities_doc.withColumn("is_orphan", F.lit(False)), rels_doc


# ---------------------------------------------------------------------------
# S8: global node/edge/triple materialization
# ---------------------------------------------------------------------------


# global tables take a bounded provenance union: an uncapped
# collect_list for a mega-entity ("THE" across 10^12 docs) materializes the
# whole provenance in ONE aggregation buffer — the same trap class as the
# round-1 CC collect_set. Per-doc consolidations stay uncapped
# (bounded by chunks-per-document).
DEFAULT_GLOBAL_PROVENANCE_CAP = 1000


def capped_provenance(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """(key_cols..., source_chunks) with the lexicographically-first
    ``cap`` = DEFAULT_GLOBAL_PROVENANCE_CAP distinct chunk ids per key, with
    the per-key buffer split ``buckets`` = 32 ways.

    Slice-after-collect_list materializes a key's full set in one reduce
    buffer; this instead distincts exploded (key, chunk) rows, pre-reduces
    per (key, hash-bucket), then merges the <= buckets*cap survivors per key
    (buffer <= buckets*cap). The per-bucket collect_list still holds every
    distinct chunk id of its bucket (about N/buckets for a key with N) before
    the slice; only its OUTPUT is <= cap. So a mega-entity's peak buffer is
    divided by ``buckets``, not bounded by ``cap``.
    Result is identical to slice(sorted_union, cap) because the global
    lexicographic minimum cap elements survive their buckets."""
    cap, buckets = DEFAULT_GLOBAL_PROVENANCE_CAP, 32
    exploded = (
        df.select(*key_cols, F.explode_outer(F.col("source_chunks")).alias("__chunk"))
        .where(F.col("__chunk").isNotNull())
        .distinct()
    )
    per_bucket = (
        exploded.withColumn("__b", F.pmod(F.xxhash64("__chunk"), F.lit(buckets)))
        .groupBy(*key_cols, "__b")
        .agg(F.slice(F.array_sort(F.collect_list("__chunk")), 1, cap).alias("__part"))
    )
    return per_bucket.groupBy(*key_cols).agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("__part"))), 1, cap
        ).alias("source_chunks")
    )


def build_nodes(entities_doc: DataFrame) -> DataFrame:
    """Global entity table: MERGE-by-name across documents (graph_db MERGE
    (e:Entity {name}) — entity_graph.py:445-458); id = md5(lower(name))[:16]
    (entity_graph.py:400-404). Same-name/different-type collapses here, as in
    the reference's persistence layer. Provenance is union-sorted and capped
    (capped_provenance: the output is <= cap, the per-bucket buffers are
    not)."""
    main = (
        entities_doc.groupBy(F.col("name"))
        .agg(
            F.max("type").alias("type"),
            F.max_by(
                "description", F.struct(F.length("description"), F.col("description"))
            ).alias("description"),
            F.avg("importance_score").alias("importance_score"),
            F.sum("mention_count").alias("mention_count"),
            F.min(F.col("is_orphan").cast("int")).cast("boolean").alias("is_orphan"),
            F.countDistinct("document_id").alias("doc_count"),
        )
        .withColumn("entity_id", F.substring(F.md5(F.lower(F.col("name"))), 1, 16))
    )
    prov = capped_provenance(entities_doc, ["name"])
    return main.join(prov, "name", "left").withColumn(
        "source_chunks",
        F.coalesce(F.col("source_chunks"), F.array().cast("array<string>")),
    )


def build_edges(rels_doc: DataFrame) -> DataFrame:
    """Global RELATED_TO edges keyed on (source, target, type) — directed, as
    entity_graph MERGE (source)-[r:RELATED_TO {type}]->(target)
    (entity_graph.py:461-473). Cross-document strength is summed (the
    reference's SET-last-writer is doc-order-dependent; sum is the
    deterministic, associative choice — triple identity unaffected)."""
    keyed = rels_doc.select(
        F.col("source_entity").alias("subj"),
        F.col("target_entity").alias("obj"),
        F.col("relationship_type").alias("rel_type"),
        "strength",
        "mention_count",
        "document_id",
        "source_chunks",
    )
    main = (
        keyed.groupBy("subj", "obj", "rel_type")
        .agg(
            F.sum("strength").alias("strength"),
            F.sum("mention_count").alias("mention_count"),
            F.countDistinct("document_id").alias("doc_count"),
        )
        .withColumn("edge_type", F.lit("RELATED_TO"))
        .withColumn("source_id", F.substring(F.md5(F.lower(F.col("subj"))), 1, 16))
        .withColumn("target_id", F.substring(F.md5(F.lower(F.col("obj"))), 1, 16))
    )
    prov = capped_provenance(keyed, ["subj", "obj", "rel_type"])
    return main.join(prov, ["subj", "obj", "rel_type"], "left").withColumn(
        "source_chunks",
        F.coalesce(F.col("source_chunks"), F.array().cast("array<string>")),
    )


def build_triples(edges: DataFrame) -> DataFrame:
    """(subj, pred, obj) — the P/R comparison surface (BASELINE.json).

    ``edges`` must be ``build_edges`` output, which is already unique on
    (subj, obj, rel_type): it groups by that key and left-joins provenance
    grouped by the same key. So no ``distinct`` (and no extra job) here."""
    return edges.select(F.col("subj"), F.col("rel_type").alias("pred"), F.col("obj"))
