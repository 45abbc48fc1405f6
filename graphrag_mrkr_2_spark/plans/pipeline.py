"""The KG-construction pipeline: pages → chunks → mentions → nodes/edges/triples.

Composes the operators of SURVEY §7.1 into one declarative plan and is the
only KG builder: `run_kg_pipeline` runs the fused extraction once and pins
it, and the returned `KgResult` plans every downstream table on first
access. Under ``snapshot_root`` each stage is a catalog snapshot, so a
re-run or a resume after a crash reuses every committed stage.

At 10^12 documents the stage boundaries are exactly where the reference
checkpoints per-document progress (document_processor.py stage fields,
SURVEY §3.1) — but partition-grained instead of row-grained.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, ExtractionConfig, PipelineConfig
from ..operators.extract import extract_text, repartition_by_url
from ..operators.triples import (
    MENTION_COLUMNS,
    build_edges,
    build_nodes,
    build_triples,
    canonicalize,
)
from ..session import pin
from ..sources.catalog import SnapshotCatalog

_CHUNK_COLS = [
    "chunk_id", "document_id", "content", "page", "start_offset",
    "end_offset", "chunk_index", "content_hash", "url",
    "heading_path", "section_title",
]


@dataclass
class KgResult:
    """The tables of one KG build.

    ``mentions`` and ``chunks`` are the two halves of the one pinned fused
    pass, the build's only pin site; every other table is planned on first
    access and then reused, so a caller that reads only the mentions and
    chunks plans no canonicalization or graph assembly.

    Without a ``catalog`` the pin is ``session.pin``, whose docstring says
    when it survives a lost executor. With a ``catalog`` (``snapshot_root``,
    the durable mode) the pin is the ``extracted`` snapshot, and each
    downstream table is committed on first access as the snapshot of the
    same name and read back from it. Its fingerprint is
    ``{fingerprint}/{name}-v1``, and ``fingerprint`` names the ``extracted``
    snapshot it derives from, so a new input or config recomputes every
    table while a re-run reuses them all.
    """

    mentions: DataFrame
    chunks: DataFrame
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
    snapshot_root: str | None = None,
    input_fingerprint: str | None = None,
) -> KgResult:
    """pages(url, warc_ts, html, text, lang) → KG tables.

    Chunking, the content filter and extraction run as one mapInPandas
    stage that emits the chunk rows next to the mentions, so page content
    crosses the Arrow boundary once and the HTML is parsed once. That
    output is pinned here, the build's one pin site (KgResult); every
    other table is planned on first access.
    ``num_partitions``: url-hash repartition width before the heavy
    UDF stage (head-domain skew, north_rule). None → keep input layout.
    URL curation (operators/urlops.py: ``with_normalized_urls``,
    ``cap_per_domain``) goes in front of this call, on ``pages``.
    ``materialize_chunks``: ignored, kept for callers written when the
    pinned pass was optional; the chunks are always pinned.
    ``snapshot_root``: the durable mode. The fused pass is pinned as the
    ``extracted`` CATALOG SNAPSHOT (sources/catalog.py — parquet +
    manifest, full lineage) and every downstream table is committed on
    first access. ``input_fingerprint`` becomes REQUIRED: it identifies
    the input pages state, curation included, so a crashed or repeated run
    resumes while new or differently curated data recomputes. It is
    combined with a digest of the extraction-affecting config so a
    strategy/cfg change recomputes instead of resuming a stale snapshot.
    Without ``snapshot_root`` the pin is ``session.pin``; its docstring
    says when it survives a lost executor.
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
    pages = pages.select(*[c for c in wanted if c in pages.columns])
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
        # lineage such as urlops curation windows) keeps the rebalance,
        # because partition COUNT alone cannot prove per-partition balance —
        # and at least core-width parallelism. The probes are plan-only (no
        # jobs: the physical plan's node classes and the scan RDD's
        # partition count); mention/chunk outputs are identical either way
        # (ids are content/url-derived, aggregations keyed).
        sc = pages.sparkSession.sparkContext
        skip = _is_columnar_file_scan(pages) and pages.rdd.getNumPartitions() >= min(
            num_partitions, sc.defaultParallelism
        )
        if not skip:
            pages = repartition_by_url(pages, num_partitions)

    if "text" not in pages.columns:
        pages = extract_text(pages)

    from ..operators.triples import extract_mentions_fused

    def unified_plan() -> DataFrame:
        return extract_mentions_fused(
            pages,
            strategy=strategy,
            chunk_cfg=cfg.chunking,
            filter_cfg=cfg.content_filter,
            max_gleanings=cfg.extraction.max_gleanings,
        )

    catalog = fingerprint = None
    if snapshot_root:
        # extraction-affecting config is part of the stage identity: a
        # strategy/chunking/filter/gleaning change must invalidate the
        # snapshot even under an unchanged input fingerprint
        cfg_digest = hashlib.md5(
            repr(
                (strategy, cfg.chunking, cfg.content_filter, cfg.extraction)
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
        unified = pin(unified_plan())
    return KgResult(
        mentions=unified.where(F.col("kind") != "chunk").select(*MENTION_COLUMNS),
        chunks=unified.where(F.col("kind") == "chunk").select(*_CHUNK_COLS),
        extraction=cfg.extraction,
        catalog=catalog,
        fingerprint=fingerprint,
    )
