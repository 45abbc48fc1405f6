"""The benchmark's KG build, composed from the program's public functions.

One build runs, in order (layer names follow the repo modules):

    triples.extract_fused      plans/pipeline.run_kg_pipeline(materialize_chunks=True)
    triples.canonicalize       operators/triples.canonicalize
    triples.build              build_nodes, build_edges, build_triples
    resolution.entity_mapping  operators/resolution.entity_mapping (incl. graphalgo CC)
    resolution.apply_mapping   apply_mapping on edge endpoints
    similarity.edges           with_embeddings + chunk_similarity_edges_grams
    communities.detect         normalize_edge_weights -> project_edges -> detect_communities
    catalog.commit/read        sources/catalog.SnapshotCatalog.write / read (after the
                               traced build only, see ``commit_and_read``)

Page builds run extraction through similarity; mention builds start at
canonicalize from mention rows (no chunks, so no extraction or similarity)
and go on through resolution and communities. On pages the mock LLM's
25-entity vocabulary leaves resolution and communities a 25-node graph, i.e.
pure per-job latency (about 10 s of a 30 s cold build); they are left to the
mention builds so that a run fits the benchmark's time budget.

Sinks. Local builds observe each output table's content digest (``checks``
explains the digest) in the pass that materializes it, so checking a build
costs no extra job. A table no later layer reads (chunks, mentions, triples,
similarity edges) goes to Spark's ``noop`` sink. A table that a later layer
or the checker reads (edges; in mention builds also nodes, entity map,
resolved edges and communities) is pinned instead with
``localCheckpoint(eager=True)``, the materialization run_kg_pipeline itself
uses for extraction, so it is computed once.

Tracing. A traced build makes the same calls with the same arguments. It
also materializes every layer's output at the layer boundary (canonicalize's
two tables are the only ones an untraced build leaves lazy), and it records
one span per layer call, with Spark's job group set to the layer name so the
event log can attribute stages to layers.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from checks import NULL, SEP

ER_THRESHOLD = 0.7  # entity_mapping name-Jaccard gate, as q_kg_entity_resolution
ER_ARGS = {"n": 3, "num_hashes": 32, "bands": 8}  # entity_mapping defaults


def digest_exprs(df: DataFrame) -> list:
    """Spark twin of ``checks.set_digest`` over every column of ``df``.

    Doubles are rounded to 9 decimals first: a sum of doubles (edge
    strength) may differ in its last bits when a plan change reorders the
    addition, and that is not a content change.
    """

    def text(f):
        c = F.col(f.name)
        if isinstance(f.dataType, (DoubleType, FloatType)):
            c = F.round(c, 9)
        return F.coalesce(c.cast("string"), F.lit(NULL))

    key = F.concat_ws(SEP, *[text(f) for f in df.schema.fields])
    h = F.conv(F.substring(F.sha2(key, 256), 1, 15), 16, 10).cast("decimal(38,0)")
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)")).alias("s"),
    ]


def table_digest(df: DataFrame) -> tuple[int, int]:
    row = df.agg(*digest_exprs(df)).collect()[0]
    return int(row["n"]), int(row["s"])


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    layer: str
    start: float
    end: float = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around layer calls; a no-op apart from timing when untraced.

    Spans do not nest. While a span is open, Spark's job group is the
    layer name, so the event log attributes each Spark job to one layer.
    """

    def __init__(self, spark, traced: bool) -> None:
        self.sc = spark.sparkContext
        self.traced = traced
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str):
        sp = Span(layer, time.perf_counter())
        if self.traced:
            self.sc.setJobGroup(layer, layer)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    def boundary(self, df: DataFrame) -> DataFrame:
        """Materialize a layer's output at its boundary (traced builds only)."""
        return df.localCheckpoint(eager=True) if self.traced else df


# ---------------------------------------------------------------------------
# the build
# ---------------------------------------------------------------------------


@dataclass
class BuildInputs:
    kind: str  # "pages" | "mentions"
    path: str
    partitions: int
    fingerprint: str = ""


@dataclass
class BuildOutput:
    """What a build leaves for its checks and for the traced run's counts."""

    frames: dict[str, DataFrame] = field(default_factory=dict)  # as later readers see them
    observed: dict[str, Observation] = field(default_factory=dict)
    boundary: dict[str, DataFrame] = field(default_factory=dict)  # traced only
    layer_tables: dict[str, list[str]] = field(default_factory=dict)

    def digests(self) -> dict[str, tuple[int, int]]:
        """Digests observed while the build materialized its tables.
        Communities are left out: their membership is checked by invariants
        (checks.community_errors)."""
        out = {}
        for name, obs in self.observed.items():
            if name != "communities":
                got = obs.get
                out[name] = (int(got["n"]), int(got["s"]))
        return out


class KgBuild:
    def __init__(self, spark, inputs: BuildInputs, tracer: Tracer):
        self.spark = spark
        self.inputs = inputs
        self.t = tracer
        self.out = BuildOutput()
        self._layer = ""

    # -- sinks --------------------------------------------------------------

    def _record(self, name: str, df: DataFrame) -> None:
        self.out.frames[name] = df
        self.out.layer_tables.setdefault(self._layer, []).append(name)

    def _noop(self, name: str, df: DataFrame) -> None:
        obs = Observation()
        df.observe(obs, *digest_exprs(df)).write.format("noop").mode("overwrite").save()
        self.out.observed[name] = obs
        self._record(name, df)

    def output(self, name: str, df: DataFrame, consumed: bool) -> DataFrame:
        """Sink one output table; return what later layers should read."""
        if not (consumed or self.t.traced):
            self._noop(name, df)
            return df
        obs = Observation()  # the pin and the digest share one pass
        df = df.observe(obs, *digest_exprs(df)).localCheckpoint(eager=True)
        self.out.observed[name] = obs
        self._record(name, df)
        return df

    @contextmanager
    def layer(self, name: str):
        self._layer = name
        with self.t.span(name):
            yield

    # -- layers -------------------------------------------------------------

    def run(self) -> BuildOutput:
        from graphrag_mrkr_2_spark.config import DEFAULT_CONFIG
        from graphrag_mrkr_2_spark.operators.communities import (
            detect_communities,
            normalize_edge_weights,
            project_edges,
        )
        from graphrag_mrkr_2_spark.operators.resolution import apply_mapping, entity_mapping
        from graphrag_mrkr_2_spark.operators.similarity import (
            chunk_similarity_edges_grams,
            with_embeddings,
        )
        from graphrag_mrkr_2_spark.operators.triples import (
            build_edges,
            build_nodes,
            build_triples,
            canonicalize,
        )
        from graphrag_mrkr_2_spark.plans.pipeline import run_kg_pipeline

        ex = DEFAULT_CONFIG.extraction
        chunks = None
        if self.inputs.kind == "pages":
            with self.layer("triples.extract_fused"):
                pages = self.spark.read.parquet(self.inputs.path)
                res = run_kg_pipeline(
                    pages, num_partitions=self.inputs.partitions, materialize_chunks=True
                )
                chunks, mentions = res.chunks, res.mentions
                self._noop("chunks", chunks)
                self._noop("mentions", mentions)
        else:
            mentions = self.spark.read.parquet(self.inputs.path)

        with self.layer("triples.canonicalize"):
            ents, rels = canonicalize(
                mentions,
                importance_threshold=ex.importance_score_threshold,
                strength_threshold=ex.strength_threshold,
            )
            ents, rels = self.t.boundary(ents), self.t.boundary(rels)
            if self.t.traced:
                self.out.boundary["entities_doc"] = ents
                self.out.boundary["rels_doc"] = rels

        graph = chunks is None  # see the module docstring: pages builds stop at similarity
        with self.layer("triples.build"):
            nodes = self.output("nodes", build_nodes(ents), consumed=graph)
            edges = self.output("edges", build_edges(rels), consumed=True)
            self.output("triples", build_triples(edges), consumed=False)

        if not graph:
            with self.layer("similarity.edges"):
                self.output(
                    "similarity_edges",
                    chunk_similarity_edges_grams(with_embeddings(chunks)),
                    consumed=False,
                )
            return self.out

        with self.layer("resolution.entity_mapping"):
            mapping = self.output(
                "entity_map", entity_mapping(nodes, threshold=ER_THRESHOLD, **ER_ARGS), consumed=True
            )

        with self.layer("resolution.apply_mapping"):
            resolved = self.output(
                "resolved_edges",
                apply_mapping(edges, mapping, ["source_id", "target_id"]),
                consumed=True,
            )

        with self.layer("communities.detect"):
            self.output(
                "communities",
                detect_communities(project_edges(normalize_edge_weights(community_graph(resolved)))),
                consumed=True,
            )
        return self.out


def commit_and_read(spark, out: BuildOutput, tracer: Tracer, root: str, fingerprint: str) -> int:
    """Commit every output table of a finished build through the snapshot
    catalog and read each back, materialized, under the catalog layers'
    spans; return the number of commits. This runs after the traced build,
    outside its wall time, so the catalog layers are measured on the tables
    a build would commit without adding to the build they follow."""
    from graphrag_mrkr_2_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, root)
    for name, df in out.frames.items():
        with tracer.span("catalog.commit"):
            cat.write(name, df, input_fingerprint=fingerprint)
        with tracer.span("catalog.read"):
            cat.read(name).localCheckpoint(eager=True)
    return len(out.frames)


def community_graph(resolved_edges: DataFrame) -> DataFrame:
    """Resolved RELATED_TO edges in detect_communities' input shape."""
    return resolved_edges.select(
        F.col("source_id").alias("src"),
        F.col("target_id").alias("dst"),
        F.col("edge_type"),
        F.col("strength").cast("double").alias("strength"),
    )


def projected_edges(resolved_edges: DataFrame) -> list[tuple[str, str]]:
    from graphrag_mrkr_2_spark.operators.communities import (
        normalize_edge_weights,
        project_edges,
    )

    rows = project_edges(normalize_edge_weights(community_graph(resolved_edges))).collect()
    return [(r["src"], r["dst"]) for r in rows]


def membership_rows(df: DataFrame) -> list[tuple[str, int]]:
    return [(r["node"], int(r["community_id"])) for r in df.select("node", "community_id").collect()]


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
