"""Distributed graph algorithms: connected components (large-star/small-star).

The reference has no distributed graph code (clustering pulls the whole graph
into one process, core/graph_clustering.py:25-75). At 10^12-document scale
entity resolution and community pre-partitioning need a shuffle-based
connected-components — implemented here as the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14) as a DataFrame loop:

  large-star: for every node u, link every *larger* neighbor to u's minimum
              neighborhood label;
  small-star: link every *smaller-or-equal* neighbor (and u) to the minimum.

Each round is two hash aggregations + a join; converges in O(log n) rounds
even on path graphs (``star_components``). Works on any orderable id type
(we use the node ids directly — no global re-indexing shuffle needed), on
both paths: the driver path types its output from the input id column.
Every round's edge list is pinned with ``session.pin`` to truncate lineage
(the convergence check is an action, so an unpinned loop would recompute
the whole upstream plan each round); ``pin``'s docstring says when a pin
survives a lost executor.

``connected_components`` picks the path per call: an edge list of at most
``LOCAL_EDGE_LIMIT`` rows (read when called, so tests can patch it) is
collected once and solved by union-find on the driver; larger ones run
``star_components``. Callers that already know their graph is large call
``star_components`` directly.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructField, StructType

from ..session import pin


def _symmetric(edges: DataFrame) -> DataFrame:
    # explode instead of self-union: one map-side pass, and it avoids a
    # Spark optimizer defect (Union constraint rewrite hitting "key not
    # found" on self-union lineage during localCheckpoint planning)
    both = F.array(
        F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
        F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
    )
    return (
        edges.select(F.explode(both).alias("e"))
        .select("e.u", "e.v")
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u over its SYMMETRIC neighborhood N(u):
    m = min(N(u) ∪ {u}); emit (v, m) for every strictly larger neighbor
    v > u. (Kiveris et al. §3, Algorithm 2.)

    Skew-safe formulation: m is a plain partial-aggregated min (one row per
    (partition, key) map-side, one reduced row per key) joined back onto the
    edge list — a mega-hub with 10^8 neighbors never materializes its
    neighborhood in a single aggregation buffer the way collect_set would.
    """
    sym = _symmetric(edges)
    # renamed join key: `mins` derives from `sym`, and a raw self-join of a
    # DataFrame with its own aggregate trips Catalyst attribute resolution
    mins = (
        sym.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("m"))
        .select(F.col("u").alias("mu"), "m")
    )
    return (
        sym.join(mins, sym["u"] == mins["mu"])
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient every edge (big → small); for each node u over its smaller
    neighborhood: m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u) ∪ {u}.
    (Kiveris et al. §3, Algorithm 3.)

    Same skew-safe min-aggregate + join-back shape as _large_star; after
    orientation every neighbor v < u, so m = min(v) directly.
    """
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = (
        oriented.groupBy("u")
        .agg(F.min("v").alias("m"))
        .select(F.col("u").alias("mu"), "m")
    )
    linked = oriented.join(mins, oriented["u"] == mins["mu"]).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_link = mins.select(F.col("mu").alias("u"), F.col("m").alias("v"))
    return (
        linked.unionByName(self_link)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


# Inputs of at most this many rows are handled on the driver after one
# collect: the gate of connected_components', resolution.entity_mapping's
# and communities.detect_communities' driver paths. 0 disables all three.
LOCAL_EDGE_LIMIT = 100_000


def _checksum(df: DataFrame, a: str, b: str) -> tuple[int, int]:
    """(row count, XOR of row hashes) over columns a, b: an order-free
    fingerprint of a pair set, compared between loop rounds."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(a, b)), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _union_find(pairs) -> dict[str, str]:
    """(u, v) pairs → {node: component}, component = the component's min id.

    Tolerates directed, duplicated and self-loop input. Pure self-loops and
    null endpoints are skipped: they never enter the symmetric-distinct
    loop either (its SQL u != v filter is null-rejecting), and identical
    node coverage matters because callers left-join the mapping and
    coalesce(component, node)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        if u is None or v is None or u == v:
            continue
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by keeping the smaller id as root → component = min id
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    return {n: find(n) for n in list(parent)}


def root_relation(spark, keys: list, roots: dict, field: StructField, names: tuple) -> DataFrame:
    """(key, root) rows for every key, root = ``roots.get(key, key)``, both
    columns typed as the input id ``field`` and named ``names``.

    The driver paths' one way back into Spark: the rows go over as a
    pyarrow Table, so the frame plans as a LocalRelation (also when empty)
    and downstream joins read it in the JVM. A Python list would go through
    a PythonRDD and start a Python-worker stage on every read; an empty
    pandas frame falls back to that same path."""
    arrow_type = to_arrow_type(field.dataType)
    table = pa.table(
        {
            names[0]: pa.array(keys, arrow_type),
            names[1]: pa.array([roots.get(k, k) for k in keys], arrow_type),
        }
    )
    schema = StructType([StructField(c, field.dataType, field.nullable) for c in names])
    return spark.createDataFrame(table, schema=schema)


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
) -> DataFrame:
    """Weighted synchronous label propagation → (node, label).

    The distributed community-detection path for components too large for
    in-executor Leiden (core/graph_clustering.py:158-176 hands whatever it
    gets to igraph in ONE process — the reference's scale ceiling). Each
    round is the same skew-safe shape as the CC star steps:

      score(u, L) = Σ weight(u, v) over neighbors v with label(v) = L
      label(u)   ← argmax_L score(u, L), ties to the smallest label

    — a join (edge × label), a partial-aggregated groupBy(node, label), and
    a per-node top-1 window. No neighbor-set materialization, so a mega-hub
    is bounded by its distinct neighbor-label count after the partial agg.
    Synchronous updates with min-label tie-break are deterministic; the loop
    runs at most 10 rounds and stops early when no label changes (checked
    via count, an action, so each round is pinned to truncate lineage).

    Synchronous LPA famously oscillates on automorphic structures (two
    symmetric nodes swap labels forever — GraphX/GraphFrames LPA document
    the same caveat). The loop detects a period-2 cycle via a label-set
    checksum and resolves it deterministically: each node takes the MIN of
    its two oscillating labels, which maps both sides of a swapping pair to
    the same label (found live by a verification probe on a 2-node edge).
    """
    e = edges.select(
        F.col(src_col).alias("u"),
        F.col(dst_col).alias("v"),
        F.col(weight_col).cast("double").alias("w"),
    )
    both = F.array(
        F.struct(F.col("u").alias("u"), F.col("v").alias("v"), F.col("w").alias("w")),
        F.struct(F.col("v").alias("u"), F.col("u").alias("v"), F.col("w").alias("w")),
    )
    sym = pin(
        e.select(F.explode(both).alias("x"))
        .select("x.u", "x.v", "x.w")
        .where(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.max("w").alias("w"))
    )
    labels = pin(
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    from pyspark.sql.window import Window

    history = [_checksum(labels, "node", "label")]
    for _ in range(10):
        msgs = sym.join(
            labels.select(F.col("node").alias("v"), "label"), "v"
        ).select("u", "label", "w")
        scores = msgs.groupBy("u", "label").agg(F.sum("w").alias("score"))
        w_top = Window.partitionBy("u").orderBy(F.desc("score"), F.asc("label"))
        new_labels = pin(
            scores.withColumn("rn", F.row_number().over(w_top))
            .where(F.col("rn") == 1)
            .select(F.col("u").alias("node"), "label")
        )
        changed = (
            new_labels.join(
                labels.select("node", F.col("label").alias("old")), "node"
            )
            .where(F.col("label") != F.col("old"))
            .count()
        )
        if changed == 0:
            labels = new_labels
            break
        cs = _checksum(new_labels, "node", "label")
        if len(history) >= 2 and cs == history[-2]:
            # period-2 oscillation: per-node min of the two swapping states
            labels = pin(
                new_labels.join(
                    labels.select("node", F.col("label").alias("old")), "node"
                )
                .select("node", F.least("label", "old").alias("label"))
            )
            break
        history.append(cs)
        labels = new_labels
    return labels


def connected_components(edges: DataFrame, src_col: str = "u", dst_col: str = "v") -> DataFrame:
    """Edge list → (node, component) with component = min node id (orderable).

    Input may be directed/undirected/duplicated; isolated nodes (no edges)
    are the caller's concern (left-join the node table afterwards and
    coalesce(component, node)).

    Edge lists of at most ``LOCAL_EDGE_LIMIT`` rows (read at call time; 0
    disables the driver path) are solved with driver-side union-find after
    one collect instead of the distributed loop — the loop's per-iteration
    job latency dwarfs the work for small graphs. The size is the count of
    RAW input rows, as given: directed, possibly duplicated, not
    symmetrized or deduplicated first (so an undirected graph supplied in
    both directions counts each edge twice). The local result is an
    Arrow-built local relation typed as the input id column, so reading it
    starts no Python-worker stage. Larger edge lists run
    ``star_components``: at 10^12-document scale the global match graph far
    exceeds any sane limit, so the large-star/small-star path is the one
    that runs.
    """
    raw = edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    limit = LOCAL_EDGE_LIMIT
    if limit <= 0:
        return star_components(raw)
    # checkpoint the RAW edges (one evaluation of the possibly expensive
    # lineage) and count them in the same pass through an Observation, then
    # collect the materialized blocks. The r1-r7 shape symmetrized +
    # distinct-exchanged BEFORE the checkpoint, paying a full
    # explode+shuffle+dedup even when the graph then fit in one collect;
    # union-find is insensitive to direction/duplicates, so feeding it the
    # raw rows yields the identical (node, component) mapping. (An
    # incremental limit-probe was tried first and rejected: CollectLimit's
    # scale-up rounds cost more scheduling latency than the count they
    # avoid.)
    obs = Observation()
    raw_ckpt = pin(raw.observe(obs, F.count(F.lit(1)).alias("n")))
    if obs.get["n"] > limit:
        return star_components(raw_ckpt)
    comp = _union_find((r["u"], r["v"]) for r in raw_ckpt.collect())
    return root_relation(
        edges.sparkSession, list(comp), comp, raw.schema["u"], ("node", "component")
    )


def star_components(edges: DataFrame, src_col: str = "u", dst_col: str = "v") -> DataFrame:
    """Edge list → (node, component), component = min node id, by the
    distributed large-star/small-star loop (Kiveris et al.), whatever the
    edge count.

    The loop runs at most 20 rounds, and every round is pinned: the loop's
    convergence check is an action, so without truncation each round would
    recompute the whole upstream lineage (and the plan would double per
    round).
    """
    raw = edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    e = pin(_symmetric(raw))
    prev = None
    for _ in range(20):
        e = _large_star(e)
        e = pin(_small_star(e))
        cur = _checksum(e, "u", "v")
        if prev == cur:
            break
        prev = cur

    # after convergence every edge points a node at its component minimum
    comp = e.groupBy("u").agg(F.min("v").alias("component"))
    comp = comp.withColumn(
        "component", F.least(F.col("component"), F.col("u"))
    ).select(F.col("u").alias("node"), "component")
    # roots that only ever appear as targets
    roots = (
        e.select(F.col("v").alias("node"))
        .distinct()
        .join(comp, "node", "left_anti")
        .withColumn("component", F.col("node"))
    )
    return comp.unionByName(roots)
