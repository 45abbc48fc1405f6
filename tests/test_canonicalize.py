"""F4 canonicalization/dedup cases (mirrors reference test_entity_graph.py)
against BOTH the sequential port and the Spark aggregations."""

import hashlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from graphrag_mrkr_2_spark.functions.reference_pipeline import SequentialEntityGraph

ENT_SCHEMA = StructType(
    [
        StructField("chunk_id", StringType()),
        StructField("document_id", StringType()),
        StructField("name", StringType()),
        StructField("type", StringType()),
        StructField("description", StringType()),
        StructField("importance_score", DoubleType()),
        StructField("source_chunks", ArrayType(StringType())),
    ]
)
REL_SCHEMA = StructType(
    [
        StructField("chunk_id", StringType()),
        StructField("document_id", StringType()),
        StructField("source_entity", StringType()),
        StructField("target_entity", StringType()),
        StructField("relationship_type", StringType()),
        StructField("description", StringType()),
        StructField("strength", DoubleType()),
        StructField("source_chunks", ArrayType(StringType())),
    ]
)


# --- sequential graph semantics (entity_graph.py) ---------------------------


def test_case_insensitive_merge():
    g = SequentialEntityGraph()
    g.add_entity("Admin Panel", "COMPONENT", "d1", 0.8, ["c1"])
    g.add_entity("ADMIN PANEL", "Component", "d2", 0.6, ["c2"])
    assert len(g.nodes) == 1
    node = next(iter(g.nodes.values()))
    assert node["mention_count"] == 2
    assert node["source_chunks"] == ["c1", "c2"]


def test_description_sorted_set_union():
    g = SequentialEntityGraph()
    g.add_entity("X Entity", "SERVICE", "zebra desc", 0.8, [])
    g.add_entity("x entity", "service", "alpha desc", 0.6, [])
    g.add_entity("X ENTITY", "SERVICE", "alpha desc", 0.5, [])  # dup ignored
    node = next(iter(g.nodes.values()))
    assert node["description"] == "alpha desc\nzebra desc"


def test_importance_running_mean():
    g = SequentialEntityGraph()
    for s in (0.8, 0.6, 0.4):
        g.add_entity("M Entity", "SERVICE", "", s, [])
    node = next(iter(g.nodes.values()))
    assert node["importance_score"] == pytest.approx(0.6)


def test_strength_sum_and_edge_merge():
    g = SequentialEntityGraph()
    g.add_entity("A Src", "SERVICE", "", 0.8, [])
    g.add_entity("B Tgt", "SERVICE", "", 0.8, [])
    g.add_relationship("A Src", "B Tgt", "USES", "d1", 0.5, ["c1"])
    g.add_relationship("A Src", "B Tgt", "USES", "d2", 0.7, ["c2"])
    g.add_relationship("A Src", "B Tgt", "CALLS", "d3", 0.4, ["c3"])
    assert len(g.edges) == 2  # keyed by (src, tgt, type)
    uses = [e for (s, t, ty), e in g.edges.items() if ty == "USES"][0]
    assert uses["strength"] == pytest.approx(1.2)  # sums past 1.0
    assert uses["mention_count"] == 2
    assert uses["source_chunks"] == ["c1", "c2"]


def test_orphan_by_name_any_type():
    g = SequentialEntityGraph()
    g.add_entity("Known X", "SERVICE", "", 0.8, [])
    g.add_relationship("Known X", "Unknown Y", "USES", "", 0.5, [])
    # Known X resolved by name despite empty type; Unknown Y is an orphan
    orphans = [n for n in g.nodes.values() if n["is_orphan"]]
    assert len(orphans) == 1 and orphans[0]["name"] == "Unknown Y"
    assert orphans[0]["importance_score"] == 0.0 and orphans[0]["mention_count"] == 0
    triples = g.triples()
    assert triples == {("Known X", "USES", "Unknown Y")}


def test_directed_edges_not_merged_across_directions():
    g = SequentialEntityGraph()
    g.add_entity("A Src", "SERVICE", "", 0.8, [])
    g.add_entity("B Tgt", "SERVICE", "", 0.8, [])
    g.add_relationship("A Src", "B Tgt", "USES", "", 0.5, [])
    g.add_relationship("B Tgt", "A Src", "USES", "", 0.5, [])
    assert len(g.edges) == 2


# --- Spark aggregation equivalents ------------------------------------------


@pytest.mark.spark
def test_spark_consolidation_matches_graph_semantics(spark):
    from graphrag_mrkr_2_spark.operators.triples import (
        build_edges,
        build_nodes,
        build_triples,
        consolidate_entities_per_doc,
        consolidate_relationships_per_doc,
    )

    ents = spark.createDataFrame(
        [
            ("c1", "d1", "ADMIN PANEL", "COMPONENT", "zebra desc", 0.8, ["c1"]),
            ("c2", "d1", "ADMIN PANEL", "COMPONENT", "alpha desc", 0.6, ["c2"]),
            ("c1", "d1", "USER DATABASE", "SERVICE", "store", 0.7, ["c1"]),
        ],
        ENT_SCHEMA,
    )
    rels = spark.createDataFrame(
        [
            ("c1", "d1", "ADMIN PANEL", "USER DATABASE", "DEPENDS_ON", "q1", 0.5, ["c1"]),
            ("c2", "d1", "ADMIN PANEL", "USER DATABASE", "DEPENDS_ON", "q2", 0.7, ["c2"]),
            ("c2", "d1", "ADMIN PANEL", "MISSING TARGET", "USES", "x", 0.9, ["c2"]),
            ("c2", "d1", "ADMIN PANEL", "USER DATABASE", "WEAK", "w", 0.3, ["c2"]),
        ],
        REL_SCHEMA,
    )
    e_doc = consolidate_entities_per_doc(ents)
    rows = {r["name"]: r for r in e_doc.collect()}
    ap = rows["ADMIN PANEL"]
    assert ap["importance_score"] == pytest.approx(0.7)
    assert ap["mention_count"] == 2
    assert sorted(ap["source_chunks"]) == ["c1", "c2"]

    r_doc = consolidate_relationships_per_doc(rels, e_doc)
    rrows = r_doc.collect()
    # MISSING TARGET dropped (endpoint check), WEAK dropped (strength<0.4)
    assert len(rrows) == 1
    r0 = rrows[0]
    assert r0["strength"] == pytest.approx(1.2)
    assert r0["mention_count"] == 2
    assert r0["description"] == "q1\nq2"

    nodes = build_nodes(e_doc.withColumn("is_orphan", F.lit(False)))
    n = {r["name"]: r for r in nodes.collect()}
    assert n["ADMIN PANEL"]["entity_id"] == __import__("hashlib").md5(
        b"admin panel"
    ).hexdigest()[:16]

    triples = build_triples(build_edges(r_doc))
    assert {(t["subj"], t["pred"], t["obj"]) for t in triples.collect()} == {
        ("ADMIN PANEL", "DEPENDS_ON", "USER DATABASE")
    }


@pytest.mark.spark
def test_spark_orphans(spark):
    from helpers import orphan_entities_per_doc

    e_doc = spark.createDataFrame(
        [("d1", "KNOWN X", "SERVICE", "", 0.8, ["c1"], 1)],
        "document_id string, name string, type string, description string, importance_score double, source_chunks array<string>, mention_count long",
    )
    r_doc = spark.createDataFrame(
        [("d1", "KNOWN X", "UNKNOWN Y", "USES", 0.5, ["c1"], 1, "")],
        "document_id string, source_entity string, target_entity string, relationship_type string, strength double, source_chunks array<string>, mention_count long, description string",
    )
    orphans = orphan_entities_per_doc(r_doc, e_doc).collect()
    assert len(orphans) == 1
    assert orphans[0]["name"] == "UNKNOWN Y" and orphans[0]["is_orphan"]


def _old_canonicalize(mentions):
    """canonicalize as it was while it unioned the C5 orphans into
    entities_doc; the invariant test pins the current one to it."""
    from graphrag_mrkr_2_spark.operators.triples import (
        consolidate_entities_per_doc,
        consolidate_relationships_per_doc,
        entity_mentions,
        relationship_mentions,
    )
    from helpers import orphan_entities_per_doc

    entities_doc = consolidate_entities_per_doc(entity_mentions(mentions)).where(
        F.col("importance_score") >= 0.3
    )
    rels_doc = consolidate_relationships_per_doc(
        relationship_mentions(mentions), entities_doc, 0.4
    )
    orphans = orphan_entities_per_doc(rels_doc, entities_doc)
    entities_doc = entities_doc.withColumn("is_orphan", F.lit(False)).unionByName(
        orphans
    )
    return entities_doc, rels_doc


def _row_set(df):
    """Order-independent multiset of rows (arrays as tuples)."""
    from collections import Counter

    return Counter(
        tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()
    )


def _variant_mentions(spark):
    """Mentions with case/whitespace/suffix name variants, a relationship
    to a missing endpoint, a sub-0.3 entity (and a relationship into it)
    and a sub-0.4 relationship, across two documents."""
    from graphrag_mrkr_2_spark.operators.triples import MENTION_SCHEMA

    def ent(doc, chunk, name, importance, ty="SERVICE", desc="d"):
        return ("entity", chunk, doc, name, ty, None, desc, importance, None, [chunk])

    def rel(doc, chunk, src, tgt, strength, ty="USES", desc="r"):
        return ("relationship", chunk, doc, src, ty, tgt, desc, None, strength, [chunk])

    rows = [
        ent("d1", "c1", "Admin Panel", 0.8, "COMPONENT", "zebra"),
        ent("d1", "c2", "ADMIN PANEL", 0.6, "COMPONENT", "alpha"),
        ent("d1", "c2", "admin panel ", 0.5, "SERVICE"),
        ent("d1", "c1", "ACME CORP", 0.7),
        ent("d1", "c2", "ACME CORPORATION", 0.9),
        ent("d1", "c3", "FAINT THING", 0.2),
        rel("d1", "c1", "ADMIN PANEL", "ACME CORP", 0.5),
        rel("d1", "c2", "admin panel ", "acme corp", 0.7),
        rel("d1", "c2", "ADMIN PANEL", "ACME CORPORATION", 0.3, "WEAK"),
        rel("d1", "c2", "ACME CORPORATION", "GHOST NODE", 0.9),
        rel("d1", "c3", "ACME CORP", "FAINT THING", 0.8),
        ent("d2", "c9", "ACME CORP", 0.4),
        ent("d2", "c9", "Admin Panel", 0.9),
        rel("d2", "c9", "Admin Panel", "ACME CORP", 0.6, "CALLS"),
        rel("d2", "c9", "ACME CORP", "ADMIN PANEL", 0.45),
        rel("d2", "c9", "ACME CORP", "ACME CORPORATION", 0.9),
    ]
    return spark.createDataFrame(rows, MENTION_SCHEMA)


@pytest.mark.spark
@pytest.mark.parametrize("source", ["pages40", "adversarial", "variants"])
def test_canonicalize_leaves_no_orphans(spark, source):
    """C5 invariant: after the X10 endpoint check no relationship endpoint
    lacks an entity, so canonicalize unions no orphans and the global
    tables equal those of the orphan-unioned expression."""
    from graphrag_mrkr_2_spark.operators.triples import (
        build_edges,
        build_nodes,
        build_triples,
        canonicalize,
        extract_mentions_fused,
    )
    from helpers import generate_adversarial_pages, orphan_entities_per_doc
    from graphrag_mrkr_2_spark.sources.pages import generate_pages

    if source == "variants":
        mentions = _variant_mentions(spark)
    else:
        pages = (
            generate_pages(spark, 40)
            if source == "pages40"
            else generate_adversarial_pages(spark, 16)
        )
        # pinned once so both expressions read the same mention rows
        mentions = extract_mentions_fused(pages).localCheckpoint(eager=True)

    e_doc, r_doc = canonicalize(mentions)
    old_e_doc, old_r_doc = _old_canonicalize(mentions)
    assert orphan_entities_per_doc(r_doc, e_doc).count() == 0
    assert r_doc.count() > 0

    nodes = build_nodes(e_doc)
    assert _row_set(nodes) == _row_set(build_nodes(old_e_doc))
    edges = build_edges(r_doc)
    old_edges = build_edges(old_r_doc)
    assert _row_set(edges) == _row_set(old_edges)
    assert _row_set(build_triples(edges)) == _row_set(build_triples(old_edges))
    assert not any(r["is_orphan"] for r in nodes.select("is_orphan").collect())

    if source == "variants":
        names = {r["name"] for r in nodes.collect()}
        assert "GHOST NODE" not in names and "FAINT THING" not in names
        triples = {tuple(r) for r in build_triples(edges).collect()}
        assert ("ACME CORPORATION", "USES", "GHOST NODE") not in triples
        assert ("ADMIN PANEL", "WEAK", "ACME CORPORATION") not in triples
        assert ("ACME CORP", "USES", "FAINT THING") not in triples


@pytest.mark.spark
def test_build_nodes_independent_of_row_order(spark):
    """A node's description is the longest one, and among equal-length
    descriptions the greatest, whatever order the rows arrive in: the same
    entities_doc rows, in one partition in forward, reversed and shuffled
    order, give identical nodes. The last documents carry two equal-length
    descriptions per name, so the plan's sort on (name, document_id)
    cannot hide an order-dependent tie-break."""
    import random

    from graphrag_mrkr_2_spark.operators.triples import build_nodes

    schema = (
        "document_id string, name string, type string, description string, "
        "importance_score double, source_chunks array<string>, "
        "mention_count bigint, is_orphan boolean"
    )
    descs = [("desc qq", "short"), ("desc mm", "desc aa"), ("desc zz", "desc bb")]
    rows = [
        (f"d{i}", name, "CONCEPT", desc, 0.5, [f"d{i}_c0"], 1, False)
        for i, pair in enumerate(descs)
        for desc in pair
        for name in ("ALPHA", "BETA")
    ]

    def nodes(rs):
        df = spark.createDataFrame(rs, schema).coalesce(1)
        return sorted(
            (r["name"], r["description"], r["doc_count"], tuple(r["source_chunks"]))
            for r in build_nodes(df).collect()
        )

    forward = nodes(rows)
    shuffled = rows[:]
    random.Random(7).shuffle(shuffled)
    assert nodes(rows[::-1]) == forward
    assert nodes(shuffled) == forward
    assert [d for _, d, _, _ in forward] == ["desc zz", "desc zz"]


UNICODE_NAMES = ["İstanbul Port", "Iñigo Labs", "ΟΔΟΣ", "Straße AG", "ǅemal", "Admin Panel"]


def _case_variants(name):
    return [name, name.upper(), name.lower(), name.title(), f"{name} "]


@pytest.mark.spark
def test_unicode_keys_match_python_case_mapping(spark):
    """entity_id and the per-document merge key agree with Python's
    locale-free case mapping on non-ASCII names (dotted capital I, ñ, final
    sigma, ß → SS, the titlecase digraph ǅ): every variant's id is
    normalize.entity_id, and one document's variants merge as
    ``name.strip().upper()`` groups them. The session maps case on the JVM
    path, not ICU.

    Expected divergence: the JVM path uses Java 17's Unicode 13 tables, so
    "Ⱟ" (U+2C2F) and "Ꟁ" (U+A7C0), lowercased only since Unicode 14, keep
    their case and their Spark id is md5 of the unlowered name, not
    normalize.entity_id. A JDK upgrade or ICU turned back on fails here.

    Stage 1 of the merge keys on lower(name) and stage 2 on the
    upper(trim(name)) of one representative, chosen by row order (ROADMAP
    D6). Where one lower key spans two upper keys ("İ" U+0130 lowers to
    "i" + U+0307, which uppers to "I" + U+0307), which upper group it joins
    depends on that choice, so those groups are checked by their total
    mention count only."""
    from collections import Counter, defaultdict

    from graphrag_mrkr_2_spark.functions.normalize import entity_id
    from graphrag_mrkr_2_spark.operators.triples import (
        MENTION_SCHEMA,
        build_nodes,
        canonicalize,
    )

    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"

    variants = sorted({v for n in UNICODE_NAMES for v in _case_variants(n)})

    def nodes(doc_of):
        rows = [
            ("entity", f"c{i}", doc_of(i), v, "CONCEPT", None, "d", 0.8, None, [f"c{i}"])
            for i, v in enumerate(variants)
        ]
        entities_doc, _ = canonicalize(spark.createDataFrame(rows, MENTION_SCHEMA))
        return build_nodes(entities_doc).collect()

    # every variant in its own document: one node per distinct name
    per_name = nodes(lambda i: f"d{i}")
    assert sorted(r["name"] for r in per_name) == variants
    for r in per_name:
        assert r["entity_id"] == entity_id(r["name"]), r["name"]

    # all variants in one document: one node per Python upper(strip) group
    upper_keys_of = defaultdict(set)
    for v in variants:
        upper_keys_of[v.lower()].add(v.strip().upper())
    ambiguous = set().union(*(ks for ks in upper_keys_of.values() if len(ks) > 1))
    assert ambiguous == {"İSTANBUL PORT", "İSTANBUL PORT".lower().upper()}

    def group(name):
        k = name.strip().upper()
        return "ambiguous" if k in ambiguous else k

    merged = nodes(lambda i: "d0")
    mentions = Counter()
    for r in merged:
        mentions[group(r["name"])] += r["mention_count"]
    assert mentions == Counter(group(v) for v in variants)
    exact = [group(r["name"]) for r in merged if group(r["name"]) != "ambiguous"]
    assert len(exact) == len(set(exact))  # one node per upper(strip) group

    # letters lowercased only since Unicode 14 stay as they are on Java 17
    unlowered = ["Ⱟ", "Ꟁ"]
    rows = [
        ("entity", f"c{i}", f"d{i}", v, "CONCEPT", None, "d", 0.8, None, [f"c{i}"])
        for i, v in enumerate(unlowered)
    ]
    entities_doc, _ = canonicalize(spark.createDataFrame(rows, MENTION_SCHEMA))
    ids = {r["name"]: r["entity_id"] for r in build_nodes(entities_doc).collect()}
    assert sorted(ids) == sorted(unlowered)
    for name, eid in ids.items():
        assert name.lower() != name  # Python (Unicode 14+) lowers it
        assert eid == hashlib.md5(name.encode()).hexdigest()[:16], name
        assert eid != entity_id(name), name


@pytest.mark.spark
def test_global_provenance_cap(spark):
    """An entity and a relationship mentioned in 1500 chunks over 48
    documents keep the lexicographically first DEFAULT_GLOBAL_PROVENANCE_CAP
    chunk ids, sorted, in nodes and edges; mention_count and doc_count still
    count every mention."""
    from graphrag_mrkr_2_spark.operators.triples import (
        DEFAULT_GLOBAL_PROVENANCE_CAP,
        MENTION_SCHEMA,
        build_edges,
        build_nodes,
        canonicalize,
    )

    assert DEFAULT_GLOBAL_PROVENANCE_CAP == 1000
    n, n_docs = 1500, 48
    # hex ids: their sorted order is not their generation order
    chunks = [hashlib.md5(str(i).encode()).hexdigest() for i in range(n)]
    rows = []
    for i, c in enumerate(chunks):
        doc = f"doc{i % n_docs}"
        for name in ("Mega Corp", "Small Co"):
            rows.append(("entity", c, doc, name, "ORGANIZATION", None, "a firm", 0.9, None, [c]))
        rows.append(("relationship", c, doc, "Mega Corp", "OWNS", "Small Co", "owns", None, 0.9, [c]))
    entities_doc, rels_doc = canonicalize(spark.createDataFrame(rows, MENTION_SCHEMA))
    first = sorted(chunks)[:DEFAULT_GLOBAL_PROVENANCE_CAP]

    (node,) = build_nodes(entities_doc).where(F.col("name") == "Mega Corp").collect()
    (edge,) = build_edges(rels_doc).collect()
    for row in (node, edge):
        assert row["source_chunks"] == first
        assert row["mention_count"] == n
        assert row["doc_count"] == n_docs
