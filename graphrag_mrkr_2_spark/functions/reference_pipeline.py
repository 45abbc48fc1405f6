"""Sequential reference-semantics pipeline (the P/R oracle).

Runs the *exact* imperative flow of the reference on mock-LLM responses, all
in one process with dicts and lists — including the order-dependent bits —
mirroring:

  extract_from_chunks_with_gleaning   entity_extraction.py:1046-1163
  (consolidation: global dedup, dict-by-name, endpoint check,
   group-by-sorted-pair)
  _persist_with_entity_graph          document_processor.py:1069-1180
  (importance/strength thresholds, EntityGraph build)
  EntityGraph.add_entity/add_relationship  entity_graph.py:132-341
  to_neo4j_batch_queries              entity_graph.py:383-480
  (node name MERGE, directed (source,target,type) edge identity)

The Spark pipeline in operators/triples.py must produce the same
(subj, pred, obj) set as this function at P/R >= 0.95 (BASELINE.json); tests
assert equality (P=R=1.0) on the deterministic fixtures.
"""

from __future__ import annotations

from collections.abc import Callable

from .extraction import deduplicate_entities, extract_chunk_with_gleaning
from .mock_llm import mock_llm_response
from .normalize import canonical_key


def consolidate(
    per_chunk_results: list[tuple[list[dict], list[dict]]],
) -> tuple[dict[str, dict], dict[tuple[str, str], list[dict]]]:
    """entity_extraction.py:1128-1163 — global dedup + pair grouping."""
    all_entities_list: list[dict] = []
    all_relationships: list[dict] = []
    for entities, relationships in per_chunk_results:
        all_entities_list.extend(entities)
        all_relationships.extend(relationships)

    deduplicated = deduplicate_entities(all_entities_list)
    all_entities = {e["name"].upper().strip(): e for e in deduplicated}

    relationships_by_pair: dict[tuple[str, str], list[dict]] = {}
    for rel in all_relationships:
        source_key = rel["source_entity"].upper().strip()
        target_key = rel["target_entity"].upper().strip()
        if source_key in all_entities and target_key in all_entities:
            pair_key = tuple(sorted([source_key, target_key]))
            relationships_by_pair.setdefault(pair_key, []).append(rel)
    return all_entities, relationships_by_pair


class SequentialEntityGraph:
    """Dict-based port of core/entity_graph.py:39-341 (EntityGraph)."""

    def __init__(self) -> None:
        self.nodes: dict[str, dict] = {}  # node_id -> attrs
        self.edges: dict[tuple[str, str, str], dict] = {}
        self._canonical_map: dict[tuple[str, str], str] = {}

    def add_entity(self, name, type_, description, importance_score, source_chunks):
        canonical = canonical_key(name, type_)
        if canonical in self._canonical_map:
            node = self.nodes[self._canonical_map[canonical]]
            existing = set(node["description"].split("\n")) if node["description"] else set()
            if description and description.strip():
                existing.add(description.strip())
            node["description"] = "\n".join(sorted(filter(None, existing)))
            c, s = node["mention_count"], node["importance_score"]
            node["importance_score"] = (s * c + importance_score) / (c + 1)
            sources = set(node["source_chunks"])
            sources.update(source_chunks or [])
            node["source_chunks"] = sorted(sources)
            node["mention_count"] += 1
        else:
            node_id = (
                f"{name.strip()}_{type_.strip()}" if (type_ and type_.strip()) else name.strip()
            )
            self.nodes[node_id] = {
                "name": name.strip(),
                "type": type_.strip() if type_ else "",
                "description": description or "",
                "importance_score": importance_score,
                "source_chunks": list(source_chunks or []),
                "mention_count": 1,
                "is_orphan": False,
            }
            self._canonical_map[canonical] = node_id

    def _ensure_entity_exists(self, name, type_):
        """entity_graph.py:292-341 — orphan creation w/ name-any-type lookup."""
        canonical = canonical_key(name, type_)
        if canonical in self._canonical_map:
            return self._canonical_map[canonical]
        if not type_ or not type_.strip():
            normalized_name = canonical[0]
            for (cname, _ctype), node_id in self._canonical_map.items():
                if cname == normalized_name:
                    return node_id
        node_id = (
            f"{name.strip()}_{type_.strip()}" if (type_ and type_.strip()) else name.strip()
        )
        self.nodes[node_id] = {
            "name": name.strip(),
            "type": type_.strip() if type_ else "",
            "description": "",
            "importance_score": 0.0,
            "source_chunks": [],
            "mention_count": 0,
            "is_orphan": True,
        }
        self._canonical_map[canonical] = node_id
        return node_id

    def add_relationship(self, source, target, rel_type, description, strength, source_chunks):
        source_id = self._ensure_entity_exists(source, "")
        target_id = self._ensure_entity_exists(target, "")
        key = (source_id, target_id, rel_type)
        if key in self.edges:
            edge = self.edges[key]
            edge["strength"] += strength
            existing = set(edge["description"].split("\n")) if edge["description"] else set()
            if description and description.strip():
                existing.add(description.strip())
            edge["description"] = "\n".join(sorted(filter(None, existing)))
            sources = set(edge["source_chunks"])
            sources.update(source_chunks or [])
            edge["source_chunks"] = sorted(sources)
            edge["mention_count"] += 1
        else:
            self.edges[key] = {
                "relationship_type": rel_type,
                "description": description or "",
                "strength": strength,
                "source_chunks": list(source_chunks or []),
                "mention_count": 1,
            }

    def triples(self) -> set[tuple[str, str, str]]:
        """Directed (source_name, type, target_name) — entity_graph.py:424-480."""
        out = set()
        for (source_id, target_id, _), edge in self.edges.items():
            out.add(
                (
                    self.nodes[source_id]["name"],
                    edge["relationship_type"],
                    self.nodes[target_id]["name"],
                )
            )
        return out


def run_reference_pipeline(
    docs: list[tuple[str, list[tuple[str, str]]]],
    llm: Callable[[str, str, int], str] = mock_llm_response,
) -> tuple[set[tuple[str, str, str]], dict]:
    """docs: [(doc_id, [(chunk_id, chunk_text), ...]), ...].

    One gleaning pass per chunk; entities below importance 0.3 and
    relationships below strength 0.4 stay out of the graph.

    Returns (global_triples, per-doc stats). Global triple identity follows
    the Neo4j MERGE keys: node by name, edge by (source, target, type).
    """
    global_triples: set[tuple[str, str, str]] = set()
    stats = {"entities": 0, "relationships": 0}
    for doc_id, chunks in docs:
        per_chunk = [
            extract_chunk_with_gleaning(text, chunk_id, llm)
            for chunk_id, text in chunks
        ]
        entity_dict, rels_by_pair = consolidate(per_chunk)

        graph = SequentialEntityGraph()
        for entity in entity_dict.values():
            if entity["importance_score"] >= 0.3:
                graph.add_entity(
                    entity["name"],
                    entity["type"],
                    entity["description"],
                    entity["importance_score"],
                    entity.get("source_chunks") or [],
                )
        for rels in rels_by_pair.values():
            for rel in rels:
                if rel["strength"] >= 0.4:
                    graph.add_relationship(
                        rel["source_entity"],
                        rel["target_entity"],
                        rel["relationship_type"] or "RELATED_TO",
                        rel["description"] or "",
                        rel["strength"],
                        rel.get("source_chunks") or [],
                    )
        stats["entities"] += len(graph.nodes)
        stats["relationships"] += len(graph.edges)
        global_triples |= graph.triples()
    return global_triples, stats
