"""Output checks for the KG-build benchmark (pure Python, no Spark).

A table's content digest is order-independent: the row count plus the sum of
one 60-bit hash per row, where a row hashes as SHA-256 over its columns cast
to strings and joined with U+001F (NULL becomes U+0000). Spark computes the
same digest on the executors (``kgbuild.digest_exprs``), so a triple set
computed by a driver-side oracle can be compared with the one Spark emitted
without collecting it.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable

SEP = "\x1f"
NULL = "\x00"
GIANT_COMPONENT_EDGES = 500_000  # detect_communities' default max_component_size


def row_hash(values: Iterable[str | None]) -> int:
    key = SEP.join(NULL if v is None else v for v in values)
    return int(hashlib.sha256(key.encode("utf-8")).hexdigest()[:15], 16)


def set_digest(rows: Iterable[tuple]) -> tuple[int, int]:
    n = s = 0
    for r in rows:
        n += 1
        s += row_hash(r)
    return n, s


def compare_digests(
    got: dict[str, tuple[int, int]], want: dict[str, tuple[int, int]], what: str
) -> list[str]:
    """Every table named in ``want`` must be in ``got`` with the same digest."""
    errors = []
    for name, d in sorted(want.items()):
        g = got.get(name)
        if g is None:
            errors.append(f"{what}: table {name} missing")
        elif tuple(g) != tuple(d):
            errors.append(f"{what}: table {name} digest {g} != {tuple(d)}")
    return errors


# ---------------------------------------------------------------------------
# mentions_graph oracle: canonicalize → build_triples semantics over dicts
# ---------------------------------------------------------------------------


def triples_from_mentions(
    rows: Iterable[tuple],
    importance_threshold: float = 0.3,
    strength_threshold: float = 0.4,
) -> set[tuple[str, str, str]]:
    """(subj, pred, obj) set from MENTION_SCHEMA rows.

    Per document: entities are merged on (lower(name), type) with mean
    importance, then on upper(trim(name)) with the mean of those means; names
    whose mean passes the importance gate form the document's name set. A
    relationship mention survives when both endpoints (upper(trim)) are in
    that set and its own strength passes the strength gate. Triples keep the
    mention's source/target strings as written.
    """
    stage1: dict[tuple, list[float]] = {}
    rels = []
    for kind, _chunk, doc, name, typ, target, _desc, imp, strength, _src in rows:
        if kind == "entity":
            stage1.setdefault((doc, name.lower(), typ), []).append(imp)
        else:
            rels.append((doc, name, typ, target, strength))
    stage2: dict[tuple, list[float]] = {}
    for (doc, lname, _typ), imps in stage1.items():
        stage2.setdefault((doc, lname.strip().upper()), []).append(sum(imps) / len(imps))
    names: dict[str, set[str]] = {}
    for (doc, key), means in stage2.items():
        if sum(means) / len(means) >= importance_threshold:
            names.setdefault(doc, set()).add(key)
    out = set()
    for doc, src, typ, dst, strength in rels:
        present = names.get(doc, ())
        if (
            src.strip().upper() in present
            and dst.strip().upper() in present
            and strength >= strength_threshold
        ):
            out.add((src, typ, dst))
    return out


# ---------------------------------------------------------------------------
# community invariants
# ---------------------------------------------------------------------------


def stable_community_id(anchor: str) -> int:
    """operators/communities._stable_id: SHA-1 of the minimum member."""
    return int.from_bytes(hashlib.sha1(anchor.encode()).digest()[:8], "big") % (2**62)


def components(edges: Iterable[tuple[str, str]]) -> dict[str, str]:
    """node -> minimum node id of its connected component (union-find)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def community_errors(
    membership: Iterable[tuple[str, int]], edges: Iterable[tuple[str, str]]
) -> list[str]:
    """Invariants of a community assignment over the projected edge list.

    Every endpoint of a non-loop edge has exactly one community and no other
    node has one; each community lies inside one connected component; each
    community id is the stable hash of its minimum member (components above
    the giant threshold take the label-propagation path, whose id hash is
    Spark's xxhash64, and are exempt from the id check).
    """
    edges = [(u, v) for u, v in edges if u != v]
    comp = components(edges)
    comp_edges: dict[str, int] = {}
    for u, _ in edges:
        comp_edges[comp[u]] = comp_edges.get(comp[u], 0) + 1
    errors = []
    seen: dict[str, int] = {}
    members: dict[int, list[str]] = {}
    for node, cid in membership:
        if node in seen:
            errors.append(f"node {node} has more than one community")
        seen[node] = cid
        members.setdefault(cid, []).append(node)
    missing = set(comp) - set(seen)
    extra = set(seen) - set(comp)
    if missing:
        errors.append(f"{len(missing)} graph nodes have no community, e.g. {min(missing)}")
    if extra:
        errors.append(f"{len(extra)} nodes outside the graph have a community, e.g. {min(extra)}")
    for cid, nodes in sorted(members.items()):
        roots = {comp.get(n) for n in nodes}
        if len(roots) != 1:
            errors.append(f"community {cid} spans {len(roots)} components")
            continue
        root = roots.pop()
        if root is not None and comp_edges.get(root, 0) > GIANT_COMPONENT_EDGES:
            continue
        if cid != stable_community_id(min(nodes)):
            errors.append(f"community {cid} is not the stable id of its minimum member")
    return errors
