"""Leiden community detection — pure-Python implementation of the actual
Leiden algorithm (Traag, Waltman & van Eck, "From Louvain to Leiden:
guaranteeing well-connected communities", Sci. Rep. 9:5233, 2019).

The reference clusters with igraph's ``community_leiden(objective_function=
"modularity", weights=..., resolution=...)`` (core/graph_clustering.py:
158-176). python-igraph is absent from this container; earlier rounds stood
in networkx Louvain. This module closes that gap with the real algorithm:

  1. **local moving** (same greedy modularity as Louvain, queue-based);
  2. **refinement** — the Leiden addition: inside every community, nodes
     re-merge from singletons, only with communities *within the same
     community* that they are actually connected to. This is what buys the
     paper's guarantee: every emitted community induces a CONNECTED
     subgraph (Louvain can and does emit disconnected ones — tested);
  3. **aggregation** on the *refined* partition, keeping the coarse
     partition as the aggregate's starting point, then repeat until stable.

Deterministic: all visit orders come from a seeded ``numpy.random
.RandomState``; merge choice is best-gain (the θ→0 limit of the paper's
randomized variant), ties broken by smallest community index. Two runs with
the same seed produce identical memberships.

Modularity gain for moving node v (strength k_v) from community A to B:
    Δ ∝ [k_{v→B} − k_{v→A∖v}] − γ·k_v·(Σtot_B − Σtot_{A∖v}) / (2m)
with γ = resolution — the same objective igraph maximizes for
``objective_function="modularity"``.

Scale role: this is the per-COMPONENT kernel of
``communities.detect_communities``. Graphs of at most
``graphalgo.LOCAL_EDGE_LIMIT`` edges run it on the driver after one
collect; larger graphs run it inside one mapInPandas stage that walks the
component runs of each key-sorted task. The distributed decomposition (connected components first,
giants routed to distributed LPA) is what holds at 100 TB; this kernel only
ever sees one small-enough component.
"""

from __future__ import annotations

import numpy as np

__all__ = ["leiden_communities"]


def _build(edges):
    """Edge list [(u, v, w)] → (index, adjacency list[dict], strengths,
    self-loop weights, 2m)."""
    idx: dict = {}
    for u, v, _ in edges:
        idx.setdefault(u, len(idx))
        idx.setdefault(v, len(idx))
    n = len(idx)
    adj: list[dict[int, float]] = [dict() for _ in range(n)]
    self_w = np.zeros(n)
    for u, v, w in edges:
        iu, iv, w = idx[u], idx[v], float(w)
        if iu == iv:
            self_w[iu] += w
            continue
        adj[iu][iv] = adj[iu].get(iv, 0.0) + w
        adj[iv][iu] = adj[iv].get(iu, 0.0) + w
    strength = np.array([sum(a.values()) for a in adj]) + 2.0 * self_w
    two_m = float(strength.sum())
    return idx, adj, strength, self_w, two_m


def _move_nodes(adj, strength, membership, tot, two_m, resolution, rng):
    """Phase 1: queue-based greedy local moving (paper Alg. 3 MoveNodesFast)."""
    n = len(adj)
    order = rng.permutation(n)
    queue = list(order)
    in_queue = np.ones(n, dtype=bool)
    head = 0
    moved_any = False
    # amortized queue: append re-activations at the tail
    while head < len(queue):
        v = queue[head]
        head += 1
        in_queue[v] = False
        a = membership[v]
        # weights from v to each neighboring community
        link: dict[int, float] = {}
        for u, w in adj[v].items():
            c = membership[u]
            link[c] = link.get(c, 0.0) + w
        k_v = strength[v]
        base = link.get(a, 0.0) - resolution * k_v * (tot[a] - k_v) / two_m
        best_c, best_gain = a, 0.0
        for c, k_vc in link.items():
            if c == a:
                continue
            gain = (k_vc - resolution * k_v * tot[c] / two_m) - base
            if gain > best_gain + 1e-12 or (
                abs(gain - best_gain) <= 1e-12 and best_gain > 0 and c < best_c
            ):
                best_c, best_gain = c, gain
        if best_c != a:
            membership[v] = best_c
            tot[a] -= k_v
            tot[best_c] += k_v
            moved_any = True
            for u in adj[v]:
                if membership[u] != best_c and not in_queue[u]:
                    queue.append(u)
                    in_queue[u] = True
    return moved_any


def _refine(adj, strength, self_w, membership, two_m, resolution, rng):
    """Phase 2 (the Leiden step): within each coarse community, re-merge
    from singletons, only into refined communities of the SAME coarse
    community that the node is connected to — every refined community is
    connected by construction (paper Alg. 4, deterministic best-gain
    variant)."""
    n = len(adj)
    refined = np.arange(n)
    r_tot = strength.copy()
    r_size = np.ones(n, dtype=np.int64)
    for v in rng.permutation(n):
        if r_size[refined[v]] != 1:
            continue  # only still-singleton nodes merge (paper §A.2)
        a = membership[v]
        link: dict[int, float] = {}
        for u, w in adj[v].items():
            if membership[u] == a:
                r = refined[u]
                link[r] = link.get(r, 0.0) + w
        if not link:
            continue
        k_v = strength[v]
        best_r, best_gain = refined[v], 0.0
        for r, k_vr in link.items():
            if r == refined[v]:
                continue
            gain = k_vr - resolution * k_v * r_tot[r] / two_m
            if gain > best_gain + 1e-12 or (
                abs(gain - best_gain) <= 1e-12 and best_gain > 0 and r < best_r
            ):
                best_r, best_gain = r, gain
        if best_r != refined[v]:
            r_size[best_r] += r_size[refined[v]]
            r_size[refined[v]] = 0
            r_tot[best_r] += k_v
            r_tot[refined[v]] -= k_v
            refined[v] = best_r
    return refined


def _aggregate(adj, strength, self_w, refined, membership):
    """Phase 3: contract the refined partition; the aggregate's starting
    membership is the coarse community of each refined block."""
    blocks = {}
    for v, r in enumerate(refined):
        blocks.setdefault(r, []).append(v)
    block_ids = sorted(blocks)
    remap = {r: i for i, r in enumerate(block_ids)}
    n2 = len(block_ids)
    adj2: list[dict[int, float]] = [dict() for _ in range(n2)]
    self2 = np.zeros(n2)
    member2 = np.zeros(n2, dtype=np.int64)
    node_map = np.zeros(len(adj), dtype=np.int64)
    for r, members in blocks.items():
        i = remap[r]
        member2[i] = membership[members[0]]
        for v in members:
            node_map[v] = i
            self2[i] += self_w[v]
    for v in range(len(adj)):
        i = node_map[v]
        for u, w in adj[v].items():
            if u <= v:
                continue  # each undirected edge once
            j = node_map[u]
            if i == j:
                self2[i] += w
            else:
                adj2[i][j] = adj2[i].get(j, 0.0) + w
                adj2[j][i] = adj2[j].get(i, 0.0) + w
    # renumber coarse labels to 0..k-1 so they index level-local arrays
    relabel: dict[int, int] = {}
    for i in range(n2):
        c = int(member2[i])
        if c not in relabel:
            relabel[c] = len(relabel)
        member2[i] = relabel[c]
    strength2 = np.array([sum(a.values()) for a in adj2]) + 2.0 * self2
    return adj2, strength2, self2, member2, node_map


def leiden_communities(
    edges,
    resolution: float = 1.0,
    seed: int = 42,
) -> dict:
    """Cluster an undirected weighted edge list [(u, v, w)] → {node:
    community_index}, aggregating at most 20 levels. Nodes are indexed by
    first appearance; a node whose only edges are zero-weight self-loops is
    isolated and gets its own community. Deterministic for a fixed seed."""
    idx, adj, strength, self_w, two_m = _build(edges)
    n = len(adj)
    if n == 0:
        return {}
    if two_m <= 0.0:
        return {node: i for node, i in idx.items()}

    rng = np.random.RandomState(seed)
    # node_map_chain[i]: original node → supernode at level i
    chain = [np.arange(n)]
    membership = np.arange(n)
    tot = strength.copy()
    for _ in range(20):
        moved = _move_nodes(adj, strength, membership, tot, two_m, resolution, rng)
        n_comms = len(set(membership.tolist()))
        if n_comms == len(adj):
            break  # every community is a single node — done
        refined = _refine(adj, strength, self_w, membership, two_m, resolution, rng)
        prev_n = len(adj)
        adj, strength, self_w, membership, node_map = _aggregate(
            adj, strength, self_w, refined, membership
        )
        chain.append(node_map)
        if len(adj) == prev_n:
            break  # refinement kept every node separate — no more progress
        tot = np.zeros(len(adj))  # labels are renumbered 0..k-1, k ≤ n2
        for v in range(len(adj)):
            tot[membership[v]] += strength[v]
        if len(adj) == n_comms and not moved:
            break

    # flatten: original node → final community label
    flat = chain[0]
    for nm in chain[1:]:
        flat = nm[flat]
    final = membership[flat]
    # renumber communities 0..k-1 by first appearance for stability
    renum: dict[int, int] = {}
    out = {}
    for node, i in idx.items():
        c = int(final[i])
        if c not in renum:
            renum[c] = len(renum)
        out[node] = renum[c]
    return out
