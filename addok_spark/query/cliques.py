"""Token co-occurrence clique extraction (reference Q13,
``/root/reference/addok/helpers/collectors.py:151-214``
``extend_results_extrapoling_relations``): when every direct
relaxation ran dry, build the co-occurrence graph among the query's
meaningful tokens (an edge joins two tokens that share a doc) and
re-intersect each maximal clique, smallest-average-df cliques first.

Deterministic by construction: nodes processed in sorted order,
Bron-Kerbosch without pivoting, cliques ordered by
(avg group df asc, clique tuple asc) — the oracle runs this same
module."""

from __future__ import annotations


def maximal_cliques(nodes: list[int], edges: set[tuple[int, int]]) -> list[tuple[int, ...]]:
    """All maximal cliques (size ≥ 1), deterministic order."""
    nodes = sorted(nodes)
    adj: dict[int, set[int]] = {n: set() for n in nodes}
    for a, b in edges:
        if a in adj and b in adj:
            adj[a].add(b)
            adj[b].add(a)
    out: list[tuple[int, ...]] = []

    def bk(r: list[int], p: list[int], x: list[int]) -> None:
        if not p and not x:
            out.append(tuple(r))
            return
        for v in list(p):
            bk(r + [v], [u for u in p if u in adj[v]], [u for u in x if u in adj[v]])
            p.remove(v)
            x.append(v)

    bk([], nodes, [])
    return sorted(set(out))


def ordered_cliques(
    nodes: list[int], edges: set[tuple[int, int]], group_df: dict[int, int]
) -> list[tuple[int, ...]]:
    """Cliques of size ≥2, ordered by ascending average df (the
    reference intersects least-frequent relations first,
    collectors.py:205-210), ties by clique tuple."""
    cs = [c for c in maximal_cliques(nodes, edges) if len(c) >= 2]
    cs.sort(key=lambda c: (sum(group_df.get(g, 0) for g in c) / len(c), c))
    return cs
