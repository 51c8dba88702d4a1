"""Pure-Python mirror of a property graph, used to check every graph op.

It follows the engine's documented semantics:

- an edge whose endpoint is not a vertex is dropped (the reference's
  backends silently skip it);
- ``khop(src, k)`` is every vertex reachable in 1..k hops; the root is
  excluded unless a cycle of length <= k re-reaches it;
- ``ssp(src, dst)`` is an unweighted shortest path (any one of them; the
  engine's tie-break is checked only for validity, not identity).
"""

from __future__ import annotations

from collections import deque


class GraphMirror:
    def __init__(self, vertices, edges, names: dict[str, int] | None = None):
        self.vertices: set[int] = set(vertices)
        self.adj: dict[int, set[int]] = {}
        self.names: dict[str, int] = dict(names or {})
        for s, d in edges:
            self.add_edge(s, d)

    def copy(self) -> "GraphMirror":
        m = GraphMirror((), ())
        m.vertices = set(self.vertices)
        m.adj = {k: set(v) for k, v in self.adj.items()}
        m.names = dict(self.names)
        return m

    def add_node(self, nid: int, name: str | None = None) -> None:
        self.vertices.add(nid)
        if name is not None:
            self.names[name] = nid

    def add_edge(self, src: int, dst: int) -> bool:
        if src not in self.vertices or dst not in self.vertices:
            return False
        self.adj.setdefault(src, set()).add(dst)
        return True

    def lookup(self, name: str) -> int | None:
        return self.names.get(name)

    def distances(self, src: int, max_hops: int | None = None) -> dict[int, int]:
        dist = {src: 0}
        q = deque([src])
        while q:
            u = q.popleft()
            if max_hops is not None and dist[u] >= max_hops:
                continue
            for v in self.adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        return dist

    def khop(self, src: int, hops: int) -> set[int]:
        if src not in self.vertices:
            return set()
        dist = self.distances(src, hops)
        out = {v for v, d in dist.items() if 1 <= d <= hops}
        if any(src in self.adj.get(u, ()) for u, d in dist.items() if d <= hops - 1):
            out.add(src)
        return out

    def ssp_dist(self, src: int, dst: int) -> int | None:
        if src not in self.vertices:
            return None
        return self.distances(src).get(dst)

    def valid_path(self, path: list[int], dist: int, src: int, dst: int) -> bool:
        if len(path) != dist + 1 or path[0] != src or path[-1] != dst:
            return False
        return all(b in self.adj.get(a, ()) for a, b in zip(path, path[1:]))


def grid_khop(n: int, src: int, hops: int) -> set[int]:
    """Closed form for the n x n grid (right and down edges only): every
    cell (r, c) with r >= r0, c >= c0 and 1 <= (r-r0)+(c-c0) <= hops."""
    r0, c0 = divmod(src, n)
    return {
        r * n + c
        for r in range(r0, min(n, r0 + hops + 1))
        for c in range(c0, min(n, c0 + hops + 1))
        if 1 <= (r - r0) + (c - c0) <= hops
    }


def grid_dist(n: int, src: int, dst: int) -> int | None:
    """Closed form: Manhattan distance when dst is below-right of src."""
    (r0, c0), (r1, c1) = divmod(src, n), divmod(dst, n)
    if r1 < r0 or c1 < c0:
        return None
    return (r1 - r0) + (c1 - c0)


def grid_valid_path(n: int, path: list[int], dist: int, src: int, dst: int) -> bool:
    if len(path) != dist + 1 or path[0] != src or path[-1] != dst:
        return False
    return all(
        (b == a + 1 and a % n != n - 1) or (b == a + n and a < n * n - n)
        for a, b in zip(path, path[1:])
    )
