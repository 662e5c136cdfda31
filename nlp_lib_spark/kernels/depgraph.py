"""Dependency-graph edge list with O(V+E) lookups.

Functional re-expression of ``ling/SimpleDepGraph.java`` (which stores a
flat edge list and does a linear scan per query — its own ``TODO`` at
java:35 — and BFS over an adjacency *matrix*, java:196-242). We index
edges by governor and by dependent once per sentence; the undirected
adjacency that path and reachability queries walk is built only when one
of them runs.  Same results, linear cost, which matters because these
kernels run per candidate pair at 10^12-turn scale.

Reln patterns are Java ``String.matches`` regexes (full match).  Each
pattern's verdict per reln is kept in a module-level ``match_table``:
dependency labels are a closed vocabulary, so a reln is matched against a
pattern once per process instead of once per edge visit.

Edge = (reln, gov, dep) with 0-based token indices.
Path labels follow the reference convention: traversing an edge from gov
to dep contributes ``reln``; the reverse direction contributes ``-reln``
(java:205-207).
"""

from __future__ import annotations

import re
from collections import deque

Edge = tuple[str, int, int]  # (reln, gov, dep)

# verdicts kept per table; a parse whose reln vocabulary is larger still
# gets exact answers, recomputed for the relns past the bound
_MAX_RELNS = 4096


class _MatchTable(dict):
    """reln -> whether the table's pattern fullmatches it."""

    __slots__ = ("_fullmatch",)

    def __init__(self, pattern: str):
        super().__init__()
        self._fullmatch = re.compile(pattern).fullmatch

    def __missing__(self, reln: str) -> bool:
        hit = self._fullmatch(reln) is not None
        if len(self) < _MAX_RELNS:
            self[reln] = hit
        return hit


_TABLES: dict[str, _MatchTable] = {}


def match_table(pattern: str) -> _MatchTable:
    """The shared reln -> bool table of ``pattern`` (``table[reln]``)."""
    t = _TABLES.get(pattern)
    if t is None:
        t = _TABLES[pattern] = _MatchTable(pattern)
    return t


class DepGraph:
    """One sentence's edges, indexed by governor (``by_gov``) and by
    dependent (``by_dep``); each index keeps edge-list order per node.
    Callers treat the indexes as read-only."""

    __slots__ = ("edges", "by_gov", "by_dep", "_adj", "_prevs")

    def __init__(self, edges: list[Edge]):
        self.edges = list(edges)
        by_gov: dict[int, list[Edge]] = {}
        by_dep: dict[int, list[Edge]] = {}
        for e in self.edges:
            es = by_gov.get(e[1])
            if es is None:
                by_gov[e[1]] = [e]
            else:
                es.append(e)
            es = by_dep.get(e[2])
            if es is None:
                by_dep[e[2]] = [e]
            else:
                es.append(e)
        self.by_gov = by_gov
        self.by_dep = by_dep
        self._adj: dict[int, list[tuple[int, str]]] | None = None
        # per-source BFS predecessor-map memo: one BFS serves every
        # destination, so the O(pairs) path queries of rules 1/2/3 and
        # the feature pipes cost O(sources) BFS runs per sentence (the
        # reference reruns an adjacency-matrix BFS per query — SURVEY §4
        # flags this as the dominant redundant recompute)
        self._prevs: dict[int, dict[int, tuple[int, str]]] = {}

    def _adjacency(self) -> dict[int, list[tuple[int, str]]]:
        """Undirected neighbour lists, each sorted once (deterministic BFS
        tie-break) instead of per BFS visit."""
        adj = self._adj
        if adj is None:
            adj = {}
            for reln, gov, dep in self.edges:
                adj.setdefault(gov, []).append((dep, reln))
                adj.setdefault(dep, []).append((gov, "-" + reln))
            for lst in adj.values():
                lst.sort()
            self._adj = adj
        return adj

    # ---- edge selections (SimpleDepGraph.java:244-317) ----
    def gov_edges(self, gov: int, pattern: str | None = None) -> list[Edge]:
        es = self.by_gov.get(gov)
        if es is None:
            return []
        if pattern is None:
            return es
        m = match_table(pattern)
        return [e for e in es if m[e[0]]]

    def dep_edges(self, dep: int, pattern: str | None = None) -> list[Edge]:
        es = self.by_dep.get(dep)
        if es is None:
            return []
        if pattern is None:
            return es
        m = match_table(pattern)
        return [e for e in es if m[e[0]]]

    def edges_matching(self, pattern: str) -> list[Edge]:
        m = match_table(pattern)
        return [e for e in self.edges if m[e[0]]]

    def parent(self, dep: int) -> int:
        es = self.by_dep.get(dep)
        return es[0][1] if es else -1

    # ---- shortest path (SimpleDepGraph.java:190-242 / getPathAsList) ----
    def _prev_map(self, src: int) -> dict[int, tuple[int, str]]:
        """Full undirected BFS from ``src`` (memoized).  Exploring to
        exhaustion instead of early-breaking at one destination yields
        byte-identical per-destination paths (earlier prev assignments
        are unaffected) while serving every destination from one run."""
        pm = self._prevs.get(src)
        if pm is None:
            adj = self._adjacency()
            pm = {src: (-1, "")}
            q = deque([src])
            while q:
                v = q.popleft()
                for (nxt, lab) in adj.get(v, ()):
                    if nxt not in pm:
                        pm[nxt] = (v, lab)
                        q.append(nxt)
            self._prevs[src] = pm
        return pm

    def path_labels(self, src: int, dst: int) -> list[str] | None:
        """Undirected BFS shortest path src->dst; edge-label list with
        ``-`` prefix for edges traversed dep->gov. None when disconnected."""
        if src == dst:
            return []
        pm = self._prev_map(src)
        if dst not in pm:
            return None
        labels: list[str] = []
        v = dst
        while v != src:
            p, lab = pm[v]
            labels.append(lab)
            v = p
        labels.reverse()
        return labels

    def lcs(self, a: int, b: int) -> int:
        """Least common subsumer of two tokens by root-paths, cycle-guarded
        (SimpleDepGraph.java:639-670). -1 when no common ancestor."""

        def root_path(x: int) -> list[int]:
            out = [x]
            seen = {x}
            cur = x
            while True:
                p = self.parent(cur)
                if p == -1 or p in seen:
                    break
                out.append(p)
                seen.add(p)
                cur = p
            return out

        pa = root_path(a)
        pb_set = {}
        for k, n in enumerate(root_path(b)):
            pb_set[n] = k
        for n in pa:
            if n in pb_set:
                return n
        return -1

    def path_edges(self, src: int, dst: int,
                   directed: bool = False) -> list[Edge] | None:
        """Edges along the BFS shortest path (getPathAsRelnList,
        SimpleDepGraph.java:483-546).  ``directed=True`` walks gov->dep
        edges only; neighbor expansion is ascending-node-index, matching
        the reference's ``for i in 0..size`` adjacency-matrix sweep."""
        if src == dst:
            return []
        if directed:
            prev: dict[int, tuple[int, str]] = {src: (-1, "")}
            q = deque([src])
            while q:
                v = q.popleft()
                if v == dst:
                    break
                nbrs = sorted((e[2], e[0]) for e in self.by_gov.get(v, ()))
                for (nxt, lab) in nbrs:
                    if nxt not in prev:
                        prev[nxt] = (v, lab)
                        q.append(nxt)
        else:
            prev = self._prev_map(src)  # shared memoized BFS
        if dst not in prev:
            return None
        out: list[Edge] = []
        v = dst
        while v != src:
            p, lab = prev[v]
            if lab.startswith("-"):
                out.append((lab[1:], v, p))
            else:
                out.append((lab, p, v))
            v = p
        out.reverse()
        return out

    # ---- bounded reachability (SimpleDepGraph.java:319-418) ----
    def reachable(self, src: int, directed: bool, max_dist: int,
                  skip_pattern: str | None = None) -> set[int]:
        """Nodes reachable from ``src`` within ``max_dist`` hops.

        ``skip_pattern`` EXCLUDES matching edges from the graph before
        the walk — the reference's 4-arg getReachableIndices drops any
        edge whose reln matches the filter (SimpleDepGraph.java:387:
        ``if (sd.reln().matches(relnFilter)) continue``), it does not
        restrict traversal to matching edges.  The source node itself is
        not returned (the reference includes it; callers needing it add
        ``| {src}``)."""
        skip = match_table(skip_pattern) if skip_pattern is not None else None
        adj = None if directed else self._adjacency()
        seen = {src}
        q = deque([(src, 0)])
        while q:
            v, d = q.popleft()
            if d == max_dist:
                continue
            if directed:
                nbrs = [(e[2], e[0]) for e in self.by_gov.get(v, ())]
            else:
                nbrs = adj.get(v, [])
            for nxt, lab in nbrs:
                if skip is not None and skip[lab.lstrip("-")]:
                    continue
                if nxt not in seen:
                    seen.add(nxt)
                    q.append((nxt, d + 1))
        seen.discard(src)
        return seen
