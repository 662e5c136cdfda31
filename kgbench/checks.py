"""Independent references the benchmark checks the engine's outputs against."""

from __future__ import annotations

from collections import Counter, defaultdict

from nlp_lib_spark.kernels.pipeline import extract_turn


def precision_recall(pred: set, gold: set) -> tuple[float, float]:
    tp = len(pred & gold)
    return tp / max(len(pred), 1), tp / max(len(gold), 1)


def triple_keys(rows) -> set[tuple]:
    """(conv_id, turn_idx, sent_id, subj, pred, obj) with lowercased
    entities — the key the planted gold is written in."""
    return {(c, int(t), int(s), subj.lower(), p, obj.lower())
            for c, t, s, subj, p, obj in rows}


def oracle_rows(rt, turns) -> Counter:
    """Single-process ``extract_turn`` over ``turns`` as a multiset of
    (conv_id, turn_idx, sent_id, e1, e2, subj, pred, obj)."""
    return Counter((c, t, sid, i, j, subj, pred, obj)
                   for c, t, _role, text, _tool, _ts in turns
                   for sid, i, j, subj, pred, obj in extract_turn(rt, text))


def union_find_labels(edges) -> dict[str, str]:
    """vertex -> min member of its component, over edges with u != v
    (the vertices ``connected_components`` reports)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v, _w in edges:
        if u == v:
            continue
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:  # keep the smaller id as root: root == component min
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {x: find(x) for x in parent}


def pagerank_replay(edges, iters: int, damping_pct: int,
                    scale: int) -> dict[str, tuple[int, int, int]]:
    """Python-integer replay of the recurrence in ``graph.pagerank``::

        r0(x)   = scale // N
        contrib = (r(src) * w) // W(src)          per edge
        r'(x)   = (100-d) * (scale // N) // 100 + d * sum(contrib) // 100

    over edges grouped by (src, dst) with summed weights; dangling mass
    dropped.  Returns id -> (rank, out-weight, in-weight)."""
    w: dict[tuple[str, str], int] = defaultdict(int)
    for u, v, wt in edges:
        w[(u, v)] += wt
    wout: dict[str, int] = defaultdict(int)
    win: dict[str, int] = defaultdict(int)
    for (u, v), wt in w.items():
        wout[u] += wt
        win[v] += wt
    nodes = set(wout) | set(win)
    r0 = scale // len(nodes)
    base = (100 - damping_pct) * r0 // 100
    ranks = dict.fromkeys(nodes, r0)
    for _ in range(iters):
        acc: dict[str, int] = defaultdict(int)
        for (u, v), wt in w.items():
            acc[v] += ranks[u] * wt // wout[u]
        ranks = {x: base + damping_pct * acc.get(x, 0) // 100
                 for x in nodes}
    return {x: (ranks[x], wout.get(x, 0), win.get(x, 0)) for x in nodes}
