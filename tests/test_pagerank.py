"""PageRank: Spark operator vs an independent pure-Python replica.

DuckDB oracle parity is covered by test_gate_parity (kg_pagerank);
here operators/graph.pagerank is checked against a
from-scratch integer PageRank over seeded random multigraphs (self
loops excluded upstream by the gate, included here — the operator must
handle them), plus structural invariants.
"""

from __future__ import annotations

import random

import pytest

from nlp_lib_spark.operators.graph import PR_SCALE, pagerank


def _py_pagerank(edges, iters=5, d_pct=85, scale=PR_SCALE):
    w = {}
    for s, dst, ww in edges:
        w[(s, dst)] = w.get((s, dst), 0) + ww
    nodes = sorted({s for s, _, _ in edges} | {t for _, t, _ in edges})
    tw = {}
    for (s, _), ww in w.items():
        tw[s] = tw.get(s, 0) + ww
    n = len(nodes)
    r0 = scale // n
    base = ((100 - d_pct) * r0) // 100
    r = {x: r0 for x in nodes}
    for _ in range(iters):
        sc = {}
        for (s, t), ww in w.items():
            sc[t] = sc.get(t, 0) + (r[s] * ww) // tw[s]
        r = {x: base + (d_pct * sc.get(x, 0)) // 100 for x in nodes}
    win = {}
    for (_, t), ww in w.items():
        win[t] = win.get(t, 0) + ww
    return {x: (r[x], tw.get(x, 0), win.get(x, 0)) for x in nodes}


def _rand_graph(seed: int, n_nodes: int, n_edges: int):
    rng = random.Random(seed)
    return [(f"e{rng.randrange(n_nodes)}", f"e{rng.randrange(n_nodes)}",
             rng.randint(1, 5)) for _ in range(n_edges)]


@pytest.mark.parametrize("seed", [3, 13, 23])
def test_pagerank_matches_python_model(spark, seed):
    edges = _rand_graph(seed, 12, 40)
    expected = _py_pagerank(edges)
    df = spark.createDataFrame(
        [(s, "rel", t, ww, 1) for s, t, ww in edges],
        "subj_id string, pred string, obj_id string, weight long, "
        "n_convs long")
    got = {r.entity_id: (r.pr_scaled, r.pr_wout, r.pr_win)
           for r in pagerank(df).collect()}
    assert got == expected


def test_pagerank_sink_gains_and_mass_bounded(spark):
    # a -> b -> c chain plus noise: c (pure sink) must outrank a (source)
    edges = [("a", "b", 1), ("b", "c", 1), ("a", "c", 1)]
    df = spark.createDataFrame(
        [(s, "r", t, w, 1) for s, t, w in edges],
        "subj_id string, pred string, obj_id string, weight long, "
        "n_convs long")
    rows = {r.entity_id: r.pr_scaled for r in pagerank(df).collect()}
    assert rows["c"] > rows["b"] > rows["a"]
    # dropped-dangling-mass variant: total never exceeds the scale
    assert sum(rows.values()) <= PR_SCALE


def test_pagerank_rejects_bad_damping(spark):
    df = spark.createDataFrame(
        [("a", "r", "b", 1, 1)],
        "subj_id string, pred string, obj_id string, weight long, "
        "n_convs long")
    with pytest.raises(ValueError):
        pagerank(df, damping_pct=101)
