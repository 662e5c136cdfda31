"""SemDeDup: Spark operator vs an independent pure-Python replica.

DuckDB oracle parity is covered by test_gate_parity (semdedup_pairs and
the ann_variants composite); here the operator is checked against a
from-scratch Python implementation of the same quantize → Lloyd →
cap → keep-first-by-id pipeline, over seeded random vectors plus
planted exact duplicates, and the cap/threshold contracts are pinned.
"""

from __future__ import annotations

import math
import random
from decimal import ROUND_HALF_UP, Decimal

import pytest

from nlp_lib_spark.operators.dedup import SEMDEDUP_N_CENTROIDS, semdedup_pairs


def _round4(x: float) -> float:
    # Spark round() is HALF_UP on the decimal rendering, not banker's
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"),
                                           rounding=ROUND_HALF_UP))


def _py_semdedup(vecs: dict[int, list[float]],
                 n_centroids=SEMDEDUP_N_CENTROIDS, iters=2,
                 scale=1000, threshold=0.3, cluster_cap=1000):
    ids = sorted(vecs)
    q = {i: [math.floor(x * scale + 0.5) for x in vecs[i]] for i in ids}
    cents = [list(q[i]) for i in ids[:n_centroids]]

    def assign():
        cid = {}
        for i in ids:
            d = [sum((a - b) * (a - b) for a, b in zip(q[i], c))
                 for c in cents]
            cid[i] = d.index(min(d))
        return cid

    for _ in range(iters):
        cid = assign()
        for c in range(len(cents)):
            members = [i for i in ids if cid[i] == c]
            if members:
                for dim in range(len(cents[c])):
                    s = sum(q[i][dim] for i in members)
                    cents[c][dim] = math.floor(s / len(members) + 0.5)
    cid = assign()

    capped = []
    for c in sorted(set(cid.values())):
        members = sorted(i for i in ids if cid[i] == c)[:cluster_cap]
        capped.extend((i, c) for i in members)

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        if na * nb == 0:
            return None
        return _round4(num / (na * nb))

    out = {}
    for i, ci in capped:
        best = None
        for j, cj in capped:
            if cj != ci or not j < i:
                continue
            s = cos(vecs[i], vecs[j])
            if s is None or s < threshold:
                continue
            if best is None or s > best[1] or (s == best[1] and j < best[0]):
                best = (j, s)
        if best is not None:
            out[i] = best
    return out


def _rand_vecs(seed: int, n: int, dim: int = 4) -> dict[int, list[float]]:
    rng = random.Random(seed)
    vecs = {}
    for i in range(n):
        if i >= 4 and rng.random() < 0.3:
            # planted duplicate: an earlier vector scaled (cosine 1.0)
            base = vecs[rng.randrange(i)]
            vecs[i] = [x * rng.choice([2.0, 3.0, 0.5]) for x in base]
        else:
            vecs[i] = [rng.choice([0.0, 0.25, 0.5, 1.0, 2.0])
                       for _ in range(dim)]
            if all(x == 0.0 for x in vecs[i]):
                vecs[i][i % dim] = 1.0  # keep norms nonzero
    return vecs


@pytest.mark.parametrize("seed", [2, 11, 99])
def test_semdedup_matches_python_model(spark, seed):
    vecs = _rand_vecs(seed, 24)
    expected = _py_semdedup(vecs, threshold=0.9)
    df = spark.createDataFrame(
        [(i, v) for i, v in sorted(vecs.items())],
        "vec_id long, embedding array<double>")
    rows = semdedup_pairs(df, threshold=0.9).collect()
    got = {r.query_id: (r.neighbor_id, r.sim) for r in rows}
    assert len(rows) == len(got), "one row per dropped vector"
    assert got == expected
    assert all(qid > nid for qid, (nid, _) in got.items())


def test_semdedup_cluster_cap_bounds_pairs(spark):
    # 6 copies of the same direction: with cap=2 only the first two
    # survive the cap, so exactly one drop row (id1 vs id0) can exist
    # from that cluster regardless of the other four members.
    vecs = {i: [float(i + 1), 0.0, 0.0, 0.0] for i in range(6)}
    vecs.update({i: [0.0, float(i), 0.0, 0.0] for i in range(6, 9)})
    df = spark.createDataFrame(
        [(i, v) for i, v in sorted(vecs.items())],
        "vec_id long, embedding array<double>")
    expected = _py_semdedup(vecs, n_centroids=2, threshold=0.9,
                            cluster_cap=2)
    rows = semdedup_pairs(df, n_centroids=2, threshold=0.9,
                          cluster_cap=2).collect()
    got = {r.query_id: (r.neighbor_id, r.sim) for r in rows}
    assert got == expected
    assert all(q in (1, 7) or q > 5 for q in got)  # capped ids never drop


def test_semdedup_threshold_excludes_weak_pairs(spark):
    vecs = {0: [1.0, 0.0], 1: [1.0, 1.0], 2: [2.0, 0.0]}
    df = spark.createDataFrame(
        [(i, v) for i, v in sorted(vecs.items())],
        "vec_id long, embedding array<double>")
    rows = semdedup_pairs(df, n_centroids=1, threshold=0.99).collect()
    got = {r.query_id: r.neighbor_id for r in rows}
    # cos(0,2)=1.0 passes; cos(0,1)=0.7071 does not
    assert got == {2: 0}
