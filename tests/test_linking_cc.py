"""Entity linking + connected-components canonicalization."""

from __future__ import annotations

import random
import re
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import functions as F

from nlp_lib_spark.operators.canonicalize import (components_with_singletons,
                                                  connected_components)
from nlp_lib_spark.operators.graph import canonical_map, materialize_graph
from nlp_lib_spark.operators.linking import dictionary_frame, link_mentions


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def test_cc_matches_union_find_random_graph(spark):
    rng = random.Random(7)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    edges = [(u, v) for u, v in edges if u != v]
    e = spark.createDataFrame(pd.DataFrame(edges, columns=["u", "v"]))
    got = {r.id: r.component
           for r in connected_components(e).collect()}
    # expected: min-label components via union-find
    exp = _uf_components(edges)
    # min-label: relabel each union-find root to min member
    groups = {}
    for x, r in exp.items():
        groups.setdefault(r, []).append(x)
    exp_min = {}
    for members in groups.values():
        m = min(members)
        for x in members:
            exp_min[x] = m
    assert got == exp_min


def test_cc_singletons(spark):
    e = spark.createDataFrame(pd.DataFrame([("a", "b")], columns=["u", "v"]))
    verts = spark.createDataFrame(
        pd.DataFrame({"id": ["a", "b", "z"]}))
    got = {r.id: r.component
           for r in components_with_singletons(e, verts).collect()}
    assert got == {"a": "a", "b": "a", "z": "z"}


def test_fuzzy_linking_merges_typo(spark):
    mentions = spark.createDataFrame(pd.DataFrame(
        {"mention_text": ["hash join", "hash joln", "spark", "zzz qqq"]}))
    dictionary = spark.createDataFrame(pd.DataFrame(
        {"entity": ["hash join", "spark"]}))
    linked = link_mentions(mentions, dictionary).toPandas()
    by_norm = {r.norm: (r.entity, r.method) for r in linked.itertuples()}
    assert by_norm["hash join"] == ("hash join", "exact")
    assert by_norm["hash joln"][0] == "hash join"
    assert by_norm["hash joln"][1] == "jaccard3"
    assert by_norm["spark"] == ("spark", "exact")
    assert by_norm["zzz qqq"][1] == "unlinked"


def _py_tfidf_verdicts(norms, entities, threshold_micro):
    """Pure-Python replica of the TF-IDF tier, per norm: gram_idf_weights
    over the canonical dictionary, BIGINT floor division, best candidate
    by score descending then entity ascending."""
    from nlp_lib_spark.operators.linking import gram_idf_weights, _py_grams
    canon = {}  # entity norm -> min raw entity
    for e in entities:
        n = _py_norm(e)
        canon[n] = min(canon.get(n, e), e)
    weights, w_oov = gram_idf_weights(tuple(canon))
    out = {}
    for n in norms:
        if n in canon:
            out[n] = (canon[n], "exact", 1_000_000)
            continue
        a = set(_py_grams(n))
        a_w = sum(weights.get(g, w_oov) for g in a)
        best = None
        for en, e in canon.items():
            b = set(_py_grams(en))
            if not a & b:
                continue  # no shared gram: never a blocking candidate
            inter = sum(weights[g] for g in a & b)
            b_w = sum(weights[g] for g in b)
            score = (inter * 1_000_000) // (a_w + b_w - inter)
            if score >= threshold_micro and (
                    best is None or (-score, e) < (-best[1], best[0])):
                best = (e, score)
        out[n] = ((best[0], "tfidf3", best[1]) if best
                  else (n, "unlinked", 0))
    return out


def test_tfidf_linking_tiers_and_exact_score(spark):
    """IDF-weighted tier: hand-checked score arithmetic (integer sums +
    one BIGINT floor division — must equal the pure-Python rational),
    and every verdict equal to the pure-Python replica on two input
    sets covering exact, tfidf3, colliding 'US'/'us', a norm shorter
    than 3 characters and unlinked."""
    import math

    from nlp_lib_spark.operators.linking import (gram_idf_weights,
                                                 link_mentions_tfidf,
                                                 _py_grams)
    ents = ("hash join", "table scan", "spark")
    input_sets = [
        (list(ents), ["spark", "join", "zzz qqq", "a"]),
        (["hash join", "table scan", "spark", "shuffle spill",
          "broadcast exchange", "US", "us", "row group"],
         ["spark", "Spark", "join", "tble scan", "shuffle  spill",
          "broadcast exchang", "zzz qqq", "a", "US", "row gruop"]),
    ]
    runs = []
    for entities, texts in input_sets:
        mentions = spark.createDataFrame(
            pd.DataFrame({"mention_text": texts}))
        dictionary = dictionary_frame(spark, entities)
        rows = link_mentions_tfidf(mentions, dictionary,
                                   threshold_micro=200_000).collect()
        got = {r.norm: (r.entity, r.method, r.score_micro) for r in rows}
        assert len(got) == len(rows)  # one verdict per distinct norm
        assert got == _py_tfidf_verdicts({_py_norm(t) for t in texts},
                                         entities, 200_000)
        runs.append(got)
    got, wide = runs
    assert {m for _, m, _ in wide.values()} == {"exact", "tfidf3",
                                                "unlinked"}
    assert wide["us"] == ("US", "exact", 1_000_000)
    assert got["spark"] == ("spark", "exact", 1_000_000)
    assert got["zzz qqq"][1] == "unlinked" and got["zzz qqq"][2] == 0
    assert got["a"][1] == "unlinked"
    ent, method, score = got["join"]
    assert (ent, method) == ("hash join", "tfidf3")
    # independent recomputation of the floor-division score
    weights, w_oov = gram_idf_weights(ents)
    a = sum(weights.get(g, w_oov) for g in _py_grams("join"))
    b = sum(weights[g] for g in _py_grams("hash join"))
    inter = sum(weights[g] for g in set(_py_grams("join"))
                & set(_py_grams("hash join")))
    assert score == (inter * 1_000_000) // (a + b - inter)
    # weight table construction invariants
    n = len(set(ents))
    assert w_oov == int(round(1e6 * math.log((n + 1) / 0.5)))
    assert all(w >= 1 for w in weights.values())


def test_null_dictionary_entries_change_no_verdict(spark):
    """A null dictionary entry is dropped before the TF-IDF tier counts
    its N, so it moves no score; the Jaccard tiers ignore it too."""
    from nlp_lib_spark.operators.linking import (link_mentions_tfidf,
                                                 link_norms,
                                                 normalize_mentions)
    ents = ["hash join", "table scan", "spark", "US"]
    mentions = spark.createDataFrame(pd.DataFrame({"mention_text": [
        "tble scan", "hash joln", "Spark", "us", "zzz qqq", "ab"]}))

    def verdicts(entities):
        d = dictionary_frame(spark, entities)
        return [sorted(tuple(r) for r in df.collect()) for df in (
            link_mentions_tfidf(mentions, d, threshold_micro=200_000),
            link_mentions(mentions, d),
            link_norms(normalize_mentions(mentions), d))]
    base = verdicts(ents)
    assert {r[2] for r in base[0]} == {"exact", "tfidf3", "unlinked"}
    assert {r[3] for r in base[1]} == {"exact", "jaccard3", "unlinked"}
    assert verdicts(ents + [None]) == base
    assert verdicts([None] + ents + [None]) == base


def test_tfidf_all_exact_skips_fuzzy_tier(spark):
    """When every norm matches exactly, the TF-IDF tier returns the exact
    verdicts without building its weight tables: only the dictionary and
    the resolved norms are checkpointed."""
    from nlp_lib_spark.operators.canonicalize import _persistent_ids
    from nlp_lib_spark.operators.linking import link_mentions_tfidf
    mentions = spark.createDataFrame(pd.DataFrame(
        {"mention_text": ["TBK1", "p53", "us"]}))
    dictionary = dictionary_frame(spark, ["tbk1", "p53", "mdm2", "US", "us"])
    before = _persistent_ids(spark.sparkContext)
    rows = link_mentions_tfidf(mentions, dictionary).collect()
    assert len(_persistent_ids(spark.sparkContext) - before) == 2
    assert sorted(tuple(r) for r in rows) == [
        ("p53", "p53", "exact", 1_000_000),
        ("tbk1", "tbk1", "exact", 1_000_000),
        ("us", "US", "exact", 1_000_000)]


def test_tfidf_rare_gram_dominates(spark):
    """The discriminative (rare) gram must outvote ubiquitous ones: a
    mention sharing one rare gram with A scores higher against A than a
    mention sharing one everywhere-gram scores against anything."""
    from nlp_lib_spark.operators.linking import (gram_idf_weights,
                                                 _py_grams)
    ents = ("alpha common", "beta common", "gamma common", "delta zebraq")
    weights, _ = gram_idf_weights(ents)
    # "omm" appears in 3 of 4 entities; "ebr" only in one
    assert weights["ebr"] > weights["omm"]


def test_canonical_map_and_graph(spark):
    mentions = spark.createDataFrame(pd.DataFrame(
        {"mention_text": ["Hash Join", "hash joln", "spark"]}))
    dictionary = spark.createDataFrame(pd.DataFrame(
        {"entity": ["hash join", "spark"]}))
    cmap = canonical_map(mentions, dictionary).toPandas()
    ids = {r.norm: r.entity_id for r in cmap.itertuples()}
    # typo and exact both canonicalize to the same component id
    assert ids["hash join"] == ids["hash joln"] == "hash join"

    triples = spark.createDataFrame(pd.DataFrame(
        [("c1", 0, 0, 1, 2, "Hash Join", "binds", "spark"),
         ("c1", 1, 0, 1, 2, "hash joln", "binds", "spark")],
        columns=["conv_id", "turn_idx", "sent_id", "e1", "e2",
                 "subj", "pred", "obj"]))
    cmap_df = canonical_map(mentions, dictionary)
    nodes, edges = materialize_graph(triples, cmap_df)
    ep = edges.toPandas()
    # the two surface variants collapse into ONE canonical edge, weight 2
    assert len(ep) == 1
    assert ep.iloc[0].weight == 2 and ep.iloc[0].subj_id == "hash join"


def test_colliding_dictionary_norms_one_verdict_per_norm(spark):
    """Two raw dictionary entries that normalize identically ('US'/'us')
    must produce exactly ONE exact-tier verdict per mention norm, with
    the min-entity tiebreak — not duplicate rows (review finding)."""
    from nlp_lib_spark.operators.linking import (link_mentions,
                                                 link_mentions_tfidf)
    mentions = spark.createDataFrame(pd.DataFrame(
        {"mention_text": ["us", "US", "the us"]}))
    dictionary = spark.createDataFrame(pd.DataFrame(
        {"entity": ["US", "us", "the  US"]}))
    # link_mentions keeps one row per input MENTION row
    lp = link_mentions(mentions, dictionary).toPandas()
    assert (lp.groupby("mention_text").size() == 1).all(), lp
    assert set(lp.entity) == {"US", "the  US"}   # min('US', 'us') == 'US'
    assert set(lp.method) == {"exact"}
    # link_mentions_tfidf dedups to one verdict per distinct NORM
    tp = link_mentions_tfidf(mentions, dictionary).toPandas()
    assert (tp.groupby("norm").size() == 1).all(), tp
    by = {r.norm: (r.entity, r.method) for r in tp.itertuples()}
    assert by["us"] == ("US", "exact")
    assert by["the us"] == ("the  US", "exact")


def test_cc_tolerates_null_and_self_edges(spark):
    """A null endpoint or self-loop must be dropped, not crash the
    per-partition union-find worker (review finding)."""
    edges = spark.createDataFrame(pd.DataFrame(
        [("a", "b"), (None, "x"), ("y", None), ("c", "c"), ("b", "c")],
        columns=["u", "v"]))
    comp = connected_components(edges).toPandas()
    labels = {r.id: r.component for r in comp.itertuples()}
    assert labels == {"a": "a", "b": "a", "c": "a"}


def test_cc_frees_superseded_checkpoints(spark):
    """DataFrame.unpersist() is a no-op after localCheckpoint, so CC must
    drop superseded rounds at the RDD layer: after a multi-round run, at
    most ONE checkpoint (the final edge state) may remain resident
    beyond what was persisted before the call (review finding)."""
    from nlp_lib_spark.operators.canonicalize import _persistent_ids
    sc = spark.sparkContext
    # long path graph -> several star rounds even after local contraction
    n = 200
    edges = spark.createDataFrame(pd.DataFrame(
        [(f"v{i:04d}", f"v{i+1:04d}") for i in range(n)],
        columns=["u", "v"])).repartition(8)
    before = _persistent_ids(sc)
    comp = connected_components(edges)
    assert comp.select("component").distinct().count() == 1
    leaked = _persistent_ids(sc) - before
    assert len(leaked) <= 1, leaked


def test_tfidf_distributed_stop_gram_cap(spark):
    """max_gram_df_frac drops ubiquitous grams from BOTH sides: verdicts
    stay one-per-norm with exact hits untouched, and a mention whose only
    shared grams are the capped-out ubiquitous ones goes unlinked."""
    from nlp_lib_spark.operators.linking import link_mentions_tfidf
    # "common" appears in every entity -> its grams df == N get capped;
    # each entity's distinctive head word survives
    ents = [f"{w} common" for w in
            ("alpha", "beta", "gamma", "delta", "zebraq")]
    mentions = spark.createDataFrame(pd.DataFrame({"mention_text": [
        "zebraq common",   # exact
        "zebrak common",   # fuzzy via the rare "zeb"/"ebr" grams
        "wommon",          # shares only capped "common" grams
    ]}))
    dictionary = spark.createDataFrame(pd.DataFrame({"entity": ents}))
    out = {r.norm: (r.entity, r.method)
           for r in link_mentions_tfidf(
               mentions, dictionary, threshold_micro=100_000,
               max_gram_df_frac=0.5).collect()}
    assert len(out) == 3  # one verdict per norm
    assert out["zebraq common"] == ("zebraq common", "exact")
    assert out["zebrak common"] == ("zebraq common", "tfidf3")
    assert out["wommon"][1] == "unlinked"


def _py_norm(s):
    return None if s is None else re.sub(r"\s+", " ", s.lower()).strip()


def _py_verdicts(norms, entities, threshold=0.5):
    """Pure-Python replica of the linking verdict rules, per norm."""
    from nlp_lib_spark.operators.linking import _py_grams
    canon = {}  # entity norm -> min raw entity
    for e in entities:
        n = _py_norm(e)
        canon[n] = min(canon.get(n, e), e)
    out = {}
    for n in norms:
        if n in canon:
            out[n] = (canon[n], "exact", 1.0)
            continue
        best = None
        if n is not None:
            a = set(_py_grams(n))
            for en, e in canon.items():
                b = set(_py_grams(en))
                inter = len(a & b)
                # Spark's round(double, 4) is HALF_UP on the decimal repr
                score = float(Decimal(repr(inter / (len(a) + len(b) - inter)))
                              .quantize(Decimal("0.0001"), ROUND_HALF_UP))
                if score >= threshold and (
                        best is None or (-score, e) < (-best[1], best[0])):
                    best = (e, score)
        out[n] = ((best[0], "jaccard3", best[1]) if best
                  else (n, "unlinked", 0.0))
    return out


def test_linking_matches_python_replica(spark):
    """``canonical_map`` and ``link_mentions`` against a pure-Python
    replica over seeded perturbed mentions: exact hits, case and
    whitespace variants, one-edit typos, junk, short and empty strings,
    a null, colliding dictionary norms and a Jaccard tie."""
    rng = random.Random(17)
    entities = ["hash join", "table scan", "spark", "shuffle spill",
                "broadcast exchange", "row group", "US", "us", "the  US",
                "abcdx", "abcdy", "zq"]
    texts = []
    for _ in range(60):
        e = rng.choice(entities)
        kind = rng.randrange(4)
        if kind == 0:
            texts.append(e)
        elif kind == 1:
            texts.append(e.upper() if rng.random() < 0.5 else e.title())
        elif kind == 2:
            texts.append("  " + e.replace(" ", " \t ") + " ")
        else:
            i = rng.randrange(len(e))
            texts.append(e[:i] + rng.choice("xyz") + e[i + 1:])
    texts += ["".join(rng.choice("jkqw ") for _ in range(rng.randrange(1, 9)))
              for _ in range(10)]
    # a tie (0.5 against abcdx and abcdy), short strings, empty, null
    texts += ["abcde", "ab", "a", "zq", "", None, None, "the us", "US"]
    mentions = spark.createDataFrame(pd.DataFrame(
        {"mention_id": range(len(texts)), "mention_text": texts}))
    dictionary = dictionary_frame(spark, entities)
    exp = _py_verdicts({_py_norm(t) for t in texts}, entities)
    assert exp["abcde"] == ("abcdx", "jaccard3", 0.5)
    assert {m for _, m, _ in exp.values()} == {"exact", "jaccard3",
                                               "unlinked"}

    cmap = canonical_map(mentions, dictionary).collect()
    assert len(cmap) == len(exp)  # one row per distinct norm
    assert {r.norm: (r.method, r.score) for r in cmap} == {
        n: (m, s) for n, (_, m, s) in exp.items()}
    # component = least(entity, min linked norm of that entity)
    label = {}
    for n, (e, m, _) in exp.items():
        if m != "unlinked":
            label[e] = min(label.get(e, n), n)
    assert {r.norm: r.entity_id for r in cmap} == {
        n: (min(e, label[e]) if m != "unlinked" else n)
        for n, (e, m, _) in exp.items()}

    links = link_mentions(mentions, dictionary).collect()
    assert sorted(r.mention_id for r in links) == list(range(len(texts)))
    assert links[0].__fields__ == ["mention_id", "mention_text", "norm",
                                   "entity", "method", "score"]
    for r in links:
        assert _py_norm(r.mention_text) == r.norm
        assert (r.entity, r.method, r.score) == exp[r.norm]


def test_fuzzy_tier_planned_only_for_unmatched_norms(spark):
    """All-exact mentions plan no gram explode and no best-candidate
    window; one typo brings both back and links as jaccard3."""
    dictionary = dictionary_frame(spark, ["hash join", "spark"])

    def cmap_and_plan(texts):
        cm = canonical_map(spark.createDataFrame(
            pd.DataFrame({"mention_text": texts})), dictionary)
        return cm, cm._jdf.queryExecution().optimizedPlan().toString()
    _, plan = cmap_and_plan(["hash join", "Spark", " spark "])
    assert "Generate" not in plan and "row_number" not in plan
    cm, plan = cmap_and_plan(["hash join", "Spark", "hash joln"])
    assert "Generate" in plan and "row_number" in plan
    assert {r.norm: r.method for r in cm.collect()}["hash joln"] == "jaccard3"


def test_cmap_stage_dictionary_is_jvm_local(spark, monkeypatch):
    """The cmap stage hands canonical_map an Arrow-built LocalRelation,
    not a Python-RDD frame that forks Python tasks on every read."""
    from nlp_lib_spark.operators import graph
    from nlp_lib_spark.plans.checkpoint import full_kg_stages

    plans = []
    real = graph.canonical_map

    def capture(mentions, dictionary):
        plans.append(dictionary._jdf.queryExecution().analyzed().toString())
        return real(mentions, dictionary)
    monkeypatch.setattr(graph, "canonical_map", capture)
    stage = next(s for s in full_kg_stages(None, None, ("hash join", "US"))
                 if s.name == "cmap")
    ann = spark.createDataFrame(
        [("c1", 0, 0, ["E1", "E2"], ["Hash Join", "us"])],
        "conv_id string, turn_idx int, sent_id int, "
        "mention_ids array<string>, mention_texts array<string>")
    out = {r.norm: r.entity_id
           for r in stage.fn(spark, {"annotations": ann}).collect()}
    assert out == {"hash join": "hash join", "us": "US"}
    assert len(plans) == 1
    assert "LocalRelation" in plans[0] and "LogicalRDD" not in plans[0]
