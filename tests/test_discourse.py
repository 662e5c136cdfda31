"""Discourse stack: kernels + the cross-turn Arg1 lookback."""

from __future__ import annotations

import pandas as pd

from nlp_lib_spark.fixtures import FIXTURE_CONFIG
from nlp_lib_spark.kernels.discourse import (ConnectiveLexicon, arg2_head,
                                             discourse_for_sentence,
                                             main_head)
from nlp_lib_spark.operators.discourse import (discourse_relations,
                                               hor_edges)
from nlp_lib_spark.operators.extract import annotate_turns, extract_triples

LEX = ConnectiveLexicon()


def test_connective_longest_match_and_consume():
    toks = "they met ; as a result , the deal closed .".split()
    spans = LEX.find(toks)
    assert (3, 5) in spans  # "as a result" (longest match wins over "as"?)
    # single-word connective
    assert LEX.find(["however", ",", "x"]) == [(0, 0)]
    # no connectives
    assert LEX.find(["the", "cat", "sat"]) == []


def test_sense_lookup():
    assert LEX.sense(["because"], (0, 0)) == "Contingency"
    assert LEX.sense(["as", "a", "result"], (0, 2)) == "Contingency"
    assert LEX.sense(["however"], (0, 0)) == "Comparison"


def test_main_head_and_arg2():
    toks = ["however", ",", "the", "complex", "binds", "the", "target", "."]
    pos = ["RB", ",", "DT", "NN", "VBZ", "DT", "NN", "."]
    assert main_head(toks, pos) == 4
    # arg2 head: nearest eligible right of connective
    assert arg2_head(toks, pos, (0, 0)) == 3


def test_arg1_cross_sentence():
    toks = ["however", ",", "the", "complex", "binds", "the", "target", "."]
    pos = ["RB", ",", "DT", "NN", "VBZ", "DT", "NN", "."]
    rels = discourse_for_sentence(toks, pos, [], LEX, prev_heads=[4, 2])
    assert len(rels) == 1
    r = rels[0]
    # sentence-initial connective -> most recent previous sentence head
    assert (r["arg1_offset"], r["arg1_head"]) == (1, 4)
    assert r["sense"] == "Comparison"
    assert r["arg2_head"] == 3


def _fixture_df(spark):
    rows = [
        ("c1", 0, "user", "TagA interacts with GerE .", None, 1),
        ("c1", 1, "assistant",
         "however , cotD binds to p53 .", None, 2),
        ("c2", 0, "user", "p21 activates MyoD .", None, 3),
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                    "tool", "ts_epoch"]))


def test_discourse_window_cross_turn(spark):
    t = _fixture_df(spark)
    ann = annotate_turns(t, FIXTURE_CONFIG)
    disc = discourse_relations(ann).toPandas()
    assert len(disc) == 1
    r = disc.iloc[0]
    assert (r.conv_id, r.turn_idx, r.sent_id) == ("c1", 1, 0)
    # Arg1 resolved to the PREVIOUS TURN
    assert (r.arg1_turn_idx, r.arg1_sent_id) == (0, 0)
    assert r.sense == "Comparison"


def test_hor_edges_cross_turn(spark):
    t = _fixture_df(spark)
    ann = annotate_turns(t, FIXTURE_CONFIG)
    disc = discourse_relations(ann)
    triples = extract_triples(t, FIXTURE_CONFIG)
    h = hor_edges(disc, triples).toPandas()
    assert len(h) == 1
    r = h.iloc[0]
    assert r.arg1_subj == "TagA" and r.arg2_subj == "cotD"
    assert r.src_turn_idx == 0 and r.dst_turn_idx == 1
    assert r.sense == "Comparison"


def _discourse_py(rows):
    import os
    import sys
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.abspath(__file__)), os.pardir, "scripts"))
    from dev_oracle_fuzz import _discourse_py
    return _discourse_py(None, rows, FIXTURE_CONFIG.build())[0]


def test_discourse_conversation_order_guard(spark):
    """Arg1 lookback follows each conversation's (turn_idx, sent_id)
    order whatever the input layout: turns arrive shuffled over several
    input partitions, one conversation spans many Arrow batches, and an
    empty turn and an oversize sentence (dropped by max_sent_tokens)
    sit mid-conversation.  No Arg1 may point into another conversation,
    and the pass keeps its partitions."""
    import random

    from nlp_lib_spark.fixtures import generate_transcripts

    turns, _ = generate_transcripts(n_convs=6, seed=5)
    rows = [t[:5] for t in turns]
    oversize = " ".join(["w"] * (FIXTURE_CONFIG.max_sent_tokens + 5)) + " ."
    for ti in range(14):
        if ti == 4:
            text = ""
        elif ti == 7:
            text = (f"however , TagA binds GerE . {oversize} "
                    "moreover , cotD activates p53 .")
        else:
            text = (f"{'however' if ti % 2 else 'moreover'} , p21 "
                    f"activates MyoD . TagA interacts with GerE .")
        rows.append(("long", ti, "user", text, None))
    # conversations that open on a connective and sort after others:
    # with 5 partitions two of them share one, so a history that leaked
    # across conv_id would hand the later one a foreign Arg1
    rows += [(f"z{i}", 0, "user", "however , p21 activates MyoD .", None)
             for i in range(6)]
    random.Random(3).shuffle(rows)
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                    "tool"])).repartition(5)
    assert df.rdd.getNumPartitions() > 1

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        ann = annotate_turns(df, FIXTURE_CONFIG).localCheckpoint()
        # an explicit partition count: AQE may not coalesce the pass
        n_parts = ann.rdd.getNumPartitions()
        got = sorted(tuple(r) for r in discourse_relations(ann).collect())
        sents = {(r.conv_id, r.turn_idx, r.sent_id)
                 for r in ann.select("conv_id", "turn_idx",
                                     "sent_id").collect()}
    finally:
        spark.conf.set(key, old)

    assert n_parts == df.rdd.getNumPartitions()
    assert sorted(_discourse_py(rows)) == got
    long_rows = [r for r in got if r[0] == "long"]
    assert len(long_rows) == 14  # 13 non-empty turns, turn 7 has two
    # the oversize sentence (7, 1) emits no row: the relation after it
    # resolves its sentence-initial Arg1 to (7, 0); the empty turn 4 is
    # skipped the same way
    assert ("long", 7, 2) in {r[:3] for r in long_rows}
    assert ("long", 7, 1) not in sents
    assert {(r[8], r[9]) for r in long_rows if r[:3] == ("long", 7, 2)} \
        == {(7, 0)}
    assert {(r[8], r[9]) for r in long_rows if r[:3] == ("long", 5, 0)} \
        == {(3, 1)}
    for r in got:
        if r[8] >= 0:
            assert (r[0], r[8], r[9]) in sents
            assert (r[8], r[9]) <= (r[1], r[2])


def test_staged_layers_explode_without_python(spark, tmp_path):
    """triples_from_annotations and discourse_relations over a
    checkpointed annotations table plan no Python and no Window."""
    from nlp_lib_spark.operators.extract import triples_from_annotations

    path = str(tmp_path / "ann")
    annotate_turns(_fixture_df(spark), FIXTURE_CONFIG).write.parquet(path)
    ann = spark.read.parquet(path)
    for df in (triples_from_annotations(ann), discourse_relations(ann)):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Generate" in plan, plan
        for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                     "Window"):
            assert node not in plan, plan
    assert discourse_relations(ann).count() == 1
    assert triples_from_annotations(ann).count() == 3


def test_connective_features_dep_block():
    """PDTBConnective2FeatureVector dependency family: context words/POS,
    CONN& conjunctions, POSTRIPLE over the head's governor, subj flags."""
    from nlp_lib_spark.kernels.connfeatures import (conn_head,
                                                    connective_features)
    from nlp_lib_spark.kernels.depgraph import DepGraph

    toks = ["however", ",", "it", "binds", "quickly"]
    pos = ["RB", ",", "PRP", "VBZ", "RB"]
    # advmod(binds, however), nsubj(binds, it), advmod(binds, quickly)
    g = DepGraph([("advmod", 3, 0), ("nsubj", 3, 2), ("advmod", 3, 4)])
    assert conn_head(pos, 0, 0) == 0
    feats = connective_features(toks, pos, g, 0, 0)
    assert "however" in feats and "LC=however" in feats
    assert "PREVWORD=NONE" in feats and "NXTWORD=," in feats
    assert "CONN&NXTP=however&," in feats
    # parent of the conn head is 'binds'; siblings: it (PRP), quickly (RB)
    assert "POSTRIPLE=RB&VBZ&PRP" in feats
    assert "POSTRIPLE&RELN=RB&VBZ&PRP-nsubj" in feats
    assert "POSTRIPLE'&RELN=R&V-nsubj" in feats
    assert "PSUBJ=true" in feats
    assert "SSUBJ=false" in feats


def test_connective_features_tree_block():
    """Syntax block: unary-climbed SELF, PARENT, modifier-skipping LEFT,
    RIGHT with VP-containment, conn conjunctions, fixed pairs."""
    from nlp_lib_spark.kernels.connfeatures import connective_features
    from nlp_lib_spark.kernels.depgraph import DepGraph
    from nlp_lib_spark.kernels.tree import parse_penn

    # (S (ADVP (RB however)) (, ,) (NP (PRP it)) (VP (VBZ binds)))
    tree = parse_penn(
        "(S (ADVP (RB however)) (, ,) (NP (PRP it)) (VP (VBZ binds)))")
    toks = ["however", ",", "it", "binds"]
    pos = ["RB", ",", "PRP", "VBZ"]
    g = DepGraph([("advmod", 3, 0), ("nsubj", 3, 2)])
    feats = connective_features(toks, pos, g, 0, 0, tree=tree)
    # RB climbs its unary ADVP parent (java:288-291)
    assert "SELF=ADVP" in feats
    assert "PARENT=S" in feats
    assert "LEFT@-1-<NONE>" in feats
    assert "however&SELF=ADVP" in feats
    assert "SELF=ADVP&PARENT=S" in feats
    # right sibling of ADVP is ','
    assert any(f.startswith("RIGHT@+1-,") for f in feats)


# ---------------------------------------------------------------- CRF family
def _marker_corpus(n=80, seed=4):
    """Synthetic DIS_CON-style B/I/O task: multi-word connectives from a
    fixed lexicon are the positive spans."""
    import random
    rng = random.Random(seed)
    conns = [["however"], ["moreover"], ["on", "the", "other", "hand"],
             ["as", "a", "result"]]
    fillers = "the spark table binds value stream row window query".split()
    data = []
    for _ in range(n):
        toks, tags = [], []
        for _w in range(rng.randrange(3, 7)):
            toks.append(rng.choice(fillers)); tags.append("O")
        if rng.random() < 0.85:
            c = rng.choice(conns)
            toks.extend(c)
            tags.extend(["B-DIS_CON"] + ["I-DIS_CON"] * (len(c) - 1))
        for _w in range(rng.randrange(2, 6)):
            toks.append(rng.choice(fillers)); tags.append("O")
        pos = ["NN"] * len(toks)
        data.append(((toks, pos), tags))
    return data


def test_viterbi_matches_bruteforce():
    import itertools

    from nlp_lib_spark.kernels.crf import (_emit_key, _trans_key, START,
                                           position_features, viterbi)
    tokens = ["a", "b", "a", "c"]
    pos = ["X", "Y", "X", "Z"]
    tags = ["O", "B"]
    # deterministic synthetic weights (seeded — hash() is salted per run)
    import random as _random
    rng = _random.Random(17)
    w = {}
    for t in tags:
        for i in range(len(tokens)):
            for f in position_features(tokens, pos, i):
                w[_emit_key(t, f)] = (rng.randrange(7) - 3) * 0.5
    for p in [START] + tags:
        for t in tags:
            w[_trans_key(p, t)] = (rng.randrange(5) - 2) * 0.25

    def seq_score(seq):
        s = 0.0
        prev = START
        for i, t in enumerate(seq):
            s += sum(w.get(_emit_key(t, f), 0.0)
                     for f in position_features(tokens, pos, i))
            s += w.get(_trans_key(prev, t), 0.0)
            prev = t
        return s

    best = max(itertools.product(tags, repeat=len(tokens)),
               key=lambda seq: (seq_score(seq),
                                tuple(-ord(t[0]) for t in seq)))
    got = viterbi(tokens, pos, tags, w)
    assert seq_score(tuple(got)) == seq_score(best)


def test_crf_trains_discourse_marker_tagging():
    from nlp_lib_spark.kernels.crf import train_perceptron, viterbi, tagset_of
    data = _marker_corpus(n=80, seed=4)
    heldout = _marker_corpus(n=30, seed=99)
    x = [d[0] for d in data]
    y = [d[1] for d in data]
    w = train_perceptron(x, y)
    assert w == train_perceptron(x, y)  # deterministic
    tags = tagset_of(w)
    assert set(tags) == {"O", "B-DIS_CON", "I-DIS_CON"}
    n_tok = n_ok = 0
    for (toks, pos), gold in heldout:
        pred = viterbi(toks, pos, tags, w)
        n_tok += len(gold)
        n_ok += sum(1 for a, b in zip(pred, gold) if a == b)
    assert n_ok / n_tok >= 0.97, n_ok / n_tok


def test_crf_annotate_distributed_matches_kernel(spark):
    import pandas as pd

    from nlp_lib_spark.kernels.crf import train_perceptron, viterbi, tagset_of
    from nlp_lib_spark.operators.seqtag import crf_annotate
    data = _marker_corpus(n=40, seed=11)
    w = train_perceptron([d[0] for d in data], [d[1] for d in data])
    tags = tagset_of(w)
    rows = [{"conv_id": f"c{i%5}", "turn_idx": i // 5, "sent_id": 0,
             "blinded": d[0][0], "pos": d[0][1]}
            for i, d in enumerate(data)]
    ann = spark.createDataFrame(pd.DataFrame(rows))
    out = {(r.conv_id, r.turn_idx): list(r.tags)
           for r in crf_annotate(ann, w).collect()}
    for i, d in enumerate(data):
        key = (f"c{i%5}", i // 5)
        assert out[key] == viterbi(d[0][0], d[0][1], tags, w)


def test_sense_features_golden():
    """Hand-worked golden for the sense-classifier pipe's four active
    families (PDTBConnectiveSense2FeatureVector.java:65-103), in exact
    emission order."""
    from nlp_lib_spark.kernels.connfeatures import sense_features
    from nlp_lib_spark.kernels.constit import build_tree
    from nlp_lib_spark.kernels.tree import parse_penn

    toks = ["moreover", ",", "the", "dog", "runs", "."]
    pos = ["RB", ",", "DT", "NN", "VBZ", "."]
    tree = parse_penn(build_tree(toks, pos))
    # tree: (S (RB moreover) (, ,) (NP (DT the) (NN dog)) (VP (VBZ runs)) (. .))
    got = sense_features(toks, pos, tree, 0, 0, 4, "Expansion")
    assert got == [
        "moreover",                       # identity (raw conn string)
        "SELF=RB", "moreover&SELF=RB",    # Penn block, interleaved
        "PARENT=S", "moreover&PARENT=S",
        "LEFT@-1-<NONE>", "moreover&LEFT@-1-<NONE>",
        "RIGHT@+1-,", "moreover&RIGHT@+1-,",
        "RIGHT@+1-has-no-VP", "moreover&RIGHT@+1-has-no-VP",
        "CAT=Expansion",
        "CONN&PREVW=moreover&NONE", "CONN&PREV-CHUNK=NONE",
        "CONN&NEXTW=moreover&,", "CONN&NEXT-CHUNK=,",
        "CONN=moreover&HEAD_POS=VBZ", "HEAD=runs",
    ]


def test_sense_features_chunk_internal_and_vp():
    """Single-token connective INSIDE a chunk: SELF = its preterminal,
    PARENT = the chunk, siblings = neighbor preterminals; right sibling
    VP chunk at S level flags has-VP; no NEXT else-branch at sentence
    end (reference emits nothing there)."""
    from nlp_lib_spark.kernels.connfeatures import sense_features
    from nlp_lib_spark.kernels.constit import build_tree
    from nlp_lib_spark.kernels.tree import parse_penn

    toks = ["if", "results", "hold"]
    pos = ["IN", "NNS", "VBP"]
    # (S (IN if) (NP (NNS results)) (VP (VBP hold)))
    tree = parse_penn(build_tree(toks, pos))
    got = sense_features(toks, pos, tree, 0, 0, 2, "Contingency")
    assert "SELF=IN" in got and "PARENT=S" in got
    assert "RIGHT@+1-NP" in got and "RIGHT@+1-has-no-VP" in got
    # sentence-initial: PREVW NONE branch; last-token NEXT exists here
    assert "CONN&PREVW=if&NONE" in got
    assert "CONN&NEXTW=if&results" in got and "CONN&NEXT-CHUNK=N" in got
    assert got[-2:] == ["CONN=if&HEAD_POS=VBP", "HEAD=hold"]
    # connective at the LAST token -> no NEXT features at all
    got2 = sense_features(toks, pos, tree, 2, 2, 1, "Contingency")
    assert not any(f.startswith("CONN&NEXT") for f in got2)
    # right sibling of (NP results)'s... the VP chunk flags has-VP
    got3 = sense_features(toks, pos, tree, 1, 1, 2, "Contingency")
    assert "SELF=NNS" not in got3  # span==whole NP chunk -> SELF=NP
    assert "SELF=NP" in got3
    assert "RIGHT@+1-VP" in got3 and "RIGHT@+1-has-VP" in got3


def test_sense_features_duplicate_sibling_identity():
    """Two structurally identical leaves at the same tree level must
    resolve siblings by IDENTITY, not equality (fuzz seed 404: the
    second 'however' picked up the first one's neighbors)."""
    from nlp_lib_spark.kernels.connfeatures import sense_features
    from nlp_lib_spark.kernels.constit import build_tree
    from nlp_lib_spark.kernels.tree import parse_penn

    toks = ["however", ",", "the", "x", "however", "runs", "."]
    pos = ["RB", ",", "DT", "NN", "RB", "VBZ", "."]
    tree = parse_penn(build_tree(toks, pos))
    # second 'however' (idx 4): left sibling is the NP, right the VP
    got = sense_features(toks, pos, tree, 4, 4, 5, "Comparison")
    assert "LEFT@-1-NP" in got
    assert "RIGHT@+1-VP" in got and "RIGHT@+1-has-VP" in got


def test_connective_features_v2_golden():
    """Variant-2 pipe families (ml/PDTBConnective2FeatureVector2.java
    active blocks) — golden on a built tree."""
    from nlp_lib_spark.kernels.connfeatures import connective_features_v2
    from nlp_lib_spark.kernels.constit import build_tree
    from nlp_lib_spark.kernels.postag import pos_tag
    from nlp_lib_spark.kernels.tree import parse_penn

    toks = "and then the cell responds".split()
    pos = pos_tag(toks)
    tree = parse_penn(build_tree(toks, pos))
    got = connective_features_v2(toks, pos, tree, 1, 1, "Temporal")
    # identity pair leads
    assert got[:2] == ["then", "LC=then"]
    # Penn block plain+conjoined interleave
    i = got.index("SELF=RB")
    assert got[i + 1] == "then&SELF=RB"
    # the variant-2-only PARENT&RIGHT_VP conjunction
    assert "PARENT=S&RIGHT@+1-has-no-VP" in got
    # custom block: raw-word PREVW, tree-conn conjunctions, FULL chunk tag
    assert "PREVW=and" in got and "CONN&PREVW=then&and" in got
    assert "CONN&PREV-CHUNK=then&S" in got      # O token -> ancestor(2)=S
    assert "CONN&NEXT-CHUNK=then&NP" in got     # full tag, no truncation
    # Collins head of the right S-sibling (NP the cell responds -> NN)
    assert "Temporal&RIGHT-HEAD@1=NN" in got
    # surface block: POS-based PREVW and single-char chunks
    assert "CONN&PREVW=then&CC" in got
    assert got[-1] == "CONN&NEXT-CHUNK=N"
    # CAT emitted by BOTH custom and surface blocks
    assert sum(1 for f in got if f == "CAT=Temporal") == 2


def test_connective_features_v2_gold_tree_anc():
    """ANC@k fires only for ancestors at distance > 2 — dead on depth-3
    built trees, live on deeper gold trees (java:228-234)."""
    from nlp_lib_spark.kernels.connfeatures import connective_features_v2
    from nlp_lib_spark.kernels.tree import parse_penn

    deep = ("(ROOT (S (NP (NN x)) (VP (VBZ says) (SBAR (IN that) "
            "(S (NP (NN y)) (VP (VBZ runs)))))))")
    tree = parse_penn(deep)
    toks = ["x", "says", "that", "y", "runs"]
    pos = ["NN", "VBZ", "IN", "NN", "VBZ"]
    # 'that' (idx 2): LCA = preterminal IN under SBAR; path ROOT-S-VP-SBAR-IN
    got = connective_features_v2(toks, pos, tree, 2, 2, "Contingency")
    assert "ANC@4=S" in got and "ANC@3=VP" in got
    assert not any(f.startswith("ANC@2") or f.startswith("ANC@1")
                   for f in got)
    # right sibling of the IN preterminal inside SBAR is the embedded S;
    # its Collins head leaf is the VBZ preterminal of 'runs'
    assert "Contingency&RIGHT-HEAD@1=VBZ" in got


def test_connective_features_v2_edge_spans():
    from nlp_lib_spark.kernels.connfeatures import connective_features_v2
    from nlp_lib_spark.kernels.constit import build_tree
    from nlp_lib_spark.kernels.postag import pos_tag
    from nlp_lib_spark.kernels.tree import parse_penn

    toks = "however the results hold".split()
    pos = pos_tag(toks)
    tree = parse_penn(build_tree(toks, pos))
    # sentence-initial connective: PREVW NONE branches, NO custom
    # PREV-CHUNK feature (the reference's else branch omits it)
    got = connective_features_v2(toks, pos, tree, 0, 0, "Comparison")
    assert "PREVW=NONE" in got and "CONN&PREVW=however&NONE" in got
    assert not any(f.startswith("CONN&PREV-CHUNK=however&") for f in got)
    assert "CONN&PREV-CHUNK=NONE" in got  # surface block DOES emit NONE
    # connective at the last token: no NEXT features anywhere
    got2 = connective_features_v2(toks, pos, tree, 3, 3, "Expansion")
    assert not any("NEXT" in f for f in got2)
