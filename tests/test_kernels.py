"""Golden unit tests for the per-sentence kernels (hand-verified expectations)."""

from __future__ import annotations

from nlp_lib_spark.kernels import (DepGraph, DomainAnnotator, Gazetteer,
                                   blind, simplify, stem, tokenize)
from nlp_lib_spark.kernels.postag import pos_tag
from nlp_lib_spark.kernels.rules import predict_interactions
from nlp_lib_spark.kernels.text import split_sentences, strip_citations


def test_strip_citations():
    # bracket removed verbatim (reference replaceAll leaves the two spaces)
    assert strip_citations("x [12, 3] y [ 4 ; 5-6 ] z") == "x  y  z"
    assert strip_citations("keep [a1] this") == "keep [a1] this"


def test_split_sentences():
    assert split_sentences("a b . c d ! e") == ["a b .", "c d !", "e"]
    assert split_sentences("one... two") == ["one...", "two"]
    assert split_sentences("") == []


def test_tokenize():
    assert tokenize("the p53/p21 complex ( see bcl-2 ) .") == \
        ["the", "p53/p21", "complex", "(", "see", "bcl-2", ")", "."]
    assert tokenize("don't split-this") == ["don't", "split-this"]


def test_stem():
    assert stem("activates") == stem("activate") == "activat"
    assert stem("binding") == stem("binds") == "bind"
    assert stem("interaction") == "interact"


def test_gazetteer_prefix_extension():
    g = Gazetteer(["raf kinase inhibitor", "p53"])
    # full 3-word match
    assert g.tag_iob(["the", "raf", "kinase", "inhibitor", "acts"]) == \
        ["O", "B-PROTEIN", "I-PROTEIN", "I-PROTEIN", "O"]
    # prefix over-generation: bare first word still B-matches (reference
    # EntityLexicon builds a prefix set, WBioRelEx.java:431-444)
    tags = g.tag_iob(["raf", "binds", "p53"])
    assert tags[0] == "B-PROTEIN"
    # the consume quirk: the failing extension token is emitted O and the
    # scan resumes AFTER it (i = j in the reference loop) — "binds" consumed
    assert tags == ["B-PROTEIN", "O", "B-PROTEIN"]
    # back-to-back entity after a match is still found
    g2 = Gazetteer(["a b", "c"])
    assert g2.tag_iob(["a", "b", "x", "c"]) == \
        ["B-PROTEIN", "I-PROTEIN", "O", "B-PROTEIN"]


def test_gazetteer_consume_quirk_swallows_entity():
    # faithful reference behavior: entity token right after a failed
    # extension is swallowed as O
    g = Gazetteer(["a", "c"])
    assert g.tag_iob(["a", "c", "x"]) == ["B-PROTEIN", "O", "O"]


def test_fused_token():
    g = Gazetteer(["p53", "p21"])
    assert g.tag_iob(["the", "p53/p21", "complex"]) == ["O", "B-FUSED", "O"]


def test_blind():
    tokens = ["the", "raf", "kinase", "binds", "p53", "."]
    tags = ["O", "B-PROTEIN", "I-PROTEIN", "O", "B-PROTEIN", "O"]
    blinded, mapping, count = blind(tokens, tags)
    assert blinded == ["the", "PROTEIN0", "binds", "PROTEIN1", "."]
    assert mapping == {"PROTEIN0": "raf kinase", "PROTEIN1": "p53"}
    assert count == 2


def test_blind_fused():
    blinded, mapping, count = blind(["p53/p21", "complex"], ["B-FUSED", "O"])
    assert blinded == ["PROTEIN0/PROTEIN1", "complex"]
    assert mapping == {"PROTEIN0": "p53", "PROTEIN1": "p21"}
    assert count == 2


def test_simplify():
    # paren span without PROTEIN dropped, with PROTEIN kept
    assert simplify(["a", "(", "x", "y", ")", "b"]) == ["a", "b"]
    assert simplify(["a", "(", "PROTEIN0", ")", "b"]) == \
        ["a", "(", "PROTEIN0", ")", "b"]
    # unclosed paren without protein drops to end
    assert simplify(["a", "(", "x", "y"]) == ["a"]


def test_domain_annotator():
    d = DomainAnnotator(["interact", "bind"])
    got = d.tag(["interacts", "binding", "cross-binding", "table"])
    assert got == ["interact", "bind", "bind", None]


def test_depgraph_paths():
    g = DepGraph([("nsubj", 2, 0), ("prep_with", 2, 4), ("det", 4, 3)])
    assert g.path_labels(0, 4) == ["-nsubj", "prep_with"]
    assert g.path_labels(0, 0) == []
    assert g.path_labels(0, 5) is None
    assert [e[0] for e in g.gov_edges(2, r"prep.*")] == ["prep_with"]
    assert g.parent(0) == 2


def _run_rules(sentence_tokens, entities, domain_terms):
    from nlp_lib_spark.kernels.depparse import dep_parse
    from nlp_lib_spark.kernels.stem import stem as _stem
    d = DomainAnnotator(domain_terms)
    pos = pos_tag(sentence_tokens, frozenset(_stem(t) for t in domain_terms))
    dom = d.tag(sentence_tokens)
    edges = dep_parse(sentence_tokens, pos)
    return predict_interactions(sentence_tokens, pos, dom, edges)


def test_rule1_svo():
    pairs = _run_rules(
        ["the", "PROTEIN0", "interacts", "with", "the", "PROTEIN1", "."],
        [], ["interact"])
    assert (1, 5) in pairs


def test_rule1_negation_blocks():
    pairs = _run_rules(
        ["the", "PROTEIN0", "does", "not", "regulate", "the", "PROTEIN1", "."],
        [], ["regulate"])
    assert pairs == set()


def test_rule2_nominal_prep_chain():
    pairs = _run_rules(
        ["interaction", "of", "PROTEIN0", "with", "PROTEIN1", ".",],
        [], ["interaction", "interact"])
    assert (2, 4) in pairs


def test_rule3_between():
    pairs = _run_rules(
        ["the", "association", "between", "PROTEIN0", "and", "PROTEIN1",
         "suggests", "binding", "."],
        [], ["association", "bind"])
    assert (3, 5) in pairs


def test_rule5_fused():
    pairs = _run_rules(
        ["the", "PROTEIN0/PROTEIN1", "interaction", "was", "strong", "."],
        [], ["interaction", "interact"])
    assert (1, 1) in pairs


def test_domain_pos_specific_terms():
    # ExBioDomainAnnotator variant: 'term|POS' matches only that POS family
    d = DomainAnnotator(["interact", "sort|VB"])
    assert d.tag(["sorts", "sort", "interaction"], ["VBZ", "NN", "NN"]) == \
        ["sort", None, "interact"]
    assert d.tag(["sorts"], ["NNS"]) == [None]


def test_lex_annotator_longest_match_and_hyphen_quirk():
    from nlp_lib_spark.kernels.lexann import LexAnnotator
    lex = LexAnnotator(["sigma factor", "GerE", "spoIIID"])
    # longest match wins and the scan resumes past the span
    assert lex.annotate(["the", "Sigma", "factor", "binds"]) == \
        ["O", "B", "I", "O"]
    assert lex.annotate(["GerE", "and", "spoIIID"]) == ["B", "O", "B"]
    # hyphen quirk: 'GerE-dependent' strips at the last hyphen, matches
    # 'GerE', and the FULL token still carries the B tag (java:79-84)
    assert lex.annotate(["GerE-dependent", "genes"]) == ["B", "O"]
    # two-token phrase whose last token is hyphenated
    assert lex.annotate(["sigma", "factor-like", "protein"]) == \
        ["B", "I", "O"]


def test_lex_syn_annotator():
    from nlp_lib_spark.kernels.lexann import LexSynAnnotator
    lines = ["% comment", "", "sigma K\tsigK\tSigK factor"]
    lex = LexSynAnnotator(lines)
    assert lex.annotate(["SigK", "binds"]) == ["B", "O"]
    assert lex.has_synonym("sigk") == "sigma K"
    assert lex.has_synonym("SIGK FACTOR") == "sigma K"
    assert lex.has_synonym("sigma K") is None  # canonical maps to nothing


def test_ex_domain_annotator_pos_specific_terms():
    """ExBioDomainAnnotator variant: `term|POS` entries match only tokens
    whose POS starts with the tag."""
    from nlp_lib_spark.kernels.domain import DomainAnnotator
    d = DomainAnnotator(["bind", "complex|NN"])
    toks = ["complex", "complex", "binds"]
    pos = ["NN", "JJ", "VBZ"]
    tags = d.tag(toks, pos)
    assert tags[0] == "complex"   # NN matches the |NN restriction
    assert tags[1] is None        # JJ does not
    assert tags[2] == "bind"      # plain entry matches any POS (stemmed)
    # without a POS layer the restricted entry never fires
    assert d.tag(toks)[0] is None


def test_gazetteer_matches_verbatim_reference_scan():
    """Seeded fuzz: Gazetteer.tag_iob equals a verbatim transliteration
    of EntityLexicon.tagIOB (WBioRelEx.java:446-476) — including the
    consume quirk (the token after a span gets O and the scan resumes
    past it: `i = j` then loop i++) and prefix-set extension."""
    import random

    from nlp_lib_spark.kernels.gazetteer import Gazetteer

    def reference_tag_iob(token_set, tokens):
        tags = [None] * len(tokens)
        i = 0
        while i < len(tokens):
            word = tokens[i].lower()
            if word in token_set:
                tags[i] = "B-PROTEIN"
                j = i + 1
                while j < len(tokens):
                    word = word + " " + tokens[j].lower()
                    if word in token_set:
                        tags[j] = "I-PROTEIN"
                        j += 1
                    else:
                        tags[j] = "O"
                        break
                i = j + 1  # java: i = j, then for-loop i++
            else:
                tags[i] = "O"
                i += 1
        return ["O" if t is None else t for t in tags]

    entities = ["hash join", "table", "table scan", "row group", "spark"]
    token_set = set()
    for e in entities:
        parts = e.lower().split()
        w = parts[0]
        token_set.add(w)
        for p in parts[1:]:
            w = w + " " + p
            token_set.add(w)

    gaz = Gazetteer(entities)
    rng = random.Random(99)
    vocab = ["hash", "join", "table", "scan", "row", "group", "spark",
             "the", "reads", "a", ".", "data"]
    for _ in range(2000):
        toks = [rng.choice(vocab) for _ in range(rng.randint(0, 12))]
        got = gaz.tag_iob(toks)
        exp = reference_tag_iob(token_set, toks)
        # our gazetteer adds the B-FUSED branch the reference lacks;
        # none of these tokens contain '/', so outputs must be equal
        assert got == exp, (toks, got, exp)


def test_blind_matches_verbatim_prepare():
    """Seeded fuzz: blind() equals a verbatim transliteration of
    WBioRelEx.prepare (java:248-284) — B- spans blinded to PROTEIN<k>
    with surface map, trailing I- tokens consumed, orphan I- tokens
    passed through as plain words."""
    import random

    from nlp_lib_spark.kernels.blind import blind

    def reference_prepare(tokens, tags):
        out, mapping, count, entity_count = [], {}, 0, 0
        i, n = 0, len(tokens)
        while i < n:
            if not tags[i].startswith("B-"):
                out.append(tokens[i])
                i += 1
            else:
                entity_count += 1
                out.append("PROTEIN%d" % count)
                surface = [tokens[i]]
                j = i + 1
                while j < n and tags[j].startswith("I-"):
                    surface.append(tokens[j])
                    j += 1
                i = j
                mapping["PROTEIN%d" % count] = " ".join(surface)
                count += 1
        return out, mapping, entity_count

    rng = random.Random(5)
    for _ in range(1500):
        n = rng.randint(0, 10)
        toks = [rng.choice(["alpha", "beta", "gamma", "x", "y"])
                for _ in range(n)]
        tags = [rng.choice(["O", "B-PROTEIN", "I-PROTEIN"])
                for _ in range(n)]
        assert blind(toks, tags) == reference_prepare(toks, tags), \
            (toks, tags)


def test_simplify_matches_verbatim_reference():
    """Seeded fuzz: simplify() equals a verbatim transliteration of
    WBioRelEx.simplify (java:103-128) incl. unclosed-paren truncation
    and kept-paren rescanning."""
    import random

    from nlp_lib_spark.kernels.simplify import simplify

    def reference_simplify(tokens):
        out = []
        i = 0
        while i < len(tokens):
            if tokens[i] == "(":
                found = False
                end = len(tokens) - 1
                for j in range(i + 1, len(tokens)):
                    if tokens[j] == ")":
                        end = j
                        break
                    if "PROTEIN" in tokens[j]:
                        found = True
                if not found:
                    i = end  # java: i = end, then loop i++
                else:
                    out.append(tokens[i])
            else:
                out.append(tokens[i])
            i += 1
        return out

    rng = random.Random(13)
    vocab = ["(", ")", "PROTEIN0", "PROTEIN1", "word", "x", ","]
    for _ in range(3000):
        toks = [rng.choice(vocab) for _ in range(rng.randint(0, 12))]
        assert simplify(toks) == reference_simplify(toks), toks


def test_rule5_matches_verbatim_reference():
    """Seeded fuzz: rule5 equals a verbatim transliteration of
    RelexRule5.findRelations (java:19-42): fused-token self-pairs via a
    DOMAIN right-neighbor or a DOMAIN nn/amod/abbrev/appos governor."""
    import random
    import re

    from nlp_lib_spark.kernels.depgraph import DepGraph
    from nlp_lib_spark.kernels.rules import Sent, rule5

    pat = re.compile(r"PROTEIN[0-9]+.*PROTEIN[0-9]+")

    def reference_rule5(tokens, domain, edges):
        by_dep = {}
        for (reln, gov, dep) in edges:
            by_dep.setdefault(dep, []).append((reln, gov))
        out = set()
        for i in range(len(tokens)):
            if "PROTEIN" in tokens[i] and i < len(tokens) - 1:
                if pat.fullmatch(tokens[i]) and domain[i + 1] is not None:
                    out.add((i, i))
                elif pat.fullmatch(tokens[i]):
                    for (reln, gov) in by_dep.get(i, []):
                        if re.fullmatch(r"nn|amod|abbrev|appos", reln) \
                                and domain[gov] is not None:
                            out.add((i, i))
                            break
        return out

    rng = random.Random(23)
    vocab = ["PROTEIN0", "PROTEIN1", "PROTEIN0/PROTEIN1", "binds", "x"]
    relns = ["nn", "amod", "appos", "dobj", "abbrev"]
    for _ in range(2000):
        n = rng.randint(2, 8)
        toks = [rng.choice(vocab) for _ in range(n)]
        dom = ["bind" if rng.random() < 0.3 else None for _ in range(n)]
        edges = [(rng.choice(relns), rng.randrange(n), rng.randrange(n))
                 for _ in range(rng.randint(0, 5))]
        edges = [e for e in edges if e[1] != e[2]]
        s = Sent(toks, ["NN"] * n, dom)
        assert rule5(s, DepGraph(edges)) == \
            reference_rule5(toks, dom, edges), (toks, dom, edges)


def test_kgconfig_rejects_corrupting_input():
    """A bare string lexicon would be iterated as characters (a one-letter
    gazetteer), and a bound below 1 drops every sentence or pair."""
    import pytest

    from nlp_lib_spark.kernels.pipeline import KGConfig

    ok = KGConfig(entity_names=("p53",), domain_terms=("bind",))
    assert ok.build().max_sent_tokens == 256
    with pytest.raises(TypeError, match="entity_names"):
        KGConfig(entity_names="p53", domain_terms=("bind",))
    with pytest.raises(TypeError, match="domain_terms"):
        KGConfig(entity_names=("p53",), domain_terms="bind")
    for field in ("max_sent_tokens", "max_mentions"):
        for bad in (0, -3):
            with pytest.raises(ValueError, match=field):
                KGConfig(entity_names=("p53",), domain_terms=("bind",),
                         **{field: bad})
    assert KGConfig(entity_names=("p53",), domain_terms=("bind",),
                    max_sent_tokens=1, max_mentions=1).max_mentions == 1


def test_depgraph_matches_linear_scan_replica():
    """Seeded fuzz: every DepGraph query equals a plain linear-scan replica
    over the edge list (no index, regex per edge), with the same
    tie-breaks: edge-list order for edge selections, ascending
    (node, label) neighbour order for the undirected BFS, ascending
    (node, label) for the directed one.  Graphs carry cycles, duplicate
    edges, self-loops and isolated tokens, with relns drawn from every
    pattern the shipped rules use."""
    import random
    import re
    from collections import deque

    from nlp_lib_spark.kernels import rules as R

    def sel(edges, pattern, key, node):
        return [e for e in edges if (node is None or e[key] == node)
                and (pattern is None or re.fullmatch(pattern, e[0]))]

    def neighbours(edges, v, directed):
        out = [(d, r) for (r, g, d) in edges if g == v]
        if not directed:
            out += [(g, "-" + r) for (r, g, d) in edges if d == v]
        return sorted(out)

    def bfs_prev(edges, src, dst, directed):
        prev = {src: (-1, "")}
        q = deque([src])
        while q:
            v = q.popleft()
            if directed and v == dst:
                break
            for nxt, lab in neighbours(edges, v, directed):
                if nxt not in prev:
                    prev[nxt] = (v, lab)
                    q.append(nxt)
        return prev

    def path(edges, src, dst, directed):
        if src == dst:
            return []
        prev = bfs_prev(edges, src, dst, directed)
        if dst not in prev:
            return None
        out, v = [], dst
        while v != src:
            p, lab = prev[v]
            out.append((lab[1:], v, p) if lab.startswith("-") else (lab, p, v))
            v = p
        return out[::-1]

    def labels(edges, src, dst):
        p = path(edges, src, dst, False)
        if p is None:
            return None
        out, v = [], src
        for (r, g, d) in p:
            out.append(r if g == v else "-" + r)
            v = d if g == v else g
        return out

    def parent(edges, v):
        return next((g for (r, g, d) in edges if d == v), -1)

    def root_path(edges, x):
        out, seen = [x], {x}
        while True:
            p = parent(edges, out[-1])
            if p == -1 or p in seen:
                return out
            out.append(p)
            seen.add(p)

    def lcs(edges, a, b):
        pb = set(root_path(edges, b))
        return next((n for n in root_path(edges, a) if n in pb), -1)

    def reach(edges, src, directed, max_dist, skip):
        # the skip test strips every leading "-" (the reverse-direction
        # marker), so a reln spelled "-nn" is skipped as "nn"
        kept = [e for e in edges
                if skip is None or not re.fullmatch(skip, e[0].lstrip("-"))]
        dist = {src: 0}
        q = deque([src])
        while q:
            v = q.popleft()
            if dist[v] == max_dist:
                continue
            for nxt, _ in neighbours(kept, v, directed):
                if nxt not in dist:
                    dist[nxt] = dist[v] + 1
                    q.append(nxt)
        return set(dist) - {src}

    patterns = [R._R1_PATH, R._R1_AGENT_NP, R._R1_TARGET_NP, R._R1_RCHEAD,
                R._R2_PREP, R._R2_NP, R._R3_REACH, R._FORM3_REACH,
                r"nsubj|nsubjpass", r"prep.*|partmod", r"prep.*|agent|dobj|dep",
                r"prep.*|agent|dobj", r"prep_(of|from|like|including|in)",
                r".*obj|prep.*", r"conj.*", r"neg", r"rcmod", r"partmod",
                r"appos", r"nn|amod|advmod"]
    relns = ["dep", "agent", "xcomp", "ccomp", "dobj", "iobj", "advcl",
             "infmod", "partmod", "rcmod", "prep_of", "prep_by", "prep_with",
             "prep_between", "prep_from", "prep_like", "prep_including",
             "prep_in", "prepc_as", "abbrev", "parataxis", "nn", "amod",
             "advmod", "appos", "conj_and", "conj", "neg", "nsubj",
             "nsubjpass", "det", "num", "-nn", "xneg", "conj\nx"]
    rng = random.Random(61)
    for _ in range(300):
        n = rng.randint(1, 9)
        edges = []
        for _ in range(rng.randint(0, 12)):
            a = rng.randrange(n)
            b = a if rng.random() < 0.1 else rng.randrange(n)
            edges.append((rng.choice(relns), a, b))
        if edges and rng.random() < 0.3:
            edges.append(rng.choice(edges))
        g = DepGraph(edges)
        nodes = range(-1, n + 1)   # n - 1 may be isolated; -1, n never occur
        for pat in [None] + patterns:
            for v in nodes:
                assert g.gov_edges(v, pat) == sel(edges, pat, 1, v)
                assert g.dep_edges(v, pat) == sel(edges, pat, 2, v)
            if pat is not None:
                assert g.edges_matching(pat) == sel(edges, pat, 1, None)
        for v in nodes:
            assert g.parent(v) == parent(edges, v)
        for a in range(n):
            for b in range(n):
                assert g.path_labels(a, b) == labels(edges, a, b)
                assert g.path_edges(a, b) == path(edges, a, b, False)
                assert g.path_edges(a, b, directed=True) == \
                    path(edges, a, b, True)
                assert g.lcs(a, b) == lcs(edges, a, b)
            for d in (0, 1, 3, 100):
                for skip in (None, r"nn|amod", r"prep.*", r"neg"):
                    for directed in (True, False):
                        assert g.reachable(a, directed, d, skip) == \
                            reach(edges, a, directed, d, skip), \
                            (edges, a, directed, d, skip)
