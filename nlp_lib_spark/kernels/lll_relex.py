"""Legacy LLL RelEx (``relx/Relex.java``) — the three-type rule extractor.

Faithful re-expression of the LLL-challenge pipeline's rule engine
(``relx/Relex.java:33-567``), which predates the PPI RelexRule1-5 family:

* **Type1** (java:58-104): DFS from each ``nsubj|nsubjpass`` governor over
  every edge whose label is NOT in the exclusion set
  ``nsubj|nsubjpass|xsubj|conj.*|nn|amod|advmod|det``; one relation (=
  seed edge + DFS path) is recorded per first-visited NP-chunk node —
  the DFS shares one visited array per seed, so a node reached twice
  yields exactly one relation, via its DFS-first (edge-insertion-order
  lexicographically minimal) path.
* **Type2** (java:106-145): chains of ``prep_(of|by|to|on|for|in|through|
  with)`` edges between NP-chunk tokens; processed relations claim their
  nodes, suppressing later seeds over the same tokens (java:122-127).
* **Type3** (java:147-170): ``prep_between`` fan-outs grouped by governor.

Filtering (java:276-492) resolves each relation end to a LEXE-B lexicon
token (DFS-preorder ``explore`` with per-type label whitelists, then an
in-chunk scan for LEXE-I starts), gates Type1 on restriction-term
domain-specificity (java:233-274) and flips agent/target on the passive
surface patterns (``correctOrder``, java:171-232).

Inputs are the frozen annotation layers: tokens, POS, BIO CHUNK tags
(``kernels/bio.chunk_bio``), LEXE B/I/O tags (``kernels/lexann``), dep
edges (``kernels/depparse``). Two documented totalizations of
reference behavior that *throws* (and therefore never occurs on its
well-formed corpora): ``Chunk(s, pos)`` on an O-chunk position is a
singleton span instead of an IllegalArgumentException, and the
parse-tree NP-ancestor walk of ``isDomainSpecific`` (java:247-271)
reads the flat NP chunk span (the frozen chunker's maximal NP) since
the rebuild stores no constituency trees.
"""

from __future__ import annotations

import re

from nlp_lib_spark.kernels.depgraph import DepGraph, Edge, match_table

# Relex.java:37-43
_PASSIVE1 = re.compile(
    r".*(t|d|ion|ing)<<(VB|AUX|MD|NN|JJ).*\s(via|after|with|if|once|requires"
    r"|require|when|through|due to|in case|provided that|effect of|result of"
    r"|member of|in response to|in (the)? control of"
    r"|under (the)? control of|depend(s|ed|ent)? ([a-z]+)? on).*")
_PASSIVE2 = re.compile(r".*(requires|require|depend(s|ed|ent)? on).*")
_PASSIVE3 = re.compile(r".*(t|d|ion|ing)<<(VB|AUX|MD|NN|JJ).*\sby.*")
_PASSIVE4 = re.compile(
    r".*(t|d|ion|ing)<<(VB|AUX|MD|NN|JJ).*\sby.*(time|times|fold|(ing<<VB)).*")

# Relex.java:98 (type1 path exclusion), :115/:140 (type2 seed/chain)
_T1_EXCLUDE = re.compile(r"(nsubj|nsubjpass|xsubj|conj.*|nn|amod|advmod|det)")
_T2_SEED = re.compile(r"prep.(of|by|to|on|for|in|through|with)")
_T2_CHAIN = re.compile(r"prep_(of|by|to|on|for|in|through|with)")
# explore() whitelists: filterType1 agent (java:299) / target (java:337),
# filterType2 (java:402), filterType3 (java:443)
_T1_AGENT_REACH = r"partmod|dobj|appos|prep.*|amod|nn|advmod|conj.*|dep"
_T1_TARGET_REACH = r"nn|amod|advmod"
_T2_REACH = r"amod|nn|advmod|conj.*"
_T3_REACH = r"amod|nn|advmod|prep.*"
# correctOrder's POS-marker suppression list (java:204)
_NO_MARK = re.compile(
    r"requires?|effect|provided|effect|result|member|response|control"
    r"|depend(s|ed|ent)?")
_VNJ = re.compile(r"(VB|NN|JJ).*")
_NP_TAG = re.compile(r".*NP")

Pair = tuple[int, int]
Relation = list[Edge]


class LLLSent:
    """Per-sentence layer bundle for the LLL rules."""

    __slots__ = ("tokens", "pos", "chunk", "lexe")

    def __init__(self, tokens: list[str], pos: list[str],
                 chunk: list[str], lexe: list[str]):
        self.tokens = tokens
        self.pos = pos
        self.chunk = chunk
        self.lexe = lexe

    def __len__(self) -> int:
        return len(self.tokens)


def chunk_span(chunk: list[str], middle: int) -> tuple[int, int]:
    """``Chunk(Sentence, int)`` span decode (ling/Chunk.java:56-84):
    walk left to the nearest ``B-`` (through anything else — the
    constructor checks only for the B- prefix), right until ``B-``/``O``.
    Totalized: an O position is a singleton span (the reference throws,
    ling/Chunk.java:59-62)."""
    if chunk[middle] == "O":
        return middle, middle
    start = middle
    while start >= 0 and not chunk[start].startswith("B-"):
        start -= 1
    if start < 0:  # I- without B- at sentence start (corpus noise)
        start = 0
    end = middle + 1
    while end < len(chunk) and not (chunk[end].startswith("B-")
                                    or chunk[end] == "O"):
        end += 1
    return start, end - 1


# --------------------------------------------------------- relation finders
def type1_relations(s: LLLSent, g: DepGraph) -> list[Relation]:
    """getType1Relations (java:58-104)."""
    relations: list[Relation] = []
    for seed in g.edges_matching(r"nsubj|nsubjpass"):
        visited = [False] * len(s)
        _explore_type1(s, g, seed[1], [seed], relations, visited)
    return relations


def _explore_type1(s: LLLSent, g: DepGraph, i: int, tmp: Relation,
                   relations: list[Relation], visited: list[bool]) -> None:
    # java:77-104 — visited is shared across the whole seed exploration,
    # so each node contributes at most one relation (its DFS-first path)
    if visited[i]:
        return
    visited[i] = True
    if _NP_TAG.fullmatch(s.chunk[i]):
        relations.append(list(tmp))
    for e in g.gov_edges(i):
        if not _T1_EXCLUDE.fullmatch(e[0]):
            tmp.append(e)
            _explore_type1(s, g, e[2], tmp, relations, visited)
            tmp.pop()


def type2_relations(s: LLLSent, g: DepGraph) -> list[Relation]:
    """getType2Relations (java:106-131) — NP-claiming chain walker."""
    relations: list[Relation] = []
    visited = [False] * len(s)
    for e in g.edges:
        if _T2_SEED.fullmatch(e[0]) and not visited[e[1]] \
                and _NP_TAG.fullmatch(s.chunk[e[1]]):
            relation: Relation = []
            _explore_type2(s, g, e, relation, visited)
            if relation:
                relations.append(relation)
                for reln, gov, dep in relation:
                    visited[gov] = True
                    visited[dep] = True
    return relations


def _explore_type2(s: LLLSent, g: DepGraph, e: Edge, relation: Relation,
                   visited: list[bool]) -> None:
    # java:133-145
    dep = e[2]
    if not visited[dep] and _NP_TAG.fullmatch(s.chunk[dep]):
        relation.append(e)
        for nxt in g.gov_edges(dep):
            if _T2_CHAIN.fullmatch(nxt[0]):
                _explore_type2(s, g, nxt, relation, visited)


def type3_relations(s: LLLSent, g: DepGraph) -> list[Relation]:
    """getType3Relations (java:147-170) — prep_between edges grouped by
    governor, governors in token order."""
    by_gov: dict[int, Relation] = {}
    for e in g.edges_matching(r"prep_between"):
        by_gov.setdefault(e[1], []).append(e)
    return [by_gov[i] for i in range(len(s)) if i in by_gov]


# ------------------------------------------------------------------ helpers
def explore(g: DepGraph, start: int, reln_pat: str, n: int) -> list[int]:
    """DFS preorder over governed edges with label whitelist, including
    start (Relex.explore, java:493-502). Order is load-bearing: callers
    take the FIRST reachable LEXE-B token."""
    follow = match_table(reln_pat)
    visited = [False] * n
    out: list[int] = []

    def rec(i: int) -> None:
        visited[i] = True
        out.append(i)
        for reln, gov, dep in g.gov_edges(i):
            if not visited[dep] and follow[reln]:
                rec(dep)

    rec(start)
    return out


def _resolve_end(s: LLLSent, g: DepGraph, idx: int, reach_pat: str) -> int:
    """The shared agent/target resolution of filterType1
    (java:293-320 / :328-356): if not LEXE-B, take the first DFS-reachable
    LEXE-B token; if LEXE-I, rewind inside the chunk to its B."""
    if s.lexe[idx] != "B":
        for i in explore(g, idx, reach_pat, len(s)):
            if s.lexe[i] == "B":
                idx = i
                break
    if s.lexe[idx] == "I":
        lo, hi = chunk_span(s.chunk, idx)
        for i in range(lo, hi + 1):
            if s.lexe[i] == "B":
                idx = i
                break
    return idx


def _correct_order(s: LLLSent, relation: Relation,
                   restriction: frozenset[str]) -> bool:
    """correctOrder (java:171-232): passive-construct surface detection
    over the chunk-expanded path string with ``<<POS`` markers."""
    if len(relation) > 1 and relation[0][0] == "nsubjpass":
        lo, hi = chunk_span(s.chunk, relation[0][1])
        for i in range(lo, hi + 1):
            if s.tokens[i].lower() in restriction:
                return False
    parts: list[str] = []
    for k, (reln, gov, dep) in enumerate(relation):
        if k == 0:
            lo, hi = chunk_span(s.chunk, dep)
            for j in range(lo, hi + 1):
                parts.append(" " + s.tokens[j])
                if _VNJ.fullmatch(s.pos[j]):
                    parts.append("<<" + s.pos[j])
            continue
        lo, hi = chunk_span(s.chunk, gov)
        for j in range(lo, hi + 1):
            parts.append(" " + s.tokens[j])
            if _VNJ.fullmatch(s.pos[j]) and not _NO_MARK.fullmatch(s.tokens[j]):
                parts.append("<<" + s.pos[j])
        if reln.startswith("prep_"):
            parts.append(" " + reln[5:])
    sb = "".join(parts)
    if _PASSIVE1.fullmatch(sb) or _PASSIVE2.fullmatch(sb):
        return False
    if _PASSIVE3.fullmatch(sb) and not _PASSIVE4.fullmatch(sb):
        return False
    return True


def _is_domain_specific(s: LLLSent, relation: Relation,
                        restriction: frozenset[str]) -> bool:
    """isDomainSpecific (java:233-274): restriction term in any path
    governor's chunk (hyphen parts count), or in the subject's maximal
    NP (frozen-chunker span standing in for the NP-ancestor tree walk,
    java:247-271)."""
    for k, (reln, gov, dep) in enumerate(relation):
        lo, hi = chunk_span(s.chunk, gov)
        for j in range(lo, hi + 1):
            for part in s.tokens[j].split("-"):
                if part.lower() in restriction:
                    return True
        if k == 0 and _NP_TAG.fullmatch(s.chunk[dep]):
            lo, hi = chunk_span(s.chunk, dep)
            for j in range(lo, hi + 1):
                if s.tokens[j].lower() in restriction:
                    return True
    return False


# ------------------------------------------------------------------ filters
def filter_type1(s: LLLSent, g: DepGraph, relations: list[Relation],
                 restriction: frozenset[str]) -> list[Pair]:
    """filterType1Relations (java:276-391)."""
    interactions: list[Pair] = []
    for relation in relations:
        if not _is_domain_specific(s, relation, restriction):
            continue
        first = relation[0]
        agent = first[2] if re.fullmatch(r"nsubj.*", first[0]) else first[1]
        agent = _resolve_end(s, g, agent, _T1_AGENT_REACH)
        target = _resolve_end(s, g, relation[-1][2], _T1_TARGET_REACH)
        if s.lexe[agent] == "B" and s.lexe[target] == "B":
            if not _correct_order(s, relation, restriction):
                agent, target = target, agent
            interactions.append((agent, target))
    # duplicate elimination incl. the reversed-pair quirk (java:372-390):
    # a reversed duplicate is dropped only when ITS agent < target
    # (the non-passive orientation loses)
    unique: list[Pair] = []
    dup = [False] * len(interactions)
    for i, (a1, t1) in enumerate(interactions):
        if dup[i]:
            continue
        for j in range(i + 1, len(interactions)):
            a2, t2 = interactions[j]
            if a1 == a2 and t1 == t2:
                dup[j] = True
            elif a1 == t2 and t1 == a2 and a2 < t2:
                dup[j] = True
        unique.append((a1, t1))
    return unique


def filter_type2(s: LLLSent, g: DepGraph,
                 relations: list[Relation]) -> list[Pair]:
    """filterType2Relations (java:393-431): agents x targets per chain
    edge, both ends resolved by DFS reachability over NP-internal labels."""
    interactions: list[Pair] = []
    n = len(s)
    for relation in relations:
        for reln, gov, dep in relation:
            agents = [i for i in explore(g, gov, _T2_REACH, n)
                      if s.lexe[i] == "B"]
            targets = [i for i in explore(g, dep, _T2_REACH, n)
                       if s.lexe[i] == "B"]
            for a in agents:
                for t in targets:
                    interactions.append((a, t))
    return interactions


def filter_type3(s: LLLSent, g: DepGraph, relations: list[Relation],
                 restriction: frozenset[str]) -> list[Pair]:
    """filterType3Relations (java:433-492)."""
    interactions: list[Pair] = []
    n = len(s)
    for relation in relations:
        deps: list[int] = []
        gov = -1
        for reln, g_, dep in relation:
            gov = g_
            for i in explore(g, dep, _T3_REACH, n):
                if s.lexe[i] == "B":
                    deps.append(i)
                    break
        lo, hi = chunk_span(s.chunk, gov)
        if not any(s.tokens[i].lower() in restriction
                   for i in range(lo, hi + 1)):
            continue
        for i in range(len(deps)):
            for j in range(i + 1, len(deps)):
                interactions.append((deps[i], deps[j]))
        if len(deps) == 1:
            dep = deps[0]
            for e in g.gov_edges(dep):
                if re.fullmatch(r"conj.*", e[0]):
                    dep2 = e[2]
                    if any(s.lexe[i] == "B"
                           for i in explore(g, dep2, _T3_REACH, n)):
                        interactions.append((dep, dep2))
    return interactions


# -------------------------------------------------------------------- union
def lll_interactions(tokens: list[str], pos: list[str], chunk: list[str],
                     lexe: list[str], edges: list[Edge],
                     restriction: frozenset[str]) -> list[Pair]:
    """getInteractions (java:537-567): type1+2+3 filtered union with the
    order-preserving dedup that drops self-pairs and same-direction
    repeats (reversed pairs SURVIVE here, unlike filterType1's local
    dedup)."""
    s = LLLSent(tokens, pos, chunk, lexe)
    g = DepGraph(edges)
    interactions: list[Pair] = []
    interactions += filter_type1(s, g, type1_relations(s, g), restriction)
    interactions += filter_type2(s, g, type2_relations(s, g))
    interactions += filter_type3(s, g, type3_relations(s, g), restriction)
    unique: list[Pair] = []
    dup = [False] * len(interactions)
    for i, (a1, t1) in enumerate(interactions):
        if dup[i] or a1 == t1:
            continue
        for j in range(i + 1, len(interactions)):
            if interactions[j] == (a1, t1):
                dup[j] = True
        unique.append((a1, t1))
    return unique


# ------------------------------------------------------- surface resolution
def lex_chunk(tokens: list[str], lexe: list[str], pos: int) -> str | None:
    """getLexChunk (java:638-654): expand a LEXE position to its B..I*
    span text; None when the position is not inside a lexicon span."""
    while pos > 0 and lexe[pos] == "I":
        pos -= 1
    if lexe[pos] != "B":
        return None
    start = pos
    end = start
    pos += 1
    while pos < len(tokens) and lexe[pos] == "I":
        end = pos
        pos += 1
    return " ".join(tokens[start:end + 1])


def resolve_surface(surface: str, lexicon) -> str:
    """testLLLTestingset's emission normalization (java:593-612): strip
    from the LAST hyphen when the raw span is not a dictionary entry,
    then map through the synonym table. ``lexicon`` is a
    ``kernels.lexann.LexSynAnnotator``."""
    if not lexicon.contains(surface) and "-" in surface:
        surface = surface[:surface.rfind("-")]
    synonym = lexicon.has_synonym(surface)
    return synonym if synonym is not None else surface
