"""RelEx rule-based relation classification (the shipped rule union).

Faithful re-expression of the five rules the reference unions at runtime
(``relx/ppi/RunRelex.getPredictedInteractions``, RunRelex.java:141-153):
RelexRule1, RelexRule2, RelexRule2b, RelexRule3, RelexRule5, plus the shared
machinery of their base class (``relx/ppi/RelexRule.java:24-162``).

Every function is pure over (tokens, pos, domain, DepGraph); rules run
per-sentence inside Arrow UDF batches with zero cross-row dependencies.
Java ``String.matches`` = full match, read from the reln's
``depgraph.match_table`` entry (a literal pattern such as ``neg`` is an
equality test); ``Matcher.find`` -> ``re.search``.

The rule bodies read the sentence's edge index (``DepGraph.by_gov`` /
``by_dep``) and ``Sent.proteins`` directly, and skip work that cannot
produce a pair (rule1 without an ``nsubj|nsubjpass`` seed or without
agents for it, rule3(a) with fewer than two ``prep_between`` edges, rule5
on a token without two ``PROTEIN`` markers).  The reference enumerates
every maximal DFS path and then scans each path's prefixes; rules 1 and 2
instead score each prefix once, on the way back up the DFS, and only when
some maximal path below it was reached (a branch that only runs into
visited nodes records no path, so it contributes no pair).
"""

from __future__ import annotations

import re

from nlp_lib_spark.kernels.depgraph import DepGraph, Edge, match_table

# RelexRule1.java:26-28
_R1_PATH = r"dep|agent|.*comp|.*obj|advcl|(inf|part|rc)mod|prep.*|abbrev|parataxis"
_R1_AGENT_NP = r"nn|amod|abbrev"
_R1_TARGET_NP = r"nn|amod|advmod"
_R1_RCHEAD = r"similar|include(s|d)?|members?|identical|involve(s|d)?"
# RelexRule2.java:23-24
_R2_PREP = r"prep_(of|by|to|on|for|in|through|with)"
_R2_NP = r"nn|amod|advmod"
# RelexRule2b.java:19
_R2B_RE = re.compile(r"(PREP|REL|N)+(PREP)(REL|PREP|N)*PROT1(REL|N|PREP|PROT)+PROT2")
# RelexRule3.java:23,47
_R3_REACH = r"agent|prep_(of|by|to|on|for|in|through|with|between)|nn|amod"
# RelexRule5.java:20
_R5_RE = re.compile(r"PROTEIN[0-9]+.*PROTEIN[0-9]+")
_R1_RCHEAD_RE = re.compile(_R1_RCHEAD)
_R2B_PREP_WORDS = frozenset(("of", "by", "to", "on", "for", "in", "through", "with"))
_R5_GOV_RELNS = frozenset(("nn", "amod", "abbrev", "appos"))
_NP_CHUNK_RELNS = frozenset(("nn", "amod", "advmod"))  # RelexRule.java:151

_R1_PATH_T = match_table(_R1_PATH)
_R1_AGENT_T = match_table(_R1_AGENT_NP)
_R1_TARGET_T = match_table(_R1_TARGET_NP)
_R1_PREP_SEED_T = match_table(r"prep.*|partmod")
_R1_PREP_PATH_T = match_table(r"prep.*|agent|dobj|dep")
_R1_AGENT_PREP_PATH_T = match_table(r"prep.*|agent|dobj")
_R1_PREP_AGENT_T = match_table(r"prep_(of|from|like|including|in)")
_R1_RC_PATH_T = match_table(r".*obj|prep.*")
_R2_PREP_T = match_table(_R2_PREP)
_R2_NP_T = match_table(_R2_NP)
_R3_REACH_T = match_table(_R3_REACH)
_CONJ_T = match_table(r"conj.*")

Pair = tuple[int, int]


class Sent:
    """Per-sentence bundle the rules read (tokens + POS + DOMAIN tags),
    plus the ascending PROTEIN token positions."""

    __slots__ = ("tokens", "pos", "domain", "proteins")

    def __init__(self, tokens: list[str], pos: list[str],
                 domain: list[str | None]):
        self.tokens = tokens
        self.pos = pos
        self.domain = domain
        self.proteins = [i for i, t in enumerate(tokens) if "PROTEIN" in t]

    def __len__(self) -> int:
        return len(self.tokens)

    def is_protein(self, i: int) -> bool:
        return "PROTEIN" in self.tokens[i]


# ---------------------------------------------------------------- base class
def _add_path(gov: int, by_gov: dict, cur: list[Edge],
              paths: list[list[Edge]], path_t, visited: set[int]) -> None:
    # RelexRule.java:58-76
    if gov in visited:
        return
    visited.add(gov)
    nxt = [e for e in by_gov.get(gov, ()) if path_t[e[0]]]
    if not nxt:
        paths.append(list(cur))
    else:
        for e in nxt:
            cur.append(e)
            _add_path(e[2], by_gov, cur, paths, path_t, visited)
            cur.pop()
    visited.discard(gov)


def _paths_from_src(start: int, seed_t, by_gov: dict,
                    path_t) -> list[list[Edge]]:
    # RelexRule.java:24-35 (explores from seed.dep)
    paths: list[list[Edge]] = []
    for seed in by_gov.get(start, ()):
        if seed_t[seed[0]]:
            _add_path(seed[2], by_gov, [seed], paths, path_t, set())
    return paths


def _head_entity(head: int, tokens: list[str], by_gov: dict, np_t) -> int:
    # RelexRule.java:86-104 — rightmost PROTEIN among head + matching deps
    entity = head if "PROTEIN" in tokens[head] else -1
    for e in by_gov.get(head, ()):
        if np_t[e[0]] and "PROTEIN" in tokens[e[2]] and e[2] > entity:
            entity = e[2]
    return entity


def _entities(head: int, tokens: list[str], g: DepGraph, np_t) -> list[int]:
    # RelexRule.java:114-147
    by_gov = g.by_gov
    agent = _head_entity(head, tokens, by_gov, np_t)
    if agent != -1:
        agents = [agent]
        if agent != head:
            for e in g.by_dep.get(agent, ()):
                if _CONJ_T[e[0]]:
                    nxt = _head_entity(e[1], tokens, by_gov, np_t)
                    if nxt != -1:
                        agents.append(nxt)
        return agents
    agents = []
    for e in by_gov.get(head, ()):
        if e[0] == "appos":
            a = _head_entity(e[2], tokens, by_gov, np_t)
            if a != -1:
                agents.append(a)
    return agents


def _chunk_has_domain(p: int, domain: list, g: DepGraph) -> bool:
    # RelexRule.getNPChunk (java:149-162): the span of p and its
    # nn|amod|advmod neighbours, either direction; any DOMAIN token in it
    lo = hi = p
    for e in g.by_gov.get(p, ()):
        if e[0] in _NP_CHUNK_RELNS:
            d = e[2]
            if d < lo:
                lo = d
            elif d > hi:
                hi = d
    for e in g.by_dep.get(p, ()):
        if e[0] in _NP_CHUNK_RELNS:
            d = e[1]
            if d < lo:
                lo = d
            elif d > hi:
                hi = d
    for i in range(lo, hi + 1):
        if domain[i] is not None:
            return True
    return False


# ------------------------------------------------------------------- Rule 1
def _r1_agents(subj: int, main_head: int, s: Sent, g: DepGraph) -> set[int]:
    # RelexRule1.java:104-166
    tokens, by_gov = s.tokens, g.by_gov
    agents: set[int] = set(_entities(subj, tokens, g, _R1_AGENT_T))

    prep_paths = _paths_from_src(subj, _R1_PREP_SEED_T, by_gov,
                                 _R1_PREP_PATH_T)
    for agent in list(agents):
        if agent != subj:
            prep_paths.extend(_paths_from_src(agent, _R1_PREP_SEED_T, by_gov,
                                              _R1_AGENT_PREP_PATH_T))
    for path2 in prep_paths:
        prep_head = -1
        for reln, gv, dp in path2:
            if _R1_PREP_AGENT_T[reln] and dp > prep_head:
                prep_head = dp
        if prep_head != -1:
            agents.update(_entities(prep_head, tokens, g, _R1_AGENT_T))

    for e in by_gov.get(subj, ()):
        if e[0] != "rcmod":
            continue
        dep = e[2]
        if dep != main_head and _R1_RCHEAD_RE.fullmatch(tokens[dep].lower()):
            for rp in _paths_from_src(dep, _R1_RC_PATH_T, by_gov,
                                      _R1_RC_PATH_T):
                for t in rp:
                    tmp = _entities(t[2], tokens, g, _R1_AGENT_T)
                    if tmp:
                        agents.update(tmp)
                        break
    return agents


def rule1(s: Sent, g: DepGraph) -> set[Pair]:
    """RelexRule1.findRelations (java:36-39, 167-256) over nsubj|nsubjpass
    seeds.  Each path from the seed verb (the seed edge is path[0]) scores
    its NN-headed edges i >= 1 as targets; target (e, i) pairs with every
    agent of the seed's subject when path[:i+1] is domain-specific (a
    DOMAIN endpoint or NP chunk — the dependent's chunk for edge 0, the
    governor's for later edges — or DOMAIN in edge i's dependent chunk)
    and not negated (no ``neg`` governed by an endpoint).  An ``rcmod``
    edge whose head is neither an RC head word nor DOMAIN ends the target
    scan of every path through it."""
    out: set[Pair] = set()
    seeds = [e for e in g.edges if e[0] == "nsubj" or e[0] == "nsubjpass"]
    if not seeds:
        return out
    tokens, pos, domain = s.tokens, s.pos, s.domain
    by_gov = g.by_gov
    neg: set[int] | None = None
    visited: set[int] = set()
    agents: set[int] = set()

    def walk(node: int, dom_spec: bool, negated: bool, stopped: bool) -> bool:
        # _addPath from ``node``; True when it records a path
        if node in visited:
            return False
        nxt = [e for e in by_gov.get(node, ()) if _R1_PATH_T[e[0]]]
        if not nxt:
            return True
        visited.add(node)
        recorded = False
        for reln, gv, head in nxt:
            d = (dom_spec or domain[gv] is not None
                 or domain[head] is not None
                 or _chunk_has_domain(gv, domain, g))
            n = negated or gv in neg or head in neg
            st = stopped or (
                reln == "rcmod" and domain[head] is None
                and not _R1_RCHEAD_RE.fullmatch(tokens[head].lower()))
            if walk(head, d, n, st):
                recorded = True
                if not st and not n and pos[head].startswith("NN") and (
                        d or _chunk_has_domain(head, domain, g)):
                    for t in _entities(head, tokens, g, _R1_TARGET_T):
                        for a in agents:
                            out.add((a, t) if a < t else (t, a))
        visited.discard(node)
        return recorded

    for _, verb, subj in seeds:
        agents = _r1_agents(subj, verb, s, g)
        if not agents:
            continue
        if neg is None:
            neg = {e[1] for e in g.edges if e[0] == "neg"}
        walk(verb,
             domain[verb] is not None or domain[subj] is not None
             or _chunk_has_domain(subj, domain, g),
             verb in neg or subj in neg, False)
    del walk  # walk's closure holds walk: break the cycle, free the frame now
    return out


# ------------------------------------------------------------------- Rule 2
def rule2(s: Sent, g: DepGraph) -> set[Pair]:
    """RelexRule2 (java:21-122): prep-chain paths from every
    ``_R2_PREP`` seed's dependent; each NN-NN edge i pairs its endpoints'
    NP entities when path[:i+1] is domain-specific: some edge k <= i has
    an N-tagged governor whose NP chunk holds DOMAIN, or else a DOMAIN
    token at the *path index* k (a reference quirk, java:115)."""
    out: set[Pair] = set()
    seeds = [e for e in g.edges if _R2_PREP_T[e[0]]]
    if not seeds:
        return out
    tokens, pos, domain = s.tokens, s.pos, s.domain
    by_gov = g.by_gov
    n_tok = len(tokens)
    visited: set[int] = set()

    def edge_dom(k: int, gv: int) -> bool:
        if pos[gv].startswith("N"):
            return _chunk_has_domain(gv, domain, g)
        return k < n_tok and domain[k] is not None

    def score(gv: int, dp: int) -> None:
        if pos[gv].startswith("NN") and pos[dp].startswith("NN"):
            agents = _entities(gv, tokens, g, _R2_NP_T)
            if agents:
                targets = _entities(dp, tokens, g, _R2_NP_T)
                for a in agents:
                    for t in targets:
                        out.add((a, t) if a < t else (t, a))

    def walk(node: int, k: int, dom_spec: bool) -> bool:
        # _addPath from ``node``, whose next edge is path index k
        if node in visited:
            return False
        nxt = [e for e in by_gov.get(node, ()) if _R2_PREP_T[e[0]]]
        if not nxt:
            return True
        visited.add(node)
        recorded = False
        for reln, gv, dp in nxt:
            d = dom_spec or edge_dom(k, gv)
            if walk(dp, k + 1, d):
                recorded = True
                if d:
                    score(gv, dp)
        visited.discard(node)
        return recorded

    for _, gv, dp in seeds:
        d = edge_dom(0, gv)
        if walk(dp, 1, d) and d:
            score(gv, dp)
    del walk  # walk's closure holds walk: break the cycle, free the frame now
    return out


# ------------------------------------------------------------------ Rule 2b
def rule2b(s: Sent, g: DepGraph) -> set[Pair]:
    """RelexRule2b (java:21-64): a protein pair matches when the token
    class string up to e2, with e1/e2 as PROT1/PROT2, contains
    ``_R2B_RE``.  The class string is built once per sentence; each pair
    splices its two markers into it (a PROTEIN token's class is PROT)."""
    out: set[Pair] = set()
    prots = s.proteins
    if len(prots) < 2:
        return out
    tokens, pos, domain = s.tokens, s.pos, s.domain
    # the pattern's literal PREP sits before PROT1, and PROT2 follows it:
    # no pair without a PREP token left of the second-to-last protein
    for i in range(prots[-2]):
        if domain[i] is None and pos[i] in ("IN", "TO") and \
           tokens[i] in _R2B_PREP_WORDS:
            break
    else:
        return out
    parts: list[str] = []
    for i in range(prots[-1] + 1):
        tok = tokens[i]
        if "PROTEIN" in tok:
            parts.append("PROT")
        elif domain[i] is not None:
            parts.append("REL")
        elif len(tok) == 1 and tok in "/,-":
            parts.append(tok)
        elif pos[i] in ("IN", "TO") and tok in _R2B_PREP_WORDS:
            parts.append("PREP")
        elif tok in ("and", "or"):
            parts.append("CONJ")
        elif pos[i].startswith("N"):
            parts.append("N")
        else:
            parts.append("W")
    text = "".join(parts)
    first_prep = text.find("PREP")
    starts = []
    at = 0
    for p in parts:
        starts.append(at)
        at += len(p)
    for x, i in enumerate(prots):
        a = starts[i]
        if a < first_prep + 4:
            continue
        head = text[:a] + "PROT1"
        for j in prots[x + 1:]:
            if _R2B_RE.search(head + text[a + 4:starts[j]] + "PROT2"):
                out.add((i, j))
    return out


# ------------------------------------------------------------------- Rule 3
def _reach_proteins(src: int, tokens: list[str], g: DepGraph,
                    follow) -> set[int]:
    """PROTEIN tokens reachable from ``src`` (itself included) over
    governed edges whose reln ``follow`` accepts — RelexRule3.getReachables
    (java:92-108) with domainSpecific set, as every caller passes it."""
    by_gov = g.by_gov
    out: set[int] = set()
    seen = {src}
    stack = [src]
    while stack:
        v = stack.pop()
        if "PROTEIN" in tokens[v]:
            out.add(v)
        for e in by_gov.get(v, ()):
            d = e[2]
            if d not in seen and follow[e[0]]:
                seen.add(d)
                stack.append(d)
    return out


def rule3(s: Sent, g: DepGraph) -> set[Pair]:
    out: set[Pair] = set()
    prots = s.proteins
    if len(prots) < 2:  # every branch pairs two distinct proteins
        return out
    tokens, pos, domain = s.tokens, s.pos, s.domain
    # (a) consecutive prep_between on the shortest path (java:27-42,79-89);
    # two consecutive labels take two distinct prep_between edges
    if sum(1 for e in g.edges if e[0] == "prep_between") >= 2:
        domain_term_pos = -1
        for i in range(len(tokens)):
            if (i - domain_term_pos) < 5 and "PROTEIN" in tokens[i]:
                for j in prots:
                    if j <= i:
                        continue
                    labels = g.path_labels(i, j)
                    if labels:
                        for k in range(1, len(labels)):
                            if labels[k] in ("prep_between", "-prep_between") and \
                               labels[k - 1] in ("prep_between", "-prep_between"):
                                out.add((i, j))
                                break
            if domain[i] is not None:
                domain_term_pos = i
    # (b) domain noun fan-out (java:44-55)
    for i in range(len(tokens)):
        if domain[i] is not None and pos[i].startswith("N"):
            targets = _reach_proteins(i, tokens, g, _R3_REACH_T)
            for e1 in targets:
                if i < e1:
                    for e2 in targets:
                        if e1 < e2:
                            out.add((e1, e2))
    # (c) partmod with DOMAIN dependent (java:57-74)
    for reln, gov, dep in g.edges:
        if reln == "partmod" and domain[dep] is not None:
            tset = _reach_proteins(dep, tokens, g, _R3_REACH_T)
            aset = _reach_proteins(gov, tokens, g, _R3_REACH_T)
            for a in aset:
                for t in tset:
                    if a < t:
                        out.add((a, t))
    return out


# ------------------------------------------------------------------- Rule 5
def rule5(s: Sent, g: DepGraph) -> set[Pair]:
    """RelexRule5 (java:20-45): a fused ``PROTEINa..PROTEINb`` token (not
    the last) pairs with itself when the next token or an nn|amod|abbrev|
    appos governor is DOMAIN."""
    out: set[Pair] = set()
    tokens, domain = s.tokens, s.domain
    last = len(tokens) - 1
    for i in s.proteins:
        tok = tokens[i]
        if i < last and tok.count("PROTEIN") >= 2 and _R5_RE.fullmatch(tok):
            if domain[i + 1] is not None:
                out.add((i, i))
            else:
                for reln, gov, dep in g.by_dep.get(i, ()):
                    if reln in _R5_GOV_RELNS and domain[gov] is not None:
                        out.add((i, i))
                        break
    return out


# ------------------------------------------------- surface form typing
# ppi/RuleExtractor.java:39-43 — the five surface-form patterns over the
# RELV/RELN-distinguished token-class string (getSentPattern, java:236-255).
_FORM1_RE = re.compile(r"PROTEIN[0-9]+.*RELV.*PROTEIN[0-9]+")
_FORM2_RE = re.compile(r"PROTEIN[0-9]+.*REL.*PROTEIN[0-9]+")
_FORM3_RE = re.compile(r"RELN\.PREP.*PROTEIN[0-9]+.*PROTEIN[0-9]+")
_FORM4_RE = re.compile(r"PROTEIN[0-9]+([/-])?PROTEIN[0-9]+")
_FORM5_RE = re.compile(r"PROTEIN[0-9]+.*PROTEIN[0-9]+.*REL")
_FORM3_REACH = r"agent|prep.*|appos|abbrev|nn|amod|dep"
_FORM3_REACH_T = match_table(_FORM3_REACH)


def _form_sent_pattern(s: Sent, e1: int, e2: int) -> str:
    # RuleExtractor.getSentPattern (java:236-255): '.'-joined classes,
    # entity tokens verbatim, DOMAIN tokens as RELV/RELN by POS initial
    parts: list[str] = []
    for i in range(len(s)):
        tok = s.tokens[i]
        if i == e1 or i == e2:
            parts.append(tok)
        elif s.domain[i] is not None:
            parts.append("REL" + (s.pos[i][:1] or "W"))
        elif len(tok) == 1 and tok in "/,-":
            parts.append(tok)
        elif s.pos[i] in ("IN", "TO"):
            parts.append("PREP")
        elif tok in ("and", "or"):
            parts.append("CONJ")
        else:
            parts.append("W")
        parts.append(".")
    return "".join(parts)


def _form_negated(idx: int, g: DepGraph) -> bool:
    return bool(g.gov_edges(idx, r"neg"))


def form_type(tokens: list[str], pos: list[str], domain: list[str | None],
              edges: list[Edge], e1: int, e2: int) -> int:
    """Surface form 1-5 of a candidate pair, -1 when none
    (RuleExtractor.check, java:46-54; first match wins)."""
    s = Sent(tokens, pos, domain)
    g = DepGraph(edges)
    sp = _form_sent_pattern(s, e1, e2)
    path = g.path_edges(e1, e2) if e1 != e2 else None
    # form 1 (java:55-92): verbal REL + subj edge with mid-pair DOMAIN end
    if _FORM1_RE.search(sp) and path is not None:
        for (reln, gov, dep) in path:
            if reln in ("nsubj", "nsubjpass"):
                if _form_negated(gov, g) or _form_negated(dep, g):
                    break
                if e1 < gov < e2 and s.domain[gov] is not None:
                    return 1
                if e1 < dep < e2 and s.domain[dep] is not None:
                    return 1
    # form 2 (java:94-131): relaxed — any REL; flag after subj/rcmod edge
    if _FORM2_RE.search(sp) and path is not None:
        flg = False
        neg = False
        for (reln, gov, dep) in path:
            if reln in ("nsubj", "nsubjpass", "rcmod"):
                flg = True
            if _form_negated(gov, g) or _form_negated(dep, g):
                neg = True
                break
            if flg and e1 < gov < e2 and s.domain[gov] is not None:
                return 2
            if flg and e1 < dep < e2 and s.domain[dep] is not None:
                return 2
        del neg
    # form 3 (java:132-172): nominal REL + PREP, reachability to both
    if _FORM3_RE.search(sp):
        for i in range(e1):
            if s.pos[i].startswith("N") and s.domain[i] is not None:
                targets = _reach_proteins(i, s.tokens, g, _FORM3_REACH_T)
                if e1 in targets and e2 in targets:
                    return 3
    # form 4 (java:208-224): fused token with DOMAIN right neighbor
    if e1 == e2 and e1 < len(s) - 1:
        if _FORM4_RE.fullmatch(s.tokens[e1]) and s.domain[e1 + 1] is not None:
            return 4
    # form 5 (java:225-235): trailing REL within 6 tokens of e1
    if _FORM5_RE.search(sp):
        for i in range(e1 + 1, min(len(s), e1 + 6)):
            if s.domain[i] is not None:
                return 5
    return -1


# --------------------------------- candidate generation (experimental path)
# RelCandidateExtractor's own form patterns (ppi/RelCandidateExtractor.java:
# 23-26) — note form5 differs from RuleExtractor's: bounded (W|PREP){0,2}
# between the second entity and the trailing REL.
_RC_FORM1_RE = re.compile(r"PROTEIN[0-9]+.*RELV.*PROTEIN[0-9]+")
_RC_FORM2_RE = re.compile(r"PROTEIN[0-9]+.*REL.*PROTEIN[0-9]+")
_RC_FORM3_RE = re.compile(r"RELN\.PREP.*PROTEIN[0-9]+.*PROTEIN[0-9]+")
_RC_FORM5_RE = re.compile(r"PROTEIN[0-9]+.*PROTEIN[0-9]+\.(W\.|PREP\.){0,2}REL")


def _rc_negated(idx: int, g: DepGraph) -> bool:
    """isNegated (RelCandidateExtractor.java:147-153): any governed edge
    whose reln ends with 'neg'."""
    return any(e[0].endswith("neg") for e in g.gov_edges(idx))


def rel_candidates(tokens: list[str], pos: list[str],
                   domain: list[str | None],
                   edges: list[Edge]) -> set[Pair]:
    """RelCandidateExtractor.applyRule1 (ppi/RelCandidateExtractor.java:
    28-146): seeds = ``rcmod|.*subj|.*subjpass`` edges; *directed* BFS
    reachable sets (depth 100 from the clause side, 10 from the subject
    side — swapped for rcmod seeds); negation-gated; cross pairs checked
    against form1/form2 patterns; same-side pairs admitted by form5
    (set1) / form3 (set2) with a DOMAIN-tagged-LCS requirement."""
    s = Sent(tokens, pos, domain)
    g = DepGraph(edges)
    out: set[Pair] = set()
    for (reln, gov, dep) in g.edges_matching(r"rcmod|.*subj|.*subjpass"):
        if reln == "rcmod":
            if _rc_negated(dep, g):
                continue
            r2 = g.reachable(dep, True, 100) | {dep}
            r1 = g.reachable(gov, True, 10) | {gov}
            set2 = {i for i in r2 if s.is_protein(i)}
            set1 = {i for i in r1 if s.is_protein(i) and i not in set2}
        else:
            if _rc_negated(gov, g):
                continue
            r1 = g.reachable(dep, True, 10) | {dep}
            r2 = g.reachable(gov, True, 100) | {gov}
            set1 = {i for i in r1 if s.is_protein(i)}
            set2 = {i for i in r2 if s.is_protein(i) and i not in set1}
        for a in set1:
            for b in set2:
                i, j = (a, b) if a < b else (b, a)
                sp = _form_sent_pattern(s, i, j)
                if _RC_FORM1_RE.search(sp) or _RC_FORM2_RE.search(sp):
                    out.add((i, j))
        # form5 over subject-side pairs; form3 over clause-side pairs —
        # both require a DOMAIN-tagged LCS (java:110-144)
        for pool, pat in ((set1, _RC_FORM5_RE), (set2, _RC_FORM3_RE)):
            for i in sorted(pool):
                for j in sorted(pool):
                    if i < j and pat.search(_form_sent_pattern(s, i, j)):
                        lcs = g.lcs(i, j)
                        if lcs >= 0 and s.domain[lcs] is not None:
                            out.add((i, j))
    return out


# -------------------------------------------------------------------- union
def predict_interactions(tokens: list[str], pos: list[str],
                         domain: list[str | None],
                         edges: list[Edge]) -> set[Pair]:
    """Union of the five shipped rules (RunRelex.java:141-153)."""
    s = Sent(tokens, pos, domain)
    g = DepGraph(edges)
    out: set[Pair] = set()
    out |= rule1(s, g)
    out |= rule2(s, g)
    out |= rule2b(s, g)
    out |= rule3(s, g)
    out |= rule5(s, g)
    return out


# ----------------------- unshipped experiment rules (completeness port)
# RelexRule4 / RelexRule6 exist in the reference but are NOT wired into the
# shipped union (RunRelex.java:141-153) — predict_interactions deliberately
# excludes them; they are available for experiment parity.
_R6_RE = re.compile(r"PROT1W?(PUNC|CONJ|PROT)+W?PROT2W?REL")


def rule4(s: Sent, g: DepGraph) -> set[Pair]:
    """RelexRule4 (relx/ppi/RelexRule4.java:22-38): protein pairs that are
    dep-disconnected or joined by a single appos/nn hop."""
    out: set[Pair] = set()
    n = len(s)
    for i in range(n):
        if not s.is_protein(i):
            continue
        for j in range(i + 1, n):
            if not s.is_protein(j):
                continue
            labels = g.path_labels(i, j)
            if labels is None:
                out.add((i, j))
            elif len(labels) == 1 and re.fullmatch(r"-?(appos|nn)",
                                                   labels[0]):
                out.add((i, j))
    return out


def _r6_sent_pattern(s: Sent, e1: int, e2: int) -> str:
    # RelexRule6.getSentPattern (java:73-95): full-sentence class string,
    # no '.' separators, PUNC bucket for [/,:;-]
    parts: list[str] = []
    for i in range(len(s)):
        tok = s.tokens[i]
        if i == e1:
            parts.append("PROT1")
        elif i == e2:
            parts.append("PROT2")
        elif "PROTEIN" in tok:
            parts.append("PROT")
        elif s.domain[i] is not None:
            parts.append("REL" + (s.pos[i][:1] or "W"))
        elif re.fullmatch(r"[/,:;-]", tok):
            parts.append("PUNC")
        elif s.pos[i] in ("IN", "TO"):
            parts.append("PREP")
        elif re.fullmatch(r"and|or", tok):
            parts.append("CONJ")
        else:
            parts.append("W")
    return "".join(parts)


def rule6(s: Sent, g: DepGraph) -> set[Pair]:
    """RelexRule6 (relx/ppi/RelexRule6.java:26-46): close pairs sharing a
    DOMAIN-tagged non-negated subject governor, plus the coordinated-list
    surface pattern ``PROT1 .. PROT2 .. REL``."""
    out: set[Pair] = set()
    n = len(s)

    def gov_set(idx: int) -> set[int]:
        return {gv for (reln, gv, dp) in g.dep_edges(idx, r"nsubj|nsubjpass")}

    def negated(idx: int) -> bool:
        return any(e[0].endswith("neg") for e in g.gov_edges(idx))

    for i in range(n):
        if not s.is_protein(i):
            continue
        set_i = gov_set(i)
        for j in range(i + 1, n):
            if not s.is_protein(j):
                continue
            set_j = gov_set(j)
            shared = any(v in set_i and s.domain[v] is not None
                         and not negated(v) for v in set_j)
            if shared and (j - i) < 5:
                out.add((i, j))
            if _R6_RE.search(_r6_sent_pattern(s, i, j)):
                out.add((i, j))
    return out


# ------------------- ppi candidate-rule experiments (completeness port)
# ppi/Rule1-3 implement the ppi.Rule interface (ppi/Rule.java:18) --
# candidate-pair generators predating RelCandidateExtractor; like
# RelexRule4/6 they are not wired into any shipped entry point.  The
# reference passes (depGraph, ccDepGraph); the frozen builder emits one
# CC-distributed graph, so the port takes a single ``g`` for both slots.
_P1_SEED = r".*subj|.*subjpass|rcmod"
_P1_AGENT_RCMOD = r"nn|amod|appos|conj.*|prep.*|dobj|dep|abbrev"
_P1_AGENT_SUBJ = _P1_AGENT_RCMOD + r"|partmod"
_P2_REACH = r"agent|prep.*|appos|abbrev|nn|amod|dep"


def _inside_domain_phrase(s: Sent, g: DepGraph, i: int,
                          include_self: bool = True) -> bool:
    """insideDomainPhrase (ppi/Rule2.java:59-74 / Rule3.java:57-72): DOMAIN
    on the token itself (Rule2/3 only), any governed dependent, or any
    governor."""
    if include_self and s.domain[i] is not None:
        return True
    if any(s.domain[e[2]] is not None for e in g.gov_edges(i)):
        return True
    return any(s.domain[e[1]] is not None for e in g.dep_edges(i))


def _p1_negated(g: DepGraph, i: int) -> bool:
    return any(e[0].endswith("neg") for e in g.gov_edges(i))


def _p1_targets(s: Sent, g: DepGraph, out: set[int], idx: int,
                visited: list[bool], filter_reln: str) -> None:
    """getTargets (ppi/Rule1.java:66-83): DFS over governed edges whose
    reln does NOT match ``filter_reln``; collect PROTEIN tokens.  The
    domainSpecific gate is commented out in the reference and therefore
    dead; ported as-is."""
    if visited[idx]:
        return
    visited[idx] = True
    if s.is_protein(idx):
        out.add(idx)
    for (reln, _gov, dep) in g.gov_edges(idx):
        if not re.fullmatch(filter_reln, reln):
            _p1_targets(s, g, out, dep, visited, filter_reln)


def _p1_agents(s: Sent, g: DepGraph, out: set[int], idx: int,
               visited: list[bool], reln_pat: str) -> None:
    """getAgents (ppi/Rule1.java:85-103): DFS over governed edges matching
    ``reln_pat``, plus climbing INCOMING abbrev|appos|conj.* edges (the
    head of a coordination list is the first conjunct)."""
    if visited[idx]:
        return
    visited[idx] = True
    if s.is_protein(idx):
        out.add(idx)
    for (reln, _gov, dep) in g.gov_edges(idx):
        if re.fullmatch(reln_pat, reln):
            _p1_agents(s, g, out, dep, visited, reln_pat)
    for (_reln, gov, _dep) in g.dep_edges(idx, r"abbrev|appos|conj.*"):
        _p1_agents(s, g, out, gov, visited, reln_pat)


def rule_p1(s: Sent, g: DepGraph) -> set[Pair]:
    """ppi.Rule1 (ppi/Rule1.java:24-64): subj/rcmod-seeded agent x target
    candidates with negation-free seeds, the subject subtree masked out of
    the target walk, and min/max pair normalization."""
    out: set[Pair] = set()
    for (reln, gov, dep) in g.edges_matching(_P1_SEED):
        if _p1_negated(g, gov) or _p1_negated(g, dep):
            continue
        agents: set[int] = set()
        targets: set[int] = set()
        visited = [False] * len(s)
        if not re.fullmatch(r"nsubj|nsubjpass", reln):
            _p1_targets(s, g, targets, dep, visited, "NONE")
            _p1_agents(s, g, agents, gov, visited, _P1_AGENT_RCMOD)
        else:
            ri = g.reachable(dep, True, 100) | {dep}
            for r in ri:
                visited[r] = True
            _p1_targets(s, g, targets, gov, visited, "NONE")
            for r in ri:
                visited[r] = False
            visited[dep] = False
            _p1_agents(s, g, agents, dep, visited, _P1_AGENT_SUBJ)
        for a in agents:
            for t in targets:
                out.add((min(a, t), max(a, t)))
    return out


def _p2_reachables(s: Sent, g: DepGraph, out: set[int], idx: int,
                   visited: list[bool]) -> None:
    # getReachables (ppi/Rule2.java:41-57); domainSpecific accumulator dead
    if visited[idx]:
        return
    visited[idx] = True
    if s.is_protein(idx):
        out.add(idx)
    for (reln, _gov, dep) in g.gov_edges(idx):
        if re.fullmatch(_P2_REACH, reln):
            _p2_reachables(s, g, out, dep, visited)


def rule_p2(s: Sent, g: DepGraph) -> set[Pair]:
    """ppi.Rule2 (ppi/Rule2.java:20-39): from every DOMAIN-adjacent or
    PROTEIN token, all ordered pairs among the proteins reachable over
    agent|prep.*|appos|abbrev|nn|amod|dep."""
    out: set[Pair] = set()
    for i in range(len(s)):
        if _inside_domain_phrase(s, g, i) or s.is_protein(i):
            reach: set[int] = set()
            _p2_reachables(s, g, reach, i, [False] * len(s))
            for e1 in reach:
                for e2 in reach:
                    if e1 < e2:
                        out.add((e1, e2))
    return out


def _p3_path_labels(g: DepGraph, src: int, dst: int) -> list[str] | None:
    """Verbatim getPathAsList BFS (SimpleDepGraph.java:420-481).  Unlike
    DepGraph.path_labels (first-parent BFS shared by the shipped rules),
    this walk has NO marked array: a frontier node's parent is overwritten
    by the LAST same-level toucher before its dequeue, so equal-length
    path ties resolve differently — rule_p3's consecutive-label test is
    sensitive to which shortest path comes back, hence the faithful
    replica here (O(V+E) via sorted adjacency standing in for the
    reference's ascending matrix sweep)."""
    from collections import deque
    size = 0
    nbrs: dict[int, set[int]] = {}
    lab: dict[tuple[int, int], str] = {}
    for (reln, gv, dp) in g.edges:
        size = max(size, gv, dp)
        lab[(gv, dp)] = reln          # matrix semantics: last edge wins
        lab[(dp, gv)] = "-" + reln
        nbrs.setdefault(gv, set()).add(dp)
        nbrs.setdefault(dp, set()).add(gv)
    if src > size or dst > size:
        return None
    size += 1
    parent = [0] * size
    visited = [False] * size
    q = deque([src])
    while q:
        v = q.popleft()
        if visited[v]:
            continue
        visited[v] = True
        if v == dst:
            break
        for i in sorted(nbrs.get(v, ())):
            if not visited[i]:
                parent[i] = v + 1
                q.append(i)
    if parent[dst] == 0:
        return None
    out: list[str] = []
    v = dst
    while v != src:
        p = parent[v] - 1
        out.append(lab[(p, v)])
        v = p
    out.reverse()
    return out


def rule_p3(s: Sent, g: DepGraph) -> set[Pair]:
    """ppi.Rule3 (ppi/Rule3.java:21-55): protein pairs whose undirected
    dep path carries two consecutive ``-?prep_between`` labels (the
    domain accumulator along the path is dead code in the reference)."""
    out: set[Pair] = set()
    n = len(s)
    for i in range(n):
        if not s.is_protein(i):
            continue
        for j in range(i + 1, n):
            if not s.is_protein(j):
                continue
            labels = _p3_path_labels(g, i, j)
            if not labels:
                continue
            for k in range(1, len(labels)):
                if re.fullmatch(r"-?prep_between", labels[k]) and \
                        re.fullmatch(r"-?prep_between", labels[k - 1]):
                    out.add((i, j))
                    break
    return out
