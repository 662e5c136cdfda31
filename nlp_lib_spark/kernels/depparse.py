"""Frozen deterministic dependency builder (CC-processed style).

The reference never parses at extraction time in its eval paths — it consumes
*pre-computed* Stanford dependency files (``ppi/MLExtractor.java:61-69``,
``ppi/PreparePPI2.java:118`` for the CCprocessed variant). This module is the
rebuild's frozen, deterministic substitute "parser": a shallow rule
attachment producing exactly the relation vocabulary the RelEx rules consume
(``nsubj/nsubjpass, dobj, prep_<w>, nn, amod, advmod, det, num, conj_<w>,
neg``), with Stanford-style CC distribution of subject/object/prep edges
across conjuncts.

Determinism is the contract: the oracle and the Arrow-UDF pipeline share this
code, so P/R parity only measures distribution correctness.

Each POS tag's word classes are one lookup in a module-level tag table (the
tag set is a closed vocabulary).  Noun-run heads and lexical verbs are
collected left to right, so both lists are sorted: the nearest head or verb
on either side of a token is one ``bisect`` away instead of a scan per
verb, preposition and CC.
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right

from nlp_lib_spark.kernels.postag import BE_FORMS, DO_FORMS, HAVE_FORMS, NEGATIONS

Edge = tuple[str, int, int]

_AUX_WORDS = frozenset(BE_FORMS | DO_FORMS | HAVE_FORMS)

# word classes of a POS tag, as bits
_NOUN, _NP_INNER, _VERB, _RB, _PREP, _CONJ_GAP, _PASSIVE = (
    1 << b for b in range(7))
_NP = _NOUN | _NP_INNER        # may sit in a noun run
_OBJ_GAP = _NP | _RB           # may sit between a verb and its dobj
_MAX_TAGS = 4096


class _TagTable(dict):
    """POS tag -> its class bits, filled on first sight of a tag."""

    def __missing__(self, tag: str) -> int:
        bits = 0
        if tag.startswith("N"):
            bits |= _NOUN
        if tag in ("DT", "JJ", "CD"):
            bits |= _NP_INNER
        if tag.startswith("V") or tag == "MD":
            bits |= _VERB
        if tag == "RB":
            bits |= _RB
        if tag in ("IN", "TO"):
            bits |= _PREP
        if tag in ("CC", ","):  # may sit between two conjuncts
            bits |= _CONJ_GAP
        if tag in ("VBN", "VBD"):
            bits |= _PASSIVE
        if len(self) < _MAX_TAGS:
            self[tag] = bits
        return bits


_TAGS = _TagTable()


def dep_parse(tokens: list[str], pos: list[str]) -> list[Edge]:
    n = len(tokens)
    edges: list[Edge] = []
    cls = [_TAGS[p] for p in pos]

    # ---- 1. noun runs: maximal DT/JJ/CD/NN* spans; head = last noun ----
    run_head = [-1] * n          # token -> head of its noun run (or -1)
    heads: list[int] = []        # run heads, left to right
    i = 0
    while i < n:
        if cls[i] & _NP:
            j = i
            head = -1
            while j < n and cls[j] & _NP:
                if cls[j] & _NOUN:
                    head = j
                j += 1
            if head != -1:
                heads.append(head)
                for k in range(i, j):
                    run_head[k] = head
                    if k == head:
                        continue
                    if pos[k] == "JJ":
                        edges.append(("amod", head, k))
                    elif cls[k] & _NOUN:
                        edges.append(("nn", head, k))
                    elif pos[k] == "CD":
                        edges.append(("num", head, k))
                    elif pos[k] == "DT":
                        edges.append(("det", head, k))
            i = j
        else:
            i = 1 + i
    n_heads = len(heads)

    # ---- 2. verb groups: aux (be/do/have/md) attach to the next verb ----
    lexical: list[int] = []      # left to right
    passive: list[bool] = []     # per lexical verb
    verb_idx = [k for k in range(n) if cls[k] & _VERB]
    n_verbs = len(verb_idx)
    k = 0
    while k < n_verbs:
        v = verb_idx[k]
        w = tokens[v].lower()
        if (w in _AUX_WORDS or pos[v] == "MD") and k + 1 < n_verbs \
                and verb_idx[k + 1] - v <= 3:
            # aux of the following lexical verb
            v2 = verb_idx[k + 1]
            lexical.append(v2)
            passive.append(w in BE_FORMS and cls[v2] & _PASSIVE != 0)
            k += 2
        else:
            lexical.append(v)
            passive.append(False)
            k += 1

    # ---- 3/4/5. subjects, negation, objects per lexical verb ----
    neg_deps: set[int] = set()
    prev_verb = -1
    for v, is_passive in zip(lexical, passive):
        left = bisect_left(heads, v)
        if left:
            edges.append(("nsubjpass" if is_passive else "nsubj", v,
                          heads[left - 1]))
        # a negation binds to v unless another lexical verb sits between
        for m in range(max(0, v - 3, prev_verb), v):
            if tokens[m].lower() in NEGATIONS:
                edges.append(("neg", v, m))
                neg_deps.add(m)
        prev_verb = v
        # direct object: next run head with only DT/JJ/RB/CD between
        right = bisect_right(heads, v)
        if right < n_heads:
            obj = heads[right]
            for b in range(v + 1, obj):
                if not cls[b] & _OBJ_GAP:
                    break
            else:
                edges.append(("dobj", v, obj))

    # ---- 5b. adverbs attach to the nearest lexical verb (advmod) ----
    if lexical:
        n_lex = len(lexical)
        for a in range(n):
            if cls[a] & _RB and a not in neg_deps:
                r = bisect_left(lexical, a)
                if r == n_lex or (r and a - lexical[r - 1] <= lexical[r] - a):
                    r -= 1   # ties go to the left verb
                edges.append(("advmod", lexical[r], a))

    # ---- 6. prepositions: collapsed prep_<word>(gov, obj) ----
    for p in range(n):
        if not cls[p] & _PREP:
            continue
        right = bisect_right(heads, p)
        if right == n_heads:
            continue
        obj = heads[right]
        for b in range(p + 1, obj):
            if not cls[b] & _NP:
                break
        else:
            # governor: preceding noun-run head if adjacent, else nearest
            # verb, else nearest head to the left
            gov = -1
            q = p - 1
            while q >= 0 and cls[q] & _RB:
                q -= 1
            if q >= 0 and run_head[q] != -1 and run_head[q] <= q:
                gov = run_head[q]
            else:
                left = bisect_left(lexical, p)
                if left:
                    gov = lexical[left - 1]
                else:
                    left = bisect_left(heads, p)
                    if left:
                        gov = heads[left - 1]
            if gov != -1 and gov != obj:
                edges.append((f"prep_{tokens[p].lower()}", gov, obj))

    # ---- 7. conjunctions + CC distribution ----
    conj_pairs: list[tuple[int, int]] = []
    for c in range(n):
        if pos[c] != "CC":
            continue
        left = bisect_left(heads, c)
        right = bisect_right(heads, c)
        if not left or right == n_heads:
            continue
        a, b = heads[left - 1], heads[right]
        for g in range(a + 1, b):
            if g != c and run_head[g] != a and run_head[g] != b \
                    and not cls[g] & _CONJ_GAP:
                break
        else:
            cw = tokens[c].lower()
            conj_pairs.append((a, b))
            edges.append((f"conj_{cw}", a, b))
    if conj_pairs:
        have = set(edges)
        for a, b in conj_pairs:
            extra: list[Edge] = []
            for reln, g, d in edges:
                if d == a and (reln in ("nsubj", "nsubjpass", "dobj")
                               or reln.startswith("prep_")):
                    extra.append((reln, g, b))
            for e in extra:
                if e not in have:
                    edges.append(e)
                    have.add(e)

    return edges
