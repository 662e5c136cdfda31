"""Discourse-connective stack kernels.

Re-expresses the reference's discourse pipeline (SURVEY.md §2.7):

* Connective detection — longest lexicon match up to 4 tokens with the
  consume-and-resume scan of ``integration/ConnectiveExtractor.java:85-107``
  (``i = j`` after a match). The reference follows the lexicon match with a
  MaxEnt accept; this rebuild's frozen substitute accepts every lexicon
  match (the lexicon is the precision device — categories below are PDTB
  top-level senses).
* Sense — conn -> category map (``ling/analyzers/ConnectiveAnalyzer.java:30-48``).
* Arg2 head — candidate heads are tokens outside the connective with POS
  ``VB*|NN*|JJ*|MD`` (``integration/Arg2Extractor.java:49-59``); the
  reference ranks with a classifier, the rebuild's frozen ranker picks the
  nearest candidate right of the connective, else nearest left.
* Arg1 head — candidates from undirected dep-BFS (budget 10) around the
  connective head in the same sentence plus *main heads of previous
  sentences* with a decaying budget (``integration/Arg1Extractor.java:59-109``);
  frozen ranker: for a sentence-initial connective prefer the most recent
  previous-sentence main head (cross-sentence/turn), else the nearest
  in-sentence candidate left of the connective.

All functions are pure over token/POS/edge arrays so they run inside Arrow
UDF batches and the oracle alike.
"""

from __future__ import annotations

import re

from nlp_lib_spark.kernels.depgraph import DepGraph

# PDTB-style top-level categories for a compact frozen lexicon.
DEFAULT_CONNECTIVES: dict[str, str] = {
    "because": "Contingency",
    "since": "Contingency",
    "as a result": "Contingency",
    "therefore": "Contingency",
    "thus": "Contingency",
    "consequently": "Contingency",
    "so that": "Contingency",
    "however": "Comparison",
    "but": "Comparison",
    "although": "Comparison",
    "whereas": "Comparison",
    "on the other hand": "Comparison",
    "in contrast": "Comparison",
    "moreover": "Expansion",
    "furthermore": "Expansion",
    "in addition": "Expansion",
    "also": "Expansion",
    "for example": "Expansion",
    "then": "Temporal",
    "when": "Temporal",
    "after": "Temporal",
    "before": "Temporal",
    "meanwhile": "Temporal",
    "subsequently": "Temporal",
}

_ARG_POS = re.compile(r"VB.*|NNS?|JJ.*|MD")
_ARG2_POS = re.compile(r"VB.*|NN.*|JJ.*|MD.*|AUX.*")


_LOOKBACK = 5  # previous sentences of history fed to the Arg1 ranker


class ConnectiveLexicon:
    __slots__ = ("conn2cat", "max_len")

    def __init__(self):
        self.conn2cat = {k.lower(): v for k, v in DEFAULT_CONNECTIVES.items()}
        self.max_len = 4  # ConnectiveExtractor.java:89

    def find(self, tokens: list[str]) -> list[tuple[int, int]]:
        """Longest-match connective spans (start, end) inclusive."""
        out: list[tuple[int, int]] = []
        low = [t.lower() for t in tokens]
        i = 0
        n = len(tokens)
        while i < n:
            j = -1
            for k in range(self.max_len):
                if i + k >= n:
                    break
                phrase = " ".join(low[i:i + k + 1])
                if phrase in self.conn2cat:
                    j = i + k
            if j != -1:
                out.append((i, j))
                i = j + 1  # java: i = j, then loop i++
            else:
                i += 1
        return out

    def sense(self, tokens: list[str], span: tuple[int, int]) -> str:
        phrase = " ".join(t.lower() for t in tokens[span[0]:span[1] + 1])
        return self.conn2cat.get(phrase, "Expansion")


def main_head(tokens: list[str], pos: list[str]) -> int:
    """Frozen substitute for the Collins head of the root clause: the first
    lexical verb, else the first noun, else token 0. Deterministic."""
    for i, p in enumerate(pos):
        if p.startswith("V"):
            return i
    for i, p in enumerate(pos):
        if p.startswith("N"):
            return i
    return 0


def arg2_head(tokens: list[str], pos: list[str],
              span: tuple[int, int]) -> int:
    """Nearest eligible head right of the connective, else nearest left."""
    s, e = span
    best = -1
    for i in range(e + 1, len(tokens)):
        if _ARG2_POS.fullmatch(pos[i]):
            best = i
            break
    if best == -1:
        for i in range(s - 1, -1, -1):
            if _ARG2_POS.fullmatch(pos[i]):
                best = i
                break
    return best


def arg1_candidates(pos: list[str], edges, span: tuple[int, int],
                    prev_heads: list[int],
                    ) -> list[tuple[int, int]]:
    """Candidate (line_offset, token) Arg1 heads.

    line_offset 0 = this sentence; k>0 = k sentences back (may cross turns).
    Mirrors the budget decay of Arg1Extractor.getCandidates: same-sentence
    BFS distance 10 around the connective start; each step back in history
    costs 2 budget, main head of that sentence is the candidate.
    """
    g = DepGraph(edges or [])
    conn_head = span[0]
    out: list[tuple[int, int]] = []
    for i in sorted(g.reachable(conn_head, directed=False, max_dist=10)):
        if _ARG_POS.fullmatch(pos[i]):
            out.append((0, i))
    budget = 10
    for k, head in enumerate(prev_heads, start=1):
        budget -= 2
        if budget < 0:
            break
        if head >= 0:
            out.append((k, head))
    return out


def arg1_head(pos: list[str], edges, span: tuple[int, int],
              prev_heads: list[int]) -> tuple[int, int]:
    """Frozen Arg1 ranker. Returns (line_offset, token) or (-1, -1)."""
    cands = arg1_candidates(pos, edges, span, prev_heads)
    if not cands:
        return (-1, -1)
    sentence_initial = span[0] == 0
    prev = [c for c in cands if c[0] > 0]
    if sentence_initial and prev:
        return min(prev)  # most recent previous sentence
    same = [c for c in cands if c[0] == 0 and c[1] < span[0]]
    if same:
        return max(same)  # nearest left of the connective
    return cands[0]


def discourse_for_sentence(tokens: list[str], pos: list[str], edges,
                           lex: ConnectiveLexicon,
                           prev_heads: list[int]) -> list[dict]:
    """All discourse relations anchored in one sentence."""
    out = []
    for span in lex.find(tokens):
        a2 = arg2_head(tokens, pos, span)
        a1 = arg1_head(pos, edges, span, prev_heads)
        out.append({
            "conn_start": span[0], "conn_end": span[1],
            "conn": " ".join(tokens[span[0]:span[1] + 1]).lower(),
            "sense": lex.sense(tokens, span),
            "arg2_head": a2,
            "arg1_offset": a1[0], "arg1_head": a1[1],
        })
    return out
