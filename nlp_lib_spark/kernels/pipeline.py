"""Per-turn annotate->extract pipeline (the shared hot-path kernel).

Stage order mirrors the reference's flagship entry point
``main/WBioRelEx.process`` (WBioRelEx.java:286-360):

    strip citations -> sentence split -> tokenize -> gazetteer IOB
    -> blind entities -> (skip if <2 entities) -> simplify parentheticals
    -> POS -> DOMAIN annotate -> dependency build (CC-processed)
    -> rule union -> (subj, pred, obj)

This module is pure Python. The distributed engine calls ``extract_turn``
inside Arrow ``mapInPandas`` batches; the test oracle calls it directly on
a single process. The triple predicate is the DOMAIN key term nearest the
pair (the reference exposes the same via its DOMAIN tag / key-term feature,
``ppi/PPIPipe2.java:450-525``), falling back to ``interacts_with``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from nlp_lib_spark.kernels.blind import blind
from nlp_lib_spark.kernels.depparse import dep_parse
from nlp_lib_spark.kernels.domain import DomainAnnotator
from nlp_lib_spark.kernels.gazetteer import Gazetteer
from nlp_lib_spark.kernels.postag import pos_tag
from nlp_lib_spark.kernels.rules import predict_interactions
from nlp_lib_spark.kernels.simplify import simplify
from nlp_lib_spark.kernels.stem import stem
from nlp_lib_spark.kernels.text import split_sentences, strip_citations, tokenize


@dataclass(frozen=True)
class KGConfig:
    """Frozen lexicons for one deployment; broadcast to executors.

    ``max_sent_tokens`` / ``max_mentions`` are straggler guards: the rule
    engine is O(pairs x sentence-length) per sentence, so one adversarial
    degenerate row (a 2000-mention run-on "sentence" in web-scale garbage)
    would otherwise pin an executor core for minutes while its 10^6
    well-formed neighbors finish in milliseconds.  Oversize token runs are
    dropped entirely (mirrored by a token-count filter in the annotation
    oracles); mention floods keep the linear annotation layers but skip
    the quadratic pair rules.  The reference's corpora never approach
    these bounds; real prose sentences are < 100 tokens."""

    entity_names: tuple[str, ...]
    domain_terms: tuple[str, ...]
    max_sent_tokens: int = 256
    max_mentions: int = 64

    def build(self) -> "KGRuntime":
        return KGRuntime(self)


class KGRuntime:
    """Compiled lexicons (prefix trie set, stemmed domain dict, verb stems)."""

    __slots__ = ("gazetteer", "domain", "verb_stems", "max_sent_tokens",
                 "max_mentions")

    def __init__(self, cfg: KGConfig):
        self.gazetteer = Gazetteer(cfg.entity_names)
        self.domain = DomainAnnotator(cfg.domain_terms)
        self.verb_stems = frozenset(stem(t) for t in cfg.domain_terms)
        self.max_sent_tokens = cfg.max_sent_tokens
        self.max_mentions = cfg.max_mentions


def annotate_sentence(rt: KGRuntime, sentence: str,
                      full: bool = False) -> dict | None:
    """Full annotation of one raw sentence; returns all layers.

    ``full=False`` keeps the reference's trivial-sentence short-circuit
    (skip POS/parse/extract when <2 entities, WBioRelEx.java:310-340).
    ``full=True`` annotates every layer regardless — the discourse stack
    consumes POS/edges for every sentence (ExtractHOR.java:104-120).

    Straggler guards (KGConfig): a token run longer than
    ``max_sent_tokens`` is not prose — the sentence is DROPPED entirely
    (returns None; every caller skips it, and the annotation-chain
    DuckDB oracles carry the same token-count filter so parity holds).
    A sentence with more than ``max_mentions`` gazetteer mentions is
    annotated normally but skips pair extraction (``pairs`` stays empty)
    — the quadratic cost lives in the pair rules, not the linear layers.
    """
    tokens = tokenize(sentence)
    if len(tokens) > rt.max_sent_tokens:
        return None
    iob = rt.gazetteer.tag_iob(tokens)
    blinded, mapping, entity_count = blind(tokens, iob)
    out = {
        "tokens": tokens,
        "iob": iob,
        "blinded": blinded,
        "mapping": mapping,
        "entity_count": entity_count,
        "pos": None,
        "domain": None,
        "edges": None,
        "pairs": [],
    }
    if entity_count <= 1 and not full:  # trivial skip
        return out
    if entity_count <= 1:
        pos = pos_tag(blinded, rt.verb_stems)
        domain = rt.domain.tag(blinded)
        edges = dep_parse(blinded, pos)
        out.update({"pos": pos, "domain": domain, "edges": edges})
        return out
    blinded = simplify(blinded)
    pos = pos_tag(blinded, rt.verb_stems)
    domain = rt.domain.tag(blinded)
    edges = dep_parse(blinded, pos)
    if entity_count > rt.max_mentions:
        pairs = []  # mention-flood guard: linear layers kept, O(n^2) rules skipped
    else:
        pairs = sorted(predict_interactions(blinded, pos, domain, edges))
    out.update({"blinded": blinded, "pos": pos, "domain": domain,
                "edges": edges, "pairs": pairs})
    return out


def _pred_term(domain: list[str | None], i: int, j: int) -> str:
    """Predicate = nearest DOMAIN key term: between the pair first, then a
    5-token window left of e1, then right of e2; else 'interacts_with'."""
    for k in range(i + 1, j):
        if domain[k] is not None:
            return domain[k]
    lo = max(0, i - 5)
    for k in range(i - 1, lo - 1, -1):
        if domain[k] is not None:
            return domain[k]
    hi = min(len(domain), j + 6)
    for k in range(j + 1, hi):
        if domain[k] is not None:
            return domain[k]
    return "interacts_with"


def resolve_surface(mapping: dict[str, str], token: str) -> str:
    """Blinded placeholder -> surface form: direct map hit, else per-part
    resolution for fused ``PROTEINa/PROTEINb`` tokens (the shared emit
    rule of the rule / ML / kernel extraction paths)."""
    hit = mapping.get(token)
    if hit is not None:
        return hit
    return "/".join(mapping.get(p, p) for p in token.split("/"))


def fused_subj_obj(mapping: dict[str, str],
                   token: str) -> tuple[str, str] | None:
    """Subj/obj resolution for a fused same-token pair (i == j): the two
    ``/``-joined placeholder parts resolve independently. None when the
    token is not actually fused — the shared emit rule of the rule / ML
    extraction paths (keep in ONE place; it diverged silently once)."""
    parts = token.split("/")
    if len(parts) < 2:
        return None
    return mapping.get(parts[0], parts[0]), mapping.get(parts[1], parts[1])


def pair_subj_obj(mapping: dict[str, str], blinded, i: int,
                  j: int) -> tuple[str, str] | None:
    """Token pair -> (subj, obj) surface forms; None for a same-token pair
    (RelexRule5) whose token is not fused. The one pair emit rule of the
    rule / ML / kernel extraction paths."""
    if i == j:
        return fused_subj_obj(mapping, blinded[i])
    return (resolve_surface(mapping, blinded[i]),
            resolve_surface(mapping, blinded[j]))


def emit_triples(blinded, mapping: dict[str, str],
                 domain: list[str | None], pairs) -> list[tuple]:
    """(e1_tok, e2_tok, subj, pred, obj) per predicted pair — shared by the
    fused chain (triples_for_sentence) and the staged one
    (operators/extract.annotate_turns)."""
    out = []
    for (i, j) in pairs:
        so = pair_subj_obj(mapping, blinded, i, j)
        if so is not None:
            out.append((i, j, so[0], _pred_term(domain, i, j), so[1]))
    return out


def triples_for_sentence(rt: KGRuntime, sentence: str) -> list[tuple]:
    """(e1_tok, e2_tok, subj, pred, obj) per predicted pair."""
    ann = annotate_sentence(rt, sentence)
    if ann is None or not ann["pairs"]:
        return []
    return emit_triples(ann["blinded"], ann["mapping"], ann["domain"],
                        ann["pairs"])


def extract_turn(rt: KGRuntime, text: str) -> list[tuple]:
    """Turn text -> [(sent_id, e1, e2, subj, pred, obj)] — the flagship path."""
    cleaned = strip_citations(text)  # WBioRelEx.java:293
    out = []
    for sent_id, sentence in enumerate(split_sentences(cleaned)):
        for (i, j, subj, pred, obj) in triples_for_sentence(rt, sentence):
            out.append((sent_id, i, j, subj, pred, obj))
    return out
