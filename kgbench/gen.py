"""Seeded inputs for the KG-construction benchmark.

Both generators are pure functions of ``seed``:

* ``transcripts`` — turns in the engine's input schema
  ``(conv_id, turn_idx, role, text, tool, ts)`` plus the planted gold
  triples of every sentence.  The sentence forms are those of
  ``nlp_lib_spark/fixtures.py`` (domain verbs, nominal relations,
  citations, ``between X and Y``, fused ``a/b`` tokens, negation,
  asides, conjunctions), drawn over a seeded lexicon of thousands of
  entity names instead of the fixture's 15, in the fixture's form mix
  (20 % trivial, chat lines among them), with numbered variants of the
  entity-free forms and sentence-initial discourse connectives on a
  share of the relation sentences.  Sentences are almost all
  distinct, so a per-text memo cannot fake throughput.
* ``skewed_graph`` — a weighted mention-similarity edge list with hub
  entities, long chains and random bridges, the input of the
  connected-components and PageRank layers.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from nlp_lib_spark.fixtures import FIXTURE_DOMAIN
from nlp_lib_spark.kernels.domain import DomainAnnotator
from nlp_lib_spark.kernels.pipeline import KGConfig
from nlp_lib_spark.kernels.stem import stem

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
GRAPH_SCHEMA = pa.schema([("u", pa.string()), ("v", pa.string()),
                          ("w", pa.int64())])

N_ENTITIES = 4000
_ONSETS = ("b", "br", "c", "cr", "d", "f", "g", "gl", "h", "k", "kr", "l",
           "m", "n", "p", "pl", "r", "s", "st", "t", "tr", "v", "z", "x")
_VOWELS = ("a", "e", "i", "o", "u", "y")
_CODAS = ("", "n", "r", "s", "x", "l", "m", "k")
_HEADS = ("kinase", "receptor", "factor", "ligase")
_CONNECTIVES = ("however", "moreover", "therefore", "furthermore", "also")
CONNECTIVE_SHARE = 0.15
_CHAT = ("thanks , can you check sample {n} again ?",
         "ok , i will rerun batch {n} tomorrow .",
         "please send the {a} data from run {n} .",
         "the {a} looks fine in lane {n} .",
         "sure , lane {n} is ready .")
_DOMAIN = DomainAnnotator(FIXTURE_DOMAIN)


def _dval(word: str) -> str:
    """The DOMAIN tag value the annotator assigns to ``word``."""
    return _DOMAIN.tag([word])[0]


def entity_lexicon(seed: int, n: int = N_ENTITIES) -> tuple[tuple[str, ...],
                                                            tuple[str, ...]]:
    """(single-token names, two-word names), disjoint and prefix-free.

    A two-word name's first word is never an entity on its own, so the
    gazetteer's prefix extension cannot split or merge mentions."""
    rng = random.Random(seed * 7919 + 1)
    reserved = {stem(t) for t in FIXTURE_DOMAIN} | set(FIXTURE_DOMAIN)
    seen: set[str] = set()
    names: list[str] = []
    while len(names) < n:
        syl = [rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)
               for _ in range(rng.randrange(2, 4))]
        name = "".join(syl)
        if rng.random() < 0.3:
            name += str(rng.randrange(1, 20))
        if rng.random() < 0.3:
            name = name[:-1] + name[-1].upper()
        low = name.lower()
        if low in seen or low in reserved or stem(low) in reserved:
            continue
        seen.add(low)
        names.append(name)
    n_multi = n // 8
    multi = tuple(f"{b} {rng.choice(_HEADS)}" for b in names[:n_multi])
    return tuple(names[n_multi:]), multi


def kg_config(single: tuple[str, ...], multi: tuple[str, ...]) -> KGConfig:
    return KGConfig(entity_names=single + multi, domain_terms=FIXTURE_DOMAIN)


class _Forms:
    """The fixture sentence forms over a large lexicon; returns
    ``(text, gold)`` with gold a list of (subj, pred, obj).

    The form mix is the fixture's (``fixtures._templates``): ten equally
    likely forms, two of them trivial (one entity; none), so 20 % of
    sentences are trivial.  Half of the entity-free share is chat lines.
    No real transcript sample is in the repo, so this mix is an
    assumption; ``kernels.trivial_skip_ratio`` reports what it gives."""

    def __init__(self, rng: random.Random, single, multi):
        self.rng = rng
        self.single = single
        self.every = single + multi

    def _forms(self) -> tuple[str, list]:
        rng = self.rng
        a, b = rng.sample(self.every, 2)
        roll = rng.randrange(10)
        if roll == 0:
            v = rng.choice(("interacts", "binds"))
            return f"the {a} {v} with the {b} .", [(a, _dval(v), b)]
        if roll == 1:
            return (f"{a} binds to {b} [ {rng.randrange(1, 99)} , "
                    f"{rng.randrange(1, 99)} ] .", [(a, _dval("binds"), b)])
        if roll == 2:
            n = rng.choice(("interaction", "association"))
            return f"{n} of {a} with {b} was observed .", [(a, _dval(n), b)]
        if roll == 3:  # negated: must NOT emit
            return f"the {a} does not regulate the {b} .", []
        if roll == 4:
            return (f"the association between {a} and {b} suggests "
                    "binding .", [(a, "association", b)])
        if roll == 5:  # fused same-token pair (form 4 / RelexRule5)
            x, y = rng.sample(self.single, 2)
            return f"the {x}/{y} interaction was reported .", [
                (x, "interaction", y)]
        if roll == 6:  # parenthesized entity-less aside
            v = rng.choice(("activates", "inhibits"))
            return f"the {a} ( see above ) {v} the {b} .", [(a, _dval(v), b)]
        n = rng.randrange(1, 10 ** 6)
        if roll == 7:  # single entity -> trivial skip
            return f"the {a} was purified on day {n} .", []
        if roll == 8:  # no entity, or a chat line with at most one
            if rng.random() < 0.5:
                return f"the binding buffer {n} was replaced today .", []
            return rng.choice(_CHAT).format(a=a, n=n), []
        c = rng.choice(self.every)
        while c in (a, b):
            c = rng.choice(self.every)
        v = _dval("interacts")
        return f"the {a} interacts with {b} and {c} .", [(a, v, b), (a, v, c)]

    def sentence(self) -> tuple[str, list]:
        text, gold = self._forms()
        # the fixture's forms carry no discourse connective, and without
        # one the discourse and hor_edges stages have nothing to do; the
        # share of relation sentences that open with one is an assumption
        if gold and self.rng.random() < CONNECTIVE_SHARE:
            text = f"{self.rng.choice(_CONNECTIVES)} , {text}"
        return text, gold


def transcripts(seed: int, n_turns: int, single, multi):
    """Returns (turn_rows, gold_rows, sentence_count, distinct_sentences).

    turn_rows: (conv_id, turn_idx, role, text, tool, ts)
    gold_rows: (conv_id, turn_idx, sent_id, subj, pred, obj), lowercased
    entities as the fixture gold does.
    """
    rng = random.Random(seed)
    forms = _Forms(rng, single, multi)
    roles = ("user", "assistant", "tool")
    turns, gold = [], []
    seen: set[str] = set()
    n_sents = 0
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    step = dt.timedelta(seconds=7)
    ci = 0
    while len(turns) < n_turns:
        conv_id = f"c{seed}_{ci:06d}"
        ci += 1
        length = min(40, max(1, int(rng.paretovariate(1.2))),
                     n_turns - len(turns))
        for ti in range(length):
            sents = [forms.sentence() for _ in range(rng.randrange(1, 4))]
            role = roles[ti % 3]
            turns.append((conv_id, ti, role, " ".join(s for s, _ in sents),
                          "search" if role == "tool" else None, ts))
            ts += step
            for sid, (text, g) in enumerate(sents):
                n_sents += 1
                seen.add(text)
                for subj, pred, obj in g:
                    gold.append((conv_id, ti, sid, subj.lower(), pred,
                                 obj.lower()))
    return turns, gold, n_sents, len(seen)


def skewed_graph(seed: int, n_edges: int) -> list[tuple[str, str, int]]:
    """Directed weighted edges ``(u, v, w)`` over mention norms.

    Half the edges attach mentions to 64 Zipf-sized hubs, a third form
    chains of up to 400 links (many connected-components rounds), and the
    rest are random bridges that merge components.  The shape (hub
    degrees, chain lengths) is the same for every seed, so seeds differ
    only in labels, wiring and weights.  Self-loops and duplicate edges
    may occur; both operators accept them."""
    shape = random.Random(0x5EED)
    rng = random.Random(seed * 104729 + 3)
    n_hubs = 64
    hub_w = [1.0 / (k + 1) ** 1.1 for k in range(n_hubs)]
    n_hub_edges = n_edges // 2
    degrees = [int(n_hub_edges * w / sum(hub_w)) for w in hub_w]
    degrees[0] += n_hub_edges - sum(degrees)
    chains: list[int] = []
    while sum(chains) - len(chains) < n_edges // 3:
        chains.append(min(400, max(2, int(shape.paretovariate(0.8) * 8))))
    n_verts = n_hubs + n_hub_edges + sum(chains)
    labels = [f"n{x:07d}" for x in rng.sample(range(10 * n_verts), n_verts)]
    nxt = iter(labels)
    hubs = [next(nxt) for _ in range(n_hubs)]
    edges: list[tuple[str, str, int]] = []
    for h, deg in zip(hubs, degrees):
        for _ in range(deg):
            m = next(nxt)
            pair = (m, h) if rng.random() < 0.5 else (h, m)
            edges.append((*pair, rng.randrange(1, 6)))
    for length in chains:
        chain = [next(nxt) for _ in range(length)]
        edges.extend((a, b, rng.randrange(1, 4))
                     for a, b in zip(chain, chain[1:]))
        if shape.random() < 0.3:  # some chains hang off a hub
            edges.append((chain[-1], rng.choice(hubs), 1))
    while len(edges) < n_edges:
        edges.append((rng.choice(labels), rng.choice(labels),
                      rng.randrange(1, 4)))
    return edges[:n_edges]


def write_parquet(rows: list[tuple], schema: pa.Schema, path: str,
                  n_files: int) -> None:
    """Write ``rows`` as ``n_files`` parquet files under ``path`` (one
    directory, like a table), keeping consecutive rows together."""
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table({f.name: pa.array(c, type=f.type)
                      for f, c in zip(schema, cols)}, schema=schema)
    per = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * per, per),
                       os.path.join(path, f"part-{k:03d}.parquet"))
