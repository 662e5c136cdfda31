"""Fuzz the rule-chain SQL oracles beyond the driver corpus.

Synthesizes a documents parquet whose template slots carry an adversarial
vocabulary (verb morphology, auxiliaries, modals, conjunctions, numerals,
punctuation-ish tokens) so the dep-parse and rule SQL replicas exercise
branches the fixed testdata never reaches (num/det edges, conj_or, MD verb
groups, passive aux chains, advmod attachment). Then diffs DuckDB oracle
output against the Python kernels exactly like dev_oracle_diff.py.

Usage: python3 scripts/dev_oracle_fuzz.py [n_docs] [seed] [what...]
"""
from __future__ import annotations

import random
import os
import sys
import tempfile
from collections import defaultdict

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.abspath(__file__)), os.pardir))

from nlp_lib_spark import oracles
from nlp_lib_spark.kernels.depgraph import DepGraph
from nlp_lib_spark.kernels.pipeline import annotate_sentence
from nlp_lib_spark.kernels.rules import Sent, predict_interactions
from nlp_lib_spark.kernels.text import split_sentences, strip_citations
from nlp_lib_spark.lexicons import TESTDATA_CONFIG
from nlp_lib_spark.operators.transcripts import transcripts_select_sql

# slot words chosen to stress POS/dep branches: gerunds/participles (VBG/VBN
# paths), auxiliaries and modals (verb-group state machine), numbers (num
# edges + CD runs), conjunctions (conj_or + CC distribution), adverbs
# (advmod + prep-gov RB skip), entity vocabulary (mention machinery)
ADVERSARIAL = [
    "spark", "table", "row", "vector", "binding", "regulated", "activating",
    "was", "been", "will", "may", "42", "7", "or", "and", "not", "never",
    "strongly", "very", "big", "novel", "interaction", "merge", "scan",
    "hash", "window", "key", "batch", "value", "therefore", "however",
    "results", "showed", "observed", "suggests", "inhibits", "customer",
    # round-2 additions stressing the text primitives themselves:
    ".",                           # sentence boundary inside a turn
    "(", ")",                      # paren spans for the simplify prune
    "[3,4]",                       # citation bracket -> strip_citations
    "spark/table", "vector/row",   # slash-fused entity tokens (rule5/form4)
    "SPARK", "Table",              # case folding in the gazetteer
    "don't", "anti-spark",         # apostrophe / hyphen fused tokens
    "join", "group",               # second words of multiword entities
    "tab",                         # prefix of an entity, not an entity
    "sorted", "filtering",         # stem-fallback domain hits
    # round-3 additions: ambiguous discourse connectives (the sense
    # classifier's context-flip path) + a multiword-connective second word
    "since", "but", "when", "then", "also", "meanwhile",
    "PROTEIN0", "PROTEIN99x",      # raw tokens colliding with the blinded
    "protein",                     # placeholder namespace (is_protein is a
                                   # substring test; resolution must agree)
]


def make_docs(n: int, seed: int) -> pd.DataFrame:
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        # 14 words: the transcripts derivation reads positions 3, 5, 9, 12
        words = [rng.choice(ADVERSARIAL) for _ in range(14)]
        rows.append((i, " ".join(words)))
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 600
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1234
    whats = sys.argv[3:] or ["deps", "union", "triples", "lll", "lll_ml",
                             "relx", "ml", "kernel", "wgp", "relcand",
                             "crf", "discourse", "hor"]
    return run_fuzz(n_docs, seed, whats)


def run_fuzz(n_docs: int, seed: int, whats: list[str]) -> int:
    """Programmatic entry (pytest guards a small configuration of this)."""
    with tempfile.TemporaryDirectory() as td:
        pq = f"{td}/documents.parquet"
        con = duckdb.connect()
        con.register("docs_df", make_docs(n_docs, seed))
        con.execute(f"COPY docs_df TO '{pq}' (FORMAT PARQUET)")
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}')")
        rows = con.execute(
            transcripts_select_sql("documents", "duckdb", with_ts=False)
        ).fetchall()

        rt = TESTDATA_CONFIG.build()
        failures = 0
        for what in whats:
            if what in ("lll", "lll_ml", "relx"):
                failures += _check_lll(con, rows, what)
                continue
            if what in ("ml", "kernel", "wgp", "relcand", "crf",
                        "discourse", "hor"):
                failures += _check_ext(con, rows, what)
                continue
            py: dict[tuple, set] = defaultdict(set)
            for conv_id, turn_idx, _role, text, _tool in rows:
                if not text:
                    continue
                for sid, sentence in enumerate(
                        split_sentences(strip_citations(text))):
                    ann = annotate_sentence(rt, sentence)
                    if ann is None or not (
                            2 <= ann["entity_count"]
                            <= TESTDATA_CONFIG.max_mentions):
                        continue
                    key = (conv_id, turn_idx, sid)
                    if what == "deps":
                        py[key] = set(ann["edges"])
                    elif what == "union":
                        py[key] = predict_interactions(
                            ann["blinded"], ann["pos"], ann["domain"],
                            ann["edges"])
                    elif what == "triples":
                        from nlp_lib_spark.kernels.pipeline import \
                            triples_for_sentence
                        for row in triples_for_sentence(rt, sentence):
                            py[key].add(row)

            sql = {"deps": oracles.dep_edges_oracle_sql,
                   "union": oracles.union_pairs_oracle_sql,
                   "triples": oracles.triples_oracle_sql}[what]()
            failures += _report(what, py, _sql_groups(con, sql))
        return 1 if failures else 0


def _sql_groups(con, sql: str, arity: int = 3) -> dict[tuple, set]:
    """Oracle output grouped by its first ``arity`` key columns."""
    sq: dict[tuple, set] = defaultdict(set)
    for row in con.execute(sql).fetchall():
        sq[tuple(row[:arity])].add(tuple(row[arity:]))
    return sq


def _report(what: str, py: dict[tuple, set], sq: dict[tuple, set]) -> int:
    bad = [k for k in set(py) | set(sq)
           if py.get(k, set()) != sq.get(k, set())]
    npy = sum(len(v) for v in py.values())
    print(f"[{what}] groups={len(set(py) | set(sq))} "
          f"mismatched={len(bad)} items={npy}")
    for k in bad[:5]:
        print("  DIFF", k,
              "py-only", sorted(py.get(k, set()) - sq.get(k, set()))[:4],
              "sql-only", sorted(sq.get(k, set()) - py.get(k, set()))[:4])
    return len(bad)


def _check_lll(con, rows, what: str) -> int:
    """Fuzz the legacy-LLL oracles (rule union / MERelex scoring): the
    canonical-equivalence assumptions documented in
    oracles.lll_triples_oracle_sql are corpus-dependent, so adversarial
    vocabulary is exactly where they would break first."""
    from nlp_lib_spark.gate import lll_config
    from nlp_lib_spark.kernels.depgraph import DepGraph
    from nlp_lib_spark.kernels.depparse import dep_parse
    from nlp_lib_spark.kernels.lll_relex import lex_chunk, resolve_surface
    from nlp_lib_spark.kernels.postag import pos_tag
    from nlp_lib_spark.kernels.relex_pipe import relex_features
    from nlp_lib_spark.kernels.scoring import load_model, score
    from nlp_lib_spark.kernels.text import tokenize
    from nlp_lib_spark.operators.lll import (DEFAULT_LLL_ML_MODEL_PATH,
                                             lll_turn)

    from nlp_lib_spark.kernels.relex_pipe import extended_relex_interactions
    from nlp_lib_spark.kernels.relx_rules import XSent
    from nlp_lib_spark.operators.lll import _relx_surface

    cfg = lll_config()
    rt = cfg.build()
    weights, bias = load_model(DEFAULT_LLL_ML_MODEL_PATH)
    py: dict[tuple, set] = defaultdict(set)
    for conv_id, turn_idx, _role, text, _tool in rows:
        if not text:
            continue
        if what == "relx":
            for sid, sentence in enumerate(
                    split_sentences(strip_citations(text))):
                tokens = tokenize(sentence)
                if not tokens or len(tokens) > rt.max_sent_tokens:
                    continue
                lexe = rt.lexicon.annotate(tokens)
                pos = pos_tag(tokens, rt.verb_stems)
                g = DepGraph(dep_parse(tokens, pos))
                s = XSent(tokens, pos, lexe)
                for (a, t) in extended_relex_interactions(
                        s, g, rt.restriction):
                    sa = lex_chunk(tokens, lexe, a)
                    st = lex_chunk(tokens, lexe, t)
                    if sa is None or st is None:
                        continue
                    py[(conv_id, turn_idx, sid)].add(
                        (a, t, _relx_surface(sa, rt.lexicon),
                         "genic_interaction", _relx_surface(st, rt.lexicon)))
        elif what == "lll":
            for (sid, a, t, subj, pred, obj) in lll_turn(rt, text):
                py[(conv_id, turn_idx, sid)].add((a, t, subj, pred, obj))
        else:
            for sid, sentence in enumerate(
                    split_sentences(strip_citations(text))):
                tokens = tokenize(sentence)
                if not tokens or len(tokens) > rt.max_sent_tokens:
                    continue
                lexe = rt.lexicon.annotate(tokens)
                bs = [i for i, tg in enumerate(lexe) if tg == "B"]
                if len(bs) < 2:
                    continue
                pos = pos_tag(tokens, rt.verb_stems)
                g = DepGraph(dep_parse(tokens, pos))
                for ai, i in enumerate(bs):
                    for j in bs[ai + 1:]:
                        p = score(relex_features(tokens, g, i, j),
                                  weights, bias)
                        if p <= 0.5:
                            continue
                        si = lex_chunk(tokens, lexe, i)
                        sj = lex_chunk(tokens, lexe, j)
                        if si is None or sj is None:
                            continue
                        py[(conv_id, turn_idx, sid)].add(
                            (i, j, resolve_surface(si, rt.lexicon),
                             "genic_interaction",
                             resolve_surface(sj, rt.lexicon),
                             round(p * 10000)))
    sql = {"lll": oracles.lll_triples_oracle_sql,
           "lll_ml": oracles.lll_ml_triples_oracle_sql,
           "relx": oracles.relx_triples_oracle_sql}[what]()
    return _report(what, py, _sql_groups(con, sql))


def _check_ext(con, rows, what: str) -> int:
    """Fuzz the round-2 oracle families: MaxEnt scoring (ml), kernel
    prototype scoring (kernel), typed WGP extraction (wgp), directed-BFS
    candidates (relcand), the trained sequence tagger (crf), and the
    discourse stack incl. the cross-turn Arg1 window (discourse / hor).

    Each mirrors its Spark gate query exactly (same guards, same emit
    tuple, same integer score quantization) with pure-Python kernels, so
    a diff against the DuckDB oracle isolates oracle bugs on vocabulary
    the committed corpus never reaches."""
    from nlp_lib_spark.kernels.pipeline import (_pred_term,
                                                annotate_sentence,
                                                resolve_surface)

    rt = TESTDATA_CONFIG.build()
    py: dict[tuple, set] = defaultdict(set)
    arity = {"wgp": 2, "hor": 1}.get(what, 3)

    def _surfaces(ann, i, j):
        m = ann["mapping"]
        if i == j:  # fused self-pair: parts are subj/obj
            parts = ann["blinded"][i].split("/")
            if len(parts) < 2:
                return None
            return m.get(parts[0], parts[0]), m.get(parts[1], parts[1])
        return (resolve_surface(m, ann["blinded"][i]),
                resolve_surface(m, ann["blinded"][j]))

    if what == "ml":
        from nlp_lib_spark.kernels.scoring import (DEFAULT_MODEL_PATH,
                                                   load_model, score)
        from nlp_lib_spark.operators.ml import candidate_pairs_for_sentence
        weights, bias = load_model(DEFAULT_MODEL_PATH)
        for conv, ti, _role, text, _tool in rows:
            if not text:
                continue
            for sid, sent in enumerate(
                    split_sentences(strip_citations(text))):
                for ann, i, j, feats in candidate_pairs_for_sentence(
                        rt, sent):
                    p = score(feats, weights, bias)
                    if p <= 0.5:
                        continue
                    so = _surfaces(ann, i, j)
                    if so is None:
                        continue
                    py[(conv, ti, sid)].add(
                        (i, j, so[0], _pred_term(ann["domain"], i, j),
                         so[1], int(round(round(p, 4) * 10000))))
        sql = oracles.ml_triples_oracle_sql()

    elif what == "kernel":
        from nlp_lib_spark.kernels.kernelscore import prototype_score
        from nlp_lib_spark.operators.kernel_score import (
            GATE_PROTOTYPE_SENTENCES, build_prototypes,
            instances_for_sentence)
        protos = build_prototypes(TESTDATA_CONFIG,
                                  list(GATE_PROTOTYPE_SENTENCES))
        for conv, ti, _role, text, _tool in rows:
            if not text:
                continue
            for sid, sent in enumerate(
                    split_sentences(strip_citations(text))):
                for ann, _g, inst in instances_for_sentence(rt, sent):
                    s = prototype_score(inst, protos, "lcs")
                    if s < 0.5:
                        continue
                    so = _surfaces(ann, inst["e1"], inst["e2"])
                    if so is None:
                        continue
                    py[(conv, ti, sid)].add(
                        (inst["e1"], inst["e2"], so[0], "interacts_with",
                         so[1], inst["type"],
                         int(round(round(s, 6) * 1000000))))
        sql = oracles.kernel_triples_oracle_sql()

    elif what == "wgp":
        from nlp_lib_spark.kernels.text import tokenize
        from nlp_lib_spark.operators.wgp import typed_relations_for_sentence
        for conv, ti, _role, text, _tool in rows:
            if not text:
                continue
            for sid, sent in enumerate(
                    split_sentences(strip_citations(text))):
                toks = tokenize(sent)
                iob = rt.gazetteer.tag_iob(toks)
                tags, k = [], -1
                for t in iob:  # gate's deterministic alternating typing
                    if t.startswith("B-"):
                        k += 1
                        tags.append("B-G" if k % 2 == 0 else "B-P")
                    elif t.startswith("I-"):
                        tags.append("I-G" if k % 2 == 0 else "I-P")
                    else:
                        tags.append("O")
                for (g, p, ph) in typed_relations_for_sentence(
                        rt, toks, tags):
                    py[(f"{conv}:{ti}", sid)].add((g, p, ph))
        sql = oracles.wgp_triples_oracle_sql()

    elif what == "relcand":
        from nlp_lib_spark.kernels.rules import rel_candidates
        for conv, ti, _role, text, _tool in rows:
            if not text:
                continue
            for sid, sent in enumerate(
                    split_sentences(strip_citations(text))):
                ann = annotate_sentence(rt, sent, full=True)
                if ann is None or not (
                        2 <= ann["entity_count"] <= rt.max_mentions):
                    continue
                for (i, j) in rel_candidates(ann["blinded"], ann["pos"],
                                             ann["domain"], ann["edges"]):
                    py[(conv, ti, sid)].add((i, j))
        sql = oracles.rel_candidates_oracle_sql()

    elif what == "crf":
        import json

        from nlp_lib_spark.kernels.crf import (DEFAULT_CRF_MODEL_PATH,
                                               tagset_of, viterbi)
        with open(DEFAULT_CRF_MODEL_PATH) as fh:
            weights = json.load(fh)["weights"]
        tags = tagset_of(weights)
        for conv, ti, _role, text, _tool in rows:
            if not text:
                continue
            for sid, sent in enumerate(
                    split_sentences(strip_citations(text))):
                ann = annotate_sentence(rt, sent, full=True)
                if ann is None:
                    continue
                seq = viterbi(ann["blinded"], ann["pos"] or [], tags,
                              weights)
                for idx, tag in enumerate(seq):
                    py[(conv, ti, sid)].add((idx, tag))
        sql = oracles.crf_tags_oracle_sql()

    else:  # discourse / hor
        disc_rows, trip = _discourse_py(con, rows, rt)
        if what == "discourse":
            for d in disc_rows:
                py[(d[0], d[1], d[2])].add(d[3:])
            sql = oracles.discourse_oracle_sql()
        else:
            for (conv, ti, sid, conn, _cs, _ce, sense, _a2, a1t, a1s,
                 _a1h) in disc_rows:
                if a1t < 0 or (a1t, a1s) == (ti, sid):
                    continue
                for t2 in trip.get((conv, ti, sid), ()):
                    for t1 in trip.get((conv, a1t, a1s), ()):
                        py[(conv,)].add((sense, conn, a1t, a1s) + t1
                                        + (ti, sid) + t2)
            sql = oracles.hor_edges_oracle_sql()

    return _report(what, py, _sql_groups(con, sql, arity))


def _discourse_py(con, rows, rt):
    """Pure-Python mirror of operators/discourse.discourse_relations (the
    ``_LOOKBACK``-sentence history over each conversation's ordered
    annotation stream) plus the per-sentence triples the HOR join
    consumes."""
    from nlp_lib_spark.kernels.discourse import (_LOOKBACK,
                                                 ConnectiveLexicon,
                                                 discourse_for_sentence,
                                                 main_head)
    from nlp_lib_spark.kernels.pipeline import (annotate_sentence,
                                                extract_turn)
    lex = ConnectiveLexicon()
    ann_rows = []
    trip: dict[tuple, list] = defaultdict(list)
    for conv, ti, _role, text, _tool in rows:
        if not text:
            continue
        for sid, sent in enumerate(split_sentences(strip_citations(text))):
            ann = annotate_sentence(rt, sent, full=True)
            if ann is None:
                continue
            ann_rows.append((conv, int(ti), sid, ann["blinded"],
                             ann["pos"] or [], ann["edges"] or []))
        for (sid, _i, _j, subj, pred, obj) in extract_turn(rt, text):
            trip[(conv, int(ti), sid)].append((subj, pred, obj))
    ann_rows.sort(key=lambda r: (r[0], r[1], r[2]))
    disc = []
    hist: dict[str, list] = {}
    for conv, ti, sid, blinded, pos, edges in ann_rows:
        h = hist.setdefault(conv, [])
        prev = h[-_LOOKBACK:][::-1]  # nearest previous sentence first
        if blinded:  # empty rows still enter the window below
            for rel in discourse_for_sentence(blinded, pos, edges, lex,
                                              [p[2] for p in prev]):
                off = rel["arg1_offset"]
                if 0 < off <= len(prev):
                    a1t, a1s = prev[off - 1][0], prev[off - 1][1]
                elif off == 0:
                    a1t, a1s = ti, sid
                else:
                    a1t, a1s = -1, -1
                disc.append((conv, ti, sid, rel["conn"],
                             rel["conn_start"], rel["conn_end"],
                             rel["sense"], rel["arg2_head"], a1t, a1s,
                             rel["arg1_head"]))
        h.append((ti, sid, main_head(blinded, pos)))
    return disc, trip


if __name__ == "__main__":
    sys.exit(main())
