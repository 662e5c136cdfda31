"""ML relation extraction: candidate featurize + broadcast MaxEnt scoring.

Distributed analogue of ``WBioRelEx.getMLPredictions``
(main/WBioRelEx.java:363-380): every ordered PROTEIN pair (i<j) in a
sentence is a candidate; features via ``kernels.features``; accept when
sigmoid score > 0.5. The weight dict is broadcast once per job.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from nlp_lib_spark.kernels.depgraph import DepGraph
from nlp_lib_spark.kernels.features import pair_features
from nlp_lib_spark.kernels.pipeline import (KGConfig, _pred_term,
                                            annotate_sentence,
                                            pair_subj_obj, resolve_surface)
from nlp_lib_spark.kernels.scoring import score
from nlp_lib_spark.kernels.text import split_sentences, strip_citations

ML_TRIPLES_SCHEMA = ("conv_id string, turn_idx int, sent_id int, "
                     "e1 int, e2 int, subj string, pred string, obj string, "
                     "p double")

_FUSED_RE = re.compile(r"PROTEIN[0-9]+.*PROTEIN[0-9]+")


def candidate_pairs_for_sentence(rt, sentence: str):
    """Yield (ann, i, j, features) for every candidate pair."""
    ann = annotate_sentence(rt, sentence)
    if (ann is None or ann["entity_count"] <= 1
            or ann["entity_count"] > rt.max_mentions):  # flood guard
        return
    blinded = ann["blinded"]
    g = DepGraph(ann["edges"])
    prot = [i for i, t in enumerate(blinded) if "PROTEIN" in t]
    for a in range(len(prot)):
        for b in range(a + 1, len(prot)):
            i, j = prot[a], prot[b]
            feats = pair_features(blinded, ann["pos"], ann["domain"], g, i, j)
            yield ann, i, j, feats
    # fused same-token candidates (PPIPipe2.java:133-151 features them via
    # the entity1 == entity2 branch; gold-pair joins produce such instances)
    for i in prot:
        if _FUSED_RE.fullmatch(blinded[i]):
            feats = pair_features(blinded, ann["pos"], ann["domain"], g, i, i)
            yield ann, i, i, feats


def extract_triples_ml(df: DataFrame, config: KGConfig,
                       weights: dict[str, float], bias: float,
                       threshold: float = 0.5) -> DataFrame:
    """transcripts -> scored triples via the MaxEnt path (-ex ML)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rt = config.build()
        cols = ["conv_id", "turn_idx", "sent_id", "e1", "e2",
                "subj", "pred", "obj", "p"]
        for pdf in batches:
            rows = []
            for conv, ti, text in zip(pdf["conv_id"], pdf["turn_idx"],
                                      pdf["text"]):
                if not text:
                    continue
                cleaned = strip_citations(text)
                for sid, sentence in enumerate(split_sentences(cleaned)):
                    for ann, i, j, feats in candidate_pairs_for_sentence(
                            rt, sentence):
                        p = score(feats, weights, bias)
                        if p <= threshold:
                            continue
                        so = pair_subj_obj(ann["mapping"], ann["blinded"],
                                           i, j)
                        if so is None:
                            continue
                        pred = _pred_term(ann["domain"], i, j)
                        rows.append((conv, int(ti), sid, i, j, so[0], pred,
                                     so[1], round(p, 4)))
            yield pd.DataFrame(rows, columns=cols)

    return (df.select("conv_id", "turn_idx", "text")
              # boundary guard: a null turn_idx (possible in any
              # user-supplied frame) reaches the worker as NaN and
              # int(NaN) raises — in a stream that permanently fails
              # the query on the same replayed micro-batch
              .filter("turn_idx IS NOT NULL")
              .mapInPandas(fn, schema=ML_TRIPLES_SCHEMA))


def aimed_feature_rows(df: DataFrame, config: KGConfig) -> DataFrame:
    """transcripts -> order-indexed AIMed feature rows per candidate pair
    (the RelexPipeAIMed slot, relx/RelexPipeAIMed.java:46-77 — consumed
    by MERelexAIMed.java:411 for AIMed-corpus PPI training).

    Same candidate enumeration as the PPIPipe2 path (every PROTEIN pair
    i<j); the dep graph and the frozen constituency tree both derive from
    the sentence annotation, so the pipe runs end-to-end from raw text in
    one stateless Arrow pass."""
    from nlp_lib_spark.kernels.aimed import aimed_features
    from nlp_lib_spark.kernels.constit import build_tree
    from nlp_lib_spark.kernels.tree import parse_penn

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rt = config.build()
        cols = ["conv_id", "turn_idx", "sent_id", "e1", "e2",
                "fidx", "feature"]
        for pdf in batches:
            rows = []
            for conv, ti, text in zip(pdf["conv_id"], pdf["turn_idx"],
                                      pdf["text"]):
                if not text:
                    continue
                cleaned = strip_citations(text)
                for sid, sentence in enumerate(split_sentences(cleaned)):
                    ann = annotate_sentence(rt, sentence)
                    if (ann is None or ann["entity_count"] <= 1
                            or ann["entity_count"] > rt.max_mentions):
                        continue
                    blinded = ann["blinded"]
                    g = DepGraph(ann["edges"])
                    tree = parse_penn(build_tree(blinded, ann["pos"]))
                    prot = [i for i, t in enumerate(blinded)
                            if "PROTEIN" in t]
                    for a in range(len(prot)):
                        for b in range(a + 1, len(prot)):
                            i, j = prot[a], prot[b]
                            feats = aimed_features(blinded, ann["pos"],
                                                   g, tree, i, j)
                            for fi, f in enumerate(feats):
                                rows.append((conv, int(ti), sid, i, j,
                                             fi, f))
            yield pd.DataFrame(rows, columns=cols)

    return (df.select("conv_id", "turn_idx", "text")
              .filter("turn_idx IS NOT NULL")
              .mapInPandas(fn, schema="conv_id string, turn_idx int, "
                                      "sent_id int, e1 int, e2 int, "
                                      "fidx int, feature string"))


def extract_triples_aimed(df: DataFrame, config: KGConfig,
                          weights: dict[str, float], bias: float,
                          threshold: float = 0.5) -> DataFrame:
    """transcripts -> scored triples via the AIMed MaxEnt path
    (MERelexAIMed.java:396-430 over the RelexPipeAIMed features) — same
    single-Arrow-pass shape as extract_triples_ml, alternate featurizer."""
    from nlp_lib_spark.kernels.aimed import aimed_features
    from nlp_lib_spark.kernels.constit import build_tree
    from nlp_lib_spark.kernels.tree import parse_penn

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rt = config.build()
        cols = ["conv_id", "turn_idx", "sent_id", "e1", "e2",
                "subj", "pred", "obj", "p"]
        for pdf in batches:
            rows = []
            for conv, ti, text in zip(pdf["conv_id"], pdf["turn_idx"],
                                      pdf["text"]):
                if not text:
                    continue
                cleaned = strip_citations(text)
                for sid, sentence in enumerate(split_sentences(cleaned)):
                    ann = annotate_sentence(rt, sentence)
                    if (ann is None or ann["entity_count"] <= 1
                            or ann["entity_count"] > rt.max_mentions):
                        continue
                    blinded = ann["blinded"]
                    g = DepGraph(ann["edges"])
                    tree = parse_penn(build_tree(blinded, ann["pos"]))
                    prot = [i for i, t in enumerate(blinded)
                            if "PROTEIN" in t]
                    m = ann["mapping"]
                    for a in range(len(prot)):
                        for b in range(a + 1, len(prot)):
                            i, j = prot[a], prot[b]
                            feats = aimed_features(blinded, ann["pos"],
                                                   g, tree, i, j)
                            p = score(feats, weights, bias)
                            if p <= threshold:
                                continue
                            subj = resolve_surface(m, blinded[i])
                            obj = resolve_surface(m, blinded[j])
                            pred = _pred_term(ann["domain"], i, j)
                            rows.append((conv, int(ti), sid, i, j, subj,
                                         pred, obj, round(p, 4)))
            yield pd.DataFrame(rows, columns=cols)

    return (df.select("conv_id", "turn_idx", "text")
              .filter("turn_idx IS NOT NULL")
              .mapInPandas(fn, schema=ML_TRIPLES_SCHEMA))
