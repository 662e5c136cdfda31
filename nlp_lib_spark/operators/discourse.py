"""Discourse operators: connective relations + higher-order (cross-turn) edges.

This is the stage that makes the KG conversation-aware.  The relations
themselves, Arg1 lookback included, come out of the one conversation-
ordered annotation pass (``operators/extract.annotate_turns``, which walks
back over each conversation's previous sentences as the reference walks
the document's, ``integration/Arg1Extractor.java:87-107``), so
``discourse_relations`` is a plain explode.  The connective feature and
sense operators are stateless Arrow passes over the annotations table;
the only shuffles are the final HOR equi-joins.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nlp_lib_spark.kernels.discourse import ConnectiveLexicon


def discourse_relations(ann: DataFrame) -> DataFrame:
    """annotations -> one row per (connective, args) discourse relation.

    ``arg1_turn_idx/arg1_sent_id`` may point at an earlier sentence or an
    earlier *turn* — the cross-turn edges of the north star.
    """
    return (ann.select("conv_id", "turn_idx", "sent_id",
                       F.explode("discourse").alias("d"))
               .select("conv_id", "turn_idx", "sent_id", "d.*"))


def hor_edges(disc: DataFrame, triples: DataFrame) -> DataFrame:
    """Higher-order relations: PPI triples linked across discourse args.

    Sentence-level scope join (the reference computes token-level arg scopes
    via dep reachability, Intregator.java:43-57; sentence granularity is the
    recall-safe KG approximation — triples live in a single sentence).
    Cross-sentence/turn Arg1 produces the conversation-spanning edges.
    """
    t2 = triples.select(
        F.col("conv_id").alias("c"), F.col("turn_idx").alias("t2_turn"),
        F.col("sent_id").alias("t2_sent"), F.col("subj").alias("arg2_subj"),
        F.col("pred").alias("arg2_pred"), F.col("obj").alias("arg2_obj"))
    t1 = triples.select(
        F.col("conv_id").alias("c1"), F.col("turn_idx").alias("t1_turn"),
        F.col("sent_id").alias("t1_sent"), F.col("subj").alias("arg1_subj"),
        F.col("pred").alias("arg1_pred"), F.col("obj").alias("arg1_obj"))
    d = disc.filter((F.col("arg1_turn_idx") >= 0) &
                    ((F.col("arg1_turn_idx") != F.col("turn_idx")) |
                     (F.col("arg1_sent_id") != F.col("sent_id"))))
    out = (d.join(t2, (d.conv_id == t2.c) & (d.turn_idx == t2.t2_turn)
                  & (d.sent_id == t2.t2_sent))
            .join(t1, (d.conv_id == t1.c1)
                  & (d.arg1_turn_idx == t1.t1_turn)
                  & (d.arg1_sent_id == t1.t1_sent)))
    return out.select(
        "conv_id", "sense", "conn",
        F.col("arg1_turn_idx").alias("src_turn_idx"),
        F.col("arg1_sent_id").alias("src_sent_id"),
        "arg1_subj", "arg1_pred", "arg1_obj",
        F.col("turn_idx").alias("dst_turn_idx"),
        F.col("sent_id").alias("dst_sent_id"),
        "arg2_subj", "arg2_pred", "arg2_obj")


def _connective_spans(pdf: pd.DataFrame, lex: ConnectiveLexicon):
    """Yield ``(row, toks, pos, tree, span)`` for every lexicon connective
    span of every well-formed annotation row in ``pdf``.  The frozen
    constituency tree (kernels/constit.build_tree, parsed back from its
    Penn string) is built once per row, and only for rows with a span."""
    from nlp_lib_spark.kernels.constit import build_tree
    from nlp_lib_spark.kernels.tree import parse_penn
    for r in pdf.itertuples(index=False):
        toks = list(r.blinded)
        pos = list(r.pos)
        if not toks or len(pos) != len(toks):
            continue
        spans = lex.find(toks)
        if not spans:
            continue
        tree = parse_penn(build_tree(toks, pos))
        for span in spans:
            yield r, toks, pos, tree, span


_FEATURE_COLUMNS = ["conv_id", "turn_idx", "sent_id", "conn_start",
                    "conn_end", "fidx", "feature"]
_FEATURE_SCHEMA = ("conv_id string, turn_idx int, sent_id int, "
                   "conn_start int, conn_end int, fidx int, feature string")


def conn_features_v2_rows(ann: DataFrame) -> DataFrame:
    """Per-candidate connective-disambiguation feature rows from the
    richer variant-2 pipe (kernels/connfeatures.connective_features_v2,
    the ml/PDTBConnective2FeatureVector2.java port) — one row per emitted
    feature string, order-indexed. Unlike the sense pipe, EVERY lexicon
    candidate span is an instance (the disambiguation classifier decides
    connective-or-not), so there is no Arg2-head filter.

    One stateless Arrow pass; the lexicon rides the closure."""
    from nlp_lib_spark.kernels.connfeatures import connective_features_v2

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lex = ConnectiveLexicon()
        for pdf in batches:
            rows = []
            for r, toks, pos, tree, span in _connective_spans(pdf, lex):
                feats = connective_features_v2(toks, pos, tree, span[0],
                                               span[1], lex.sense(toks, span))
                for fi, f in enumerate(feats):
                    rows.append((r.conv_id, int(r.turn_idx),
                                 int(r.sent_id), span[0], span[1], fi, f))
            yield pd.DataFrame(rows, columns=_FEATURE_COLUMNS)

    return (ann.select("conv_id", "turn_idx", "sent_id", "blinded", "pos")
            .mapInPandas(fn, schema=_FEATURE_SCHEMA))


def sense_feature_rows(ann: DataFrame) -> DataFrame:
    """Per-connective sense-classifier feature rows (the
    PDTBConnectiveSense2FeatureVector port, kernels/connfeatures.
    sense_features) — one row per emitted feature string, order-indexed.

    Consumes the frozen constituency tree (kernels/constit.build_tree)
    parsed back from its Penn string, so the features see exactly what a
    kg_trees consumer sees. Connectives whose Arg2 head rule finds no
    eligible token (arg2_head == -1) are skipped: the reference indexes
    leaves by the gold head and cannot receive that input.

    One stateless Arrow pass; the lexicon rides the closure (broadcast
    dims)."""
    from nlp_lib_spark.kernels.connfeatures import sense_features
    from nlp_lib_spark.kernels.discourse import arg2_head

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lex = ConnectiveLexicon()
        for pdf in batches:
            rows = []
            for r, toks, pos, tree, span in _connective_spans(pdf, lex):
                a2h = arg2_head(toks, pos, span)
                if a2h < 0:
                    continue
                feats = sense_features(toks, pos, tree, span[0], span[1],
                                       a2h, lex.sense(toks, span))
                for fi, f in enumerate(feats):
                    rows.append((r.conv_id, int(r.turn_idx),
                                 int(r.sent_id), span[0], span[1], fi, f))
            yield pd.DataFrame(rows, columns=_FEATURE_COLUMNS)

    return (ann.select("conv_id", "turn_idx", "sent_id", "blinded", "pos")
            .mapInPandas(fn, schema=_FEATURE_SCHEMA))


def sense_predictions(ann: DataFrame, model: dict) -> DataFrame:
    """Per-connective PREDICTED sense: the runtime of the trained sense
    classifier (``ml/PDTBNewConnectiveSenseTrainer.java:96-150`` trains a
    Mallet MaxEnt over the sense pipe; ``integration/SenseExtractor``
    applies it).  Features are the exact ``sense_feature_rows`` stream;
    scoring is the integer-quantized softmax argmax
    (kernels/scoring.score_softmax_int) so the emitted ``score`` is an
    exact integer in every engine.  ``model`` is the parsed
    ``models/sense_me.json``; it rides the task closure (a few KB —
    broadcast-dim scale).  One stateless Arrow pass."""
    from nlp_lib_spark.kernels.connfeatures import sense_features
    from nlp_lib_spark.kernels.discourse import arg2_head
    from nlp_lib_spark.kernels.scoring import score_softmax_int

    classes = sorted(model["classes"])
    weights = model["weights"]
    biases = model["biases"]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lex = ConnectiveLexicon()
        for pdf in batches:
            rows = []
            for r, toks, pos, tree, span in _connective_spans(pdf, lex):
                a2h = arg2_head(toks, pos, span)
                if a2h < 0:
                    continue
                feats = sense_features(toks, pos, tree, span[0], span[1],
                                       a2h, lex.sense(toks, span))
                pred, sc = score_softmax_int(feats, weights, biases,
                                             classes)
                rows.append((r.conv_id, int(r.turn_idx), int(r.sent_id),
                             span[0], span[1], pred, sc))
            yield pd.DataFrame(rows, columns=[
                "conv_id", "turn_idx", "sent_id", "conn_start", "conn_end",
                "pred_sense", "score"])

    return (ann.select("conv_id", "turn_idx", "sent_id", "blinded", "pos")
            .mapInPandas(fn, schema="conv_id string, turn_idx int, "
                                    "sent_id int, conn_start int, "
                                    "conn_end int, pred_sense string, "
                                    "score long"))
