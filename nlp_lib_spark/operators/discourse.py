"""Discourse operators: connective relations + higher-order (cross-turn) edges.

This is the stage that makes the KG conversation-aware: Arg1 lookback runs
over a ``Window.partitionBy(conv_id).orderBy(turn_idx, sent_id)`` trailing
frame (the reference walks previous sentences of the document with a
decaying budget, ``integration/Arg1Extractor.java:87-107``). Everything
per-sentence is an Arrow UDF over the annotations table; the only shuffle is
the conversation window and the final HOR equi-joins.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nlp_lib_spark.kernels.discourse import (ConnectiveLexicon,
                                             discourse_for_sentence)

_LOOKBACK = 5  # sentences of history fed to the Arg1 ranker

DISCOURSE_SCHEMA = (
    "conv_id string, turn_idx int, sent_id int, conn string, "
    "conn_start int, conn_end int, sense string, arg2_head int, "
    "arg1_turn_idx int, arg1_sent_id int, arg1_head int"
)

# JVM-side main-head expression: first V* token, else first N*, else 0
_MAIN_HEAD_EXPR = """
coalesce(
  get(filter(transform(pos, (p, i) -> CASE WHEN p LIKE 'V%' THEN i ELSE -1 END), x -> x >= 0), 0),
  get(filter(transform(pos, (p, i) -> CASE WHEN p LIKE 'N%' THEN i ELSE -1 END), x -> x >= 0), 0),
  0)
"""


def discourse_relations(ann: DataFrame,
                        conn2cat: dict[str, str] | None = None) -> DataFrame:
    """annotations -> one row per (connective, args) discourse relation.

    ``arg1_turn_idx/arg1_sent_id`` may point at an earlier sentence or an
    earlier *turn* — the cross-turn edges of the north star.
    """
    w = (Window.partitionBy("conv_id")
         .orderBy("turn_idx", "sent_id")
         .rowsBetween(-_LOOKBACK, -1))
    ann2 = (ann
            .withColumn("main_head", F.expr(_MAIN_HEAD_EXPR))
            .withColumn("prev_heads",
                        F.reverse(F.collect_list("main_head").over(w)))
            .withColumn("prev_keys",
                        F.reverse(F.collect_list(
                            F.struct("turn_idx", "sent_id")).over(w)))
            .select("conv_id", "turn_idx", "sent_id", "blinded", "pos",
                    "edges", "prev_heads", "prev_keys"))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lex = ConnectiveLexicon(conn2cat)
        cols = ["conv_id", "turn_idx", "sent_id", "conn", "conn_start",
                "conn_end", "sense", "arg2_head", "arg1_turn_idx",
                "arg1_sent_id", "arg1_head"]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                tokens = list(r.blinded)
                if not tokens:
                    continue
                pos = list(r.pos)
                edges = [(e["reln"], e["gov"], e["dep"]) for e in r.edges]
                prev_heads = [int(h) for h in r.prev_heads]
                prev_keys = [(int(k["turn_idx"]), int(k["sent_id"]))
                             for k in r.prev_keys]
                for rel in discourse_for_sentence(tokens, pos, edges, lex,
                                                  prev_heads):
                    off = rel["arg1_offset"]
                    if off > 0 and off <= len(prev_keys):
                        a1_turn, a1_sent = prev_keys[off - 1]
                    elif off == 0:
                        a1_turn, a1_sent = int(r.turn_idx), int(r.sent_id)
                    else:
                        a1_turn, a1_sent = -1, -1
                    rows.append((r.conv_id, int(r.turn_idx), int(r.sent_id),
                                 rel["conn"], rel["conn_start"],
                                 rel["conn_end"], rel["sense"],
                                 rel["arg2_head"], a1_turn, a1_sent,
                                 rel["arg1_head"]))
            yield pd.DataFrame(rows, columns=cols)

    return ann2.mapInPandas(fn, schema=DISCOURSE_SCHEMA)


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


def conn_features_v2_rows(ann: DataFrame,
                          conn2cat: dict[str, str] | None = None
                          ) -> DataFrame:
    """Per-candidate connective-disambiguation feature rows from the
    richer variant-2 pipe (kernels/connfeatures.connective_features_v2,
    the ml/PDTBConnective2FeatureVector2.java port) — one row per emitted
    feature string, order-indexed. Unlike the sense pipe, EVERY lexicon
    candidate span is an instance (the disambiguation classifier decides
    connective-or-not), so there is no Arg2-head filter.

    One stateless Arrow pass; the lexicon rides the closure."""
    from nlp_lib_spark.kernels.connfeatures import connective_features_v2

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lex = ConnectiveLexicon(conn2cat)
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


def sense_feature_rows(ann: DataFrame,
                       conn2cat: dict[str, str] | None = None) -> DataFrame:
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
        lex = ConnectiveLexicon(conn2cat)
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


def sense_predictions(ann: DataFrame, model: dict,
                      conn2cat: dict[str, str] | None = None) -> DataFrame:
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
        lex = ConnectiveLexicon(conn2cat)
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
