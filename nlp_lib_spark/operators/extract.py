"""Distributed annotate->extract operators.

Two execution shapes over the same kernels:

* ``extract_triples`` — the fused hot path: ONE ``mapInPandas`` crossing per
  partition runs the whole per-turn chain (sentence split -> gazetteer ->
  blind -> simplify -> POS -> DOMAIN -> dep parse -> rule union) and emits
  exploded triple rows. This is the 100 TB configuration: no intermediate
  materialization, no shuffle at all until a downstream groupBy/join.
* ``annotate_turns`` / ``triples_from_annotations`` — the staged path used
  for checkpoint/resume and debugging: one conversation-ordered crossing
  materializes the annotation layers as parallel array columns
  (Arrow-friendly struct-of-arrays, never array<map>, per SURVEY.md §1),
  plus each sentence's triples and discourse relations as array-of-struct
  columns; ``triples_from_annotations`` and
  ``operators/discourse.discourse_relations`` are plain explodes of them.

Both read only (conv_id, turn_idx, text) — column pruning reaches the scan.
"""

from __future__ import annotations

from collections import deque
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nlp_lib_spark.kernels.discourse import (_LOOKBACK, ConnectiveLexicon,
                                             discourse_for_sentence,
                                             main_head)
from nlp_lib_spark.kernels.pipeline import (KGConfig, annotate_sentence,
                                            emit_triples, extract_turn)
from nlp_lib_spark.kernels.text import split_sentences, strip_citations

TRIPLES_SCHEMA = ("conv_id string, turn_idx int, sent_id int, "
                  "e1 int, e2 int, subj string, pred string, obj string")

ANNOTATIONS_SCHEMA = (
    "conv_id string, turn_idx int, sent_id int, sentence string, "
    "tokens array<string>, iob array<string>, blinded array<string>, "
    "mention_ids array<string>, mention_texts array<string>, "
    "entity_count int, pos array<string>, domain array<string>, "
    "edges array<struct<reln string, gov int, dep int>>, "
    "triples array<struct<e1 int, e2 int, subj string, pred string, "
    "obj string>>, "
    "discourse array<struct<conn string, conn_start int, conn_end int, "
    "sense string, arg2_head int, arg1_turn_idx int, arg1_sent_id int, "
    "arg1_head int>>"
)

_ANNOTATION_COLUMNS = [
    "conv_id", "turn_idx", "sent_id", "sentence", "tokens", "iob",
    "blinded", "mention_ids", "mention_texts", "entity_count", "pos",
    "domain", "edges", "triples", "discourse"]


def extract_triples(df: DataFrame, config: KGConfig) -> DataFrame:
    """transcripts -> (conv_id, turn_idx, sent_id, e1, e2, subj, pred, obj).

    The KGConfig closure is tiny (lexicon tuples); each Python worker
    compiles it once per partition iterator (iterator-form mapInPandas),
    the in-executor analogue of the reference loading its dictionaries
    once per process (WBioRelEx.java:151-214).
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rt = config.build()
        for pdf in batches:
            out = {k: [] for k in ("conv_id", "turn_idx", "sent_id",
                                   "e1", "e2", "subj", "pred", "obj")}
            for conv, ti, text in zip(pdf["conv_id"], pdf["turn_idx"],
                                      pdf["text"]):
                if not text:
                    continue
                for (sid, i, j, subj, pred, obj) in extract_turn(rt, text):
                    out["conv_id"].append(conv)
                    out["turn_idx"].append(int(ti))
                    out["sent_id"].append(sid)
                    out["e1"].append(i)
                    out["e2"].append(j)
                    out["subj"].append(subj)
                    out["pred"].append(pred)
                    out["obj"].append(obj)
            yield pd.DataFrame(out)

    return (df.select("conv_id", "turn_idx", "text")
              # boundary guard: a null turn_idx (possible in any
              # user-supplied frame) reaches the worker as NaN and
              # int(NaN) raises — in a stream that permanently fails
              # the query on the same replayed micro-batch
              .filter("turn_idx IS NOT NULL")
              .mapInPandas(fn, schema=TRIPLES_SCHEMA))


def _relations(blinded, pos, edges, lex, turn_idx, sent_id,
               history) -> list[dict]:
    """The sentence's discourse relations with Arg1 keyed by the
    (turn_idx, sent_id) it lies in: this sentence, one of the previous
    sentences in ``history`` (oldest first), or (-1, -1) for none.
    ``arg1_offset`` is not in the schema; the Arrow conversion drops it."""
    prev = list(reversed(history))
    out = []
    for rel in discourse_for_sentence(blinded, pos, edges, lex,
                                      [h[2] for h in prev]):
        off = rel["arg1_offset"]
        if 0 < off <= len(prev):
            a1_turn, a1_sent = prev[off - 1][:2]
        elif off == 0:
            a1_turn, a1_sent = turn_idx, sent_id
        else:
            a1_turn, a1_sent = -1, -1
        out.append({**rel, "arg1_turn_idx": a1_turn, "arg1_sent_id": a1_sent})
    return out


def annotate_turns(df: DataFrame, config: KGConfig) -> DataFrame:
    """Staged variant: one row per sentence with all annotation layers,
    its ``triples`` (emit_triples, the fused path's rule) and its
    ``discourse`` relations.

    Arg1 may lie in one of the conversation's previous ``_LOOKBACK``
    sentences (``integration/Arg1Extractor.java:87-107``), so this
    operator owns the conversation order: a hash repartition by conv_id
    with an explicit count (the input's partitions, at least the
    parallelism; AQE may coalesce a countless one into one task), sorted
    by (conv_id, turn_idx).  The iterator keeps the last emitted
    sentences' (turn_idx, sent_id, main_head) across Arrow batches and
    resets them at a new conv_id.  Empty turns and oversize sentences
    emit no row and never enter it; rows with an empty ``blinded`` do.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rt = config.build()
        lex = ConnectiveLexicon()
        conv, history = None, deque(maxlen=_LOOKBACK)
        for pdf in batches:
            rows = []
            for c, ti, text in zip(pdf["conv_id"], pdf["turn_idx"],
                                   pdf["text"]):
                if c != conv:
                    conv = c
                    history.clear()
                if not text:
                    continue
                ti = int(ti)
                cleaned = strip_citations(text)
                for sid, sentence in enumerate(split_sentences(cleaned)):
                    ann = annotate_sentence(rt, sentence, full=True)
                    if ann is None:  # oversize straggler guard
                        continue
                    mapping = ann["mapping"]
                    blinded = ann["blinded"]
                    pos = ann["pos"] or []
                    edges = ann["edges"] or []
                    triples = emit_triples(blinded, mapping, ann["domain"],
                                           ann["pairs"])
                    rows.append({
                        "conv_id": c, "turn_idx": ti,
                        "sent_id": sid, "sentence": sentence,
                        "tokens": ann["tokens"], "iob": ann["iob"],
                        "blinded": blinded,
                        "mention_ids": list(mapping.keys()),
                        "mention_texts": list(mapping.values()),
                        "entity_count": ann["entity_count"],
                        "pos": pos,
                        "domain": [d if d is not None else ""
                                   for d in (ann["domain"] or [])],
                        "edges": [{"reln": r, "gov": g, "dep": d}
                                  for (r, g, d) in edges],
                        "triples": [dict(zip(("e1", "e2", "subj", "pred",
                                              "obj"), t)) for t in triples],
                        "discourse": (_relations(blinded, pos, edges, lex,
                                                 ti, sid, history)
                                      if blinded else []),
                    })
                    history.append((ti, sid, main_head(blinded, pos)))
            yield pd.DataFrame(rows, columns=_ANNOTATION_COLUMNS)

    n = max(df.rdd.getNumPartitions(),
            df.sparkSession.sparkContext.defaultParallelism)
    return (df.select("conv_id", "turn_idx", "text")
              # boundary guard: a null turn_idx (possible in any
              # user-supplied frame) reaches the worker as NaN and
              # int(NaN) raises — in a stream that permanently fails
              # the query on the same replayed micro-batch
              .filter("turn_idx IS NOT NULL")
              .repartition(n, "conv_id")
              .sortWithinPartitions("conv_id", "turn_idx")
              .mapInPandas(fn, schema=ANNOTATIONS_SCHEMA))


def triples_from_annotations(ann: DataFrame) -> DataFrame:
    """annotations -> triples: an explode of the ``triples`` column that
    annotate_turns filled with the fused path's emit rule, so no Python
    runs here.  Lets one annotation pass feed mentions, triples, clauses,
    and linking — the Spark analogue of the reference's four aligned
    per-doc files being read once (ppi/MLExtractor.java:61-69)."""
    return (ann.select("conv_id", "turn_idx", "sent_id",
                       F.explode("triples").alias("t"))
               .select("conv_id", "turn_idx", "sent_id", "t.*"))


def mentions_from_annotations(ann: DataFrame) -> DataFrame:
    """Explode the placeholder->surface map into one row per mention."""
    return (ann
            .select("conv_id", "turn_idx", "sent_id",
                    F.arrays_zip("mention_ids", "mention_texts").alias("m"))
            .select("conv_id", "turn_idx", "sent_id",
                    F.explode("m").alias("mention"))
            .select("conv_id", "turn_idx", "sent_id",
                    F.col("mention.mention_ids").alias("mention_id"),
                    F.col("mention.mention_texts").alias("mention_text")))
