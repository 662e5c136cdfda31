"""Distributed annotate->extract operators.

Two execution shapes over the same kernels:

* ``extract_triples`` — the fused hot path: ONE ``mapInPandas`` crossing per
  partition runs the whole per-turn chain (sentence split -> gazetteer ->
  blind -> simplify -> POS -> DOMAIN -> dep parse -> rule union) and emits
  exploded triple rows. This is the 100 TB configuration: no intermediate
  materialization, no shuffle at all until a downstream groupBy/join.
* ``annotate_turns`` / ``triples_from_annotations`` — the staged path used
  for checkpoint/resume and debugging: materializes the annotation layers as
  parallel array columns (Arrow-friendly struct-of-arrays, never
  array<map>), per SURVEY.md §1.

Both read only (conv_id, turn_idx, text) — column pruning reaches the scan.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nlp_lib_spark.kernels.pipeline import (KGConfig, annotate_sentence,
                                            extract_turn)
from nlp_lib_spark.kernels.text import split_sentences, strip_citations

TRIPLES_SCHEMA = ("conv_id string, turn_idx int, sent_id int, "
                  "e1 int, e2 int, subj string, pred string, obj string")

ANNOTATIONS_SCHEMA = (
    "conv_id string, turn_idx int, sent_id int, sentence string, "
    "tokens array<string>, iob array<string>, blinded array<string>, "
    "mention_ids array<string>, mention_texts array<string>, "
    "entity_count int, pos array<string>, domain array<string>, "
    "edges array<struct<reln string, gov int, dep int>>, "
    "pairs array<struct<e1 int, e2 int>>"
)


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


def annotate_turns(df: DataFrame, config: KGConfig) -> DataFrame:
    """Staged variant: one row per sentence with all annotation layers."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rt = config.build()
        for pdf in batches:
            rows = []
            for conv, ti, text in zip(pdf["conv_id"], pdf["turn_idx"],
                                      pdf["text"]):
                if not text:
                    continue
                cleaned = strip_citations(text)
                for sid, sentence in enumerate(split_sentences(cleaned)):
                    ann = annotate_sentence(rt, sentence, full=True)
                    if ann is None:  # oversize straggler guard
                        continue
                    mapping = ann["mapping"]
                    edges = ann["edges"] or []
                    rows.append({
                        "conv_id": conv, "turn_idx": int(ti),
                        "sent_id": sid, "sentence": sentence,
                        "tokens": ann["tokens"], "iob": ann["iob"],
                        "blinded": ann["blinded"],
                        "mention_ids": list(mapping.keys()),
                        "mention_texts": list(mapping.values()),
                        "entity_count": ann["entity_count"],
                        "pos": ann["pos"] or [],
                        "domain": [d if d is not None else ""
                                   for d in (ann["domain"] or [])],
                        "edges": [{"reln": r, "gov": g, "dep": d}
                                  for (r, g, d) in edges],
                        "pairs": [{"e1": i, "e2": j}
                                  for (i, j) in ann["pairs"]],
                    })
            yield pd.DataFrame(rows, columns=[
                "conv_id", "turn_idx", "sent_id", "sentence", "tokens",
                "iob", "blinded", "mention_ids", "mention_texts",
                "entity_count", "pos", "domain", "edges", "pairs"])

    return (df.select("conv_id", "turn_idx", "text")
              # boundary guard: a null turn_idx (possible in any
              # user-supplied frame) reaches the worker as NaN and
              # int(NaN) raises — in a stream that permanently fails
              # the query on the same replayed micro-batch
              .filter("turn_idx IS NOT NULL")
              .mapInPandas(fn, schema=ANNOTATIONS_SCHEMA))


def triples_from_annotations(ann: DataFrame) -> DataFrame:
    """annotations (with the precomputed rule-union ``pairs`` column) ->
    triples, without re-running the annotate chain.

    Same emit rule as the fused ``extract_triples`` path: both call
    kernels/pipeline.emit_triples. Lets one annotation pass
    feed mentions, triples, clauses, and linking — the Spark analogue of
    the reference's four aligned per-doc files being read once
    (ppi/MLExtractor.java:61-69)."""
    from nlp_lib_spark.kernels.pipeline import emit_triples

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["conv_id", "turn_idx", "sent_id", "e1", "e2",
                "subj", "pred", "obj"]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if not len(r.pairs):
                    continue
                mapping = dict(zip(r.mention_ids, r.mention_texts))
                domain = [d if d else None for d in r.domain]
                pairs = [(int(p["e1"]), int(p["e2"])) for p in r.pairs]
                head = (r.conv_id, int(r.turn_idx), int(r.sent_id))
                rows.extend(head + t for t in emit_triples(
                    list(r.blinded), mapping, domain, pairs))
            yield pd.DataFrame(rows, columns=cols)

    return (ann.select("conv_id", "turn_idx", "sent_id", "blinded",
                       "mention_ids", "mention_texts", "domain", "pairs")
               .mapInPandas(fn, schema=TRIPLES_SCHEMA))


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
