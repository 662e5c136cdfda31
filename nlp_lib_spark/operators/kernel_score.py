"""Kernel-scored relation extraction (broadcast-prototype runtime).

The reference uses its custom kernels (libsvm/LCSDepPathKernel.java,
ppi/filter/SimpleFeatureKernel.java) only inside an SVM Gram matrix at
train time (libsvm/PPI.java:117-140 — all-pairs, O(N^2), impossible at
10^12 turns).  The Spark-native runtime shape implemented here: a small
labeled *prototype set* rides to every executor in the task closure
(tiny — a few dozen instances), and each candidate pair is scored by its
best kernel alignment against the prototypes inside one Arrow-batched
``mapInPandas`` pass.  Zero shuffles: scoring is embarrassingly parallel
per turn, exactly like the rule and MaxEnt paths.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from nlp_lib_spark.kernels.depgraph import DepGraph
from nlp_lib_spark.kernels.kernelscore import (prototype_score,
                                               relation_instance)
from nlp_lib_spark.kernels.pipeline import (KGConfig, KGRuntime,
                                            annotate_sentence,
                                            pair_subj_obj)
from nlp_lib_spark.kernels.text import split_sentences, strip_citations

KERNEL_TRIPLES_SCHEMA = ("conv_id string, turn_idx int, sent_id int, "
                         "e1 int, e2 int, subj string, pred string, "
                         "obj string, ktype string, score double")


_FUSED_RE = re.compile(r"PROTEIN[0-9]+.*PROTEIN[0-9]+")

# The gate/oracle/fuzz prototype set (one definition; gate.py and
# oracles.kernel_triples_oracle_sql must stay in lockstep on these).
GATE_PROTOTYPE_SENTENCES = (
    "the spark activates the table.",
    "a vector binds the stream.",
    "the column regulates a row.",
)


def instances_for_sentence(rt: KGRuntime, sentence: str):
    """Yield (ann, graph, inst) for every ordered PROTEIN pair (i<j)
    plus fused same-token self-pairs — the same candidate enumeration as
    the ML path (WBioRelEx.java:363-380; self-pairs are what the
    Juxtapos filter acts on).  The sentence DepGraph is built once and
    shared by every instance."""
    ann = annotate_sentence(rt, sentence)
    if (ann is None or ann["entity_count"] <= 1
            or ann["entity_count"] > rt.max_mentions):  # flood guard
        return
    blinded = ann["blinded"]
    g = DepGraph(ann["edges"])
    dom = [d if d else None for d in ann["domain"]]
    prot = [i for i, t in enumerate(blinded) if "PROTEIN" in t]
    for a in range(len(prot)):
        for b in range(a + 1, len(prot)):
            i, j = prot[a], prot[b]
            yield ann, g, relation_instance(blinded, ann["pos"], dom, g, i, j)
    for i in prot:
        if _FUSED_RE.fullmatch(blinded[i]):
            yield ann, g, relation_instance(blinded, ann["pos"], dom, g, i, i)


def build_prototypes(config: KGConfig, sentences: list[str]) -> list[dict]:
    """Driver-side: turn labeled example sentences into prototype
    instances (every candidate pair of each sentence).  The result is
    small and pickles into the task closure — the broadcast analogue of
    the reference deserializing its trained model at startup
    (WBioRelEx.java:198-207)."""
    rt = config.build()
    protos: list[dict] = []
    for sent in sentences:
        for _, _g, inst in instances_for_sentence(rt, sent):
            if inst["path"] is not None:
                protos.append(inst)
    return protos


def extract_triples_kernel(df: DataFrame, config: KGConfig,
                           prototypes: list[dict], kernel: str = "lcs",
                           threshold: float = 0.5,
                           with_filters: bool = False) -> DataFrame:
    """transcripts -> kernel-scored triples.

    Accept a candidate when its best prototype alignment clears the
    threshold; ``ktype`` carries the LEFT/MIDDLE/RIGHT instance type
    (ppi/filter/RelationInstance.java:171-179) for downstream filters.
    ``with_filters`` runs the composed ppi/filter/* chain
    (kernels.filters.apply_standard_filters) before scoring — the
    reference's Experiment wiring.
    """
    from nlp_lib_spark.kernels.filters import apply_standard_filters

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rt = config.build()
        cols = ["conv_id", "turn_idx", "sent_id", "e1", "e2",
                "subj", "pred", "obj", "ktype", "score"]
        for pdf in batches:
            rows = []
            for conv, ti, text in zip(pdf["conv_id"], pdf["turn_idx"],
                                      pdf["text"]):
                if not text:
                    continue
                cleaned = strip_citations(text)
                for sid, sentence in enumerate(split_sentences(cleaned)):
                    for ann, g, inst in instances_for_sentence(rt, sentence):
                        if with_filters and not apply_standard_filters(inst, g):
                            continue
                        s = prototype_score(inst, prototypes, kernel)
                        if s < threshold:
                            continue
                        i, j = inst["e1"], inst["e2"]
                        so = pair_subj_obj(ann["mapping"], ann["blinded"],
                                           i, j)
                        if so is None:
                            continue
                        rows.append((conv, int(ti), sid, i, j, so[0],
                                     "interacts_with", so[1], inst["type"],
                                     round(s, 6)))
            yield pd.DataFrame(rows, columns=cols)

    return (df.select("conv_id", "turn_idx", "text")
              # boundary guard: a null turn_idx (possible in any
              # user-supplied frame) reaches the worker as NaN and
              # int(NaN) raises — in a stream that permanently fails
              # the query on the same replayed micro-batch
              .filter("turn_idx IS NOT NULL")
              .mapInPandas(fn, schema=KERNEL_TRIPLES_SCHEMA))


def gram_matrix(spark, instances: list[dict],
                kernel: str = "lcs") -> DataFrame:
    """Train-time N x N kernel Gram matrix (libsvm/PPI.java:117-140),
    distributed: the instance list is broadcast, the (i, j) index space
    is a ``spark.range(n*n)`` with i = id div n / j = id mod n, and each
    Arrow batch evaluates its kernel cells locally — no data shuffle at
    all, only the tiny broadcast.  Symmetry is exploited by computing
    i <= j and mirroring.  For runtime extraction use
    ``extract_triples_kernel`` (candidate x prototypes), never this —
    N^2 at 10^12 candidates is the reason the reference's SVM path
    cannot ship at scale (SURVEY.md §2.6)."""
    from nlp_lib_spark.kernels.kernelscore import (lcs_dep_path_kernel,
                                                   simple_feature_kernel)
    n = len(instances)
    bc = spark.sparkContext.broadcast(instances)
    kf = lcs_dep_path_kernel if kernel == "lcs" else simple_feature_kernel

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        insts = bc.value
        for pdf in batches:
            rows = []
            for pid in pdf["id"]:
                i, j = divmod(int(pid), n)
                if i > j:
                    continue
                v = round(kf(insts[i], insts[j]), 6)
                rows.append((i, j, v))
                if i != j:
                    rows.append((j, i, v))
            yield pd.DataFrame(rows, columns=["i", "j", "k"])

    return (spark.range(n * n)
            .mapInPandas(fn, schema="i int, j int, k double"))


def instance_domain_terms(df: DataFrame, config: KGConfig,
                          gold_pairs: DataFrame) -> DataFrame:
    """Labeled candidates -> (terms:array<string>, interaction:boolean).

    Joins gold pair labels onto enumerated candidates (broadcast: gold
    sets are tiny vs the corpus) and extracts each instance's backbone
    DOMAIN terms in the same vUDF pass — the per-instance contribution
    of DomainTermRanker.rank (ppi/filter/DomainTermRanker.java:28-51).
    ``gold_pairs`` columns: conv_id, turn_idx, sent_id, e1, e2, interaction.
    """
    from pyspark.sql import functions as F

    from nlp_lib_spark.kernels.kernelscore import backbone_domain_terms

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rt = config.build()
        cols = ["conv_id", "turn_idx", "sent_id", "e1", "e2", "terms"]
        for pdf in batches:
            rows = []
            for conv, ti, text in zip(pdf["conv_id"], pdf["turn_idx"],
                                      pdf["text"]):
                if not text:
                    continue
                cleaned = strip_citations(text)
                for sid, sentence in enumerate(split_sentences(cleaned)):
                    for ann, _g, inst in instances_for_sentence(rt, sentence):
                        rows.append((conv, int(ti), sid, inst["e1"],
                                     inst["e2"],
                                     backbone_domain_terms(inst)))
            yield pd.DataFrame(rows, columns=cols)

    cand = (df.select("conv_id", "turn_idx", "text")
              # boundary guard: a null turn_idx (possible in any
              # user-supplied frame) reaches the worker as NaN and
              # int(NaN) raises — in a stream that permanently fails
              # the query on the same replayed micro-batch
              .filter("turn_idx IS NOT NULL")
              .mapInPandas(fn, schema="conv_id string, turn_idx int, "
                                      "sent_id int, e1 int, e2 int, "
                                      "terms array<string>"))
    return cand.join(F.broadcast(gold_pairs),
                     ["conv_id", "turn_idx", "sent_id", "e1", "e2"])


def rank_domain_terms(labeled: DataFrame) -> DataFrame:
    """(terms, interaction) -> (term, rank) with rank=(pos-neg)/(pos+neg)
    (DomainTermRanker.rank, ppi/filter/DomainTermRanker.java:52-62; terms
    never seen positive are absent, matching the posMap-keyed loop).

    Pure built-in aggregation — explode + groupBy runs JVM-side with
    map-side partial aggregation; the result is a tiny broadcast map.
    """
    from pyspark.sql import functions as F

    counts = (labeled.select(F.explode("terms").alias("term"), "interaction")
              .groupBy("term")
              .agg(F.sum(F.when(F.col("interaction"), 1).otherwise(0))
                   .alias("pos"),
                   F.sum(F.when(F.col("interaction"), 0).otherwise(1))
                   .alias("neg")))
    return (counts.filter(F.col("pos") > 0)
            .select("term", ((F.col("pos") - F.col("neg"))
                             / (F.col("pos") + F.col("neg"))).alias("rank")))
