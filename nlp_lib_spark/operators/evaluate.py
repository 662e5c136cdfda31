"""Corpus-level evaluation: the reference's P/R/F harness as DataFrames.

``rule_eval`` is the distributed analogue of ``RunRelex.test``
(relx/ppi/RunRelex.java:59-137): read an IOB corpus + pre-parsed deps, run
the rule union per sentence, join predictions against gold pair ids and
report micro TP/FP/FN + P/R/F. ``write_ppi_corpus`` emits the reference's
on-disk layout (iob/ trees/ deps/, ``ppi/PreparePPI2.java:35-132``) so
corpora round-trip through the readers.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from nlp_lib_spark.kernels.domain import DomainAnnotator
from nlp_lib_spark.kernels.postag import pos_tag
from nlp_lib_spark.kernels.rules import predict_interactions
from nlp_lib_spark.kernels.stem import stem

PRED_SCHEMA = "doc_id string, sent_id int, e1 int, e2 int"


def rule_predictions(iob: DataFrame, deps: DataFrame,
                     domain_terms: tuple[str, ...]) -> DataFrame:
    """(doc_id, sent_id, e1, e2) predicted by the rule union.

    POS comes from the frozen tagger (the reference re-assigns POS from
    gold trees; pre-blinded corpora carry no usable trees here).
    """
    joined = iob.join(deps, ["doc_id", "sent_id"], "left")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dom = DomainAnnotator(domain_terms)
        verb_stems = frozenset(stem(t) for t in domain_terms)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                tokens = list(r.tokens)
                raw_edges = r.edges if r.edges is not None else []
                edges = [(e["reln"], e["gov"], e["dep"]) for e in raw_edges]
                pos = pos_tag(tokens, verb_stems)
                domain = dom.tag(tokens)
                for (i, j) in sorted(predict_interactions(tokens, pos,
                                                          domain, edges)):
                    rows.append((r.doc_id, int(r.sent_id), i, j))
            yield pd.DataFrame(rows, columns=["doc_id", "sent_id",
                                              "e1", "e2"])

    return (joined.select("doc_id", "sent_id", "tokens", "edges")
            .mapInPandas(fn, schema=PRED_SCHEMA))


def _one_row(spark, row: dict) -> DataFrame:
    """One result row built from Arrow, a JVM-local ``LocalRelation`` (a
    list-built frame is a Python RDD that forks Python tasks per read):
    Arrow infers int64 for ints and float64 for floats, so the columns are
    bigint and double."""
    return spark.createDataFrame(pa.table({k: [v] for k, v in row.items()}))


def rule_eval(iob: DataFrame, deps: DataFrame,
              domain_terms: tuple[str, ...]) -> DataFrame:
    """One-row micro P/R/F vs gold pair ids (label=1)."""
    from nlp_lib_spark.sources.readers import gold_pairs
    pred = rule_predictions(iob, deps, domain_terms)
    gold = gold_pairs(iob).filter(F.col("label") == 1) \
                          .select("doc_id", "sent_id", "e1", "e2")
    key = ["doc_id", "sent_id", "e1", "e2"]
    # ONE action: a full-outer join + single agg, so the expensive
    # rule_predictions mapInPandas chain runs exactly once (the previous
    # three .count() actions recomputed it per action — at corpus scale
    # that tripled the eval cost).
    p = pred.withColumn("__p", F.lit(1))
    g = gold.withColumn("__g", F.lit(1))
    row = (p.join(g, key, "full_outer")
           .agg(F.sum(F.when(F.col("__p").isNotNull()
                             & F.col("__g").isNotNull(), 1)
                      .otherwise(0)).alias("tp"),
                F.sum(F.when(F.col("__p").isNotNull()
                             & F.col("__g").isNull(), 1)
                      .otherwise(0)).alias("fp"),
                F.sum(F.when(F.col("__p").isNull()
                             & F.col("__g").isNotNull(), 1)
                      .otherwise(0)).alias("fn"))
           .first())
    tp = int(row["tp"] or 0)
    fp = int(row["fp"] or 0)
    fn = int(row["fn"] or 0)
    precision = tp / max(1, tp + fp)
    recall = tp / max(1, tp + fn)
    f1 = (2 * precision * recall / (precision + recall)
          if precision + recall else 0.0)
    return _one_row(iob.sparkSession, {
        "tp": tp, "fp": fp, "fn": fn, "precision_": round(precision, 4),
        "recall_": round(recall, 4), "f1": round(f1, 4)})


def write_ppi_corpus(ann_rows: list[dict], out_dir: str) -> None:
    """Write the reference corpus layout from annotation dicts.

    Each dict: doc_id, sent_id, tokens(blinded), p1..n2 tag lists, edges.
    Trees are emitted as ``(ROOT)`` placeholders (PreparePPI2.java:97-99 —
    the failure marker; this engine stores dependency structure only).
    """
    docs: dict[str, list[dict]] = {}
    for r in ann_rows:
        docs.setdefault(r["doc_id"], []).append(r)
    for sub in ("iob", "trees", "deps", "depsCC"):
        os.makedirs(f"{out_dir}/{sub}", exist_ok=True)
    for doc_id, rows in docs.items():
        rows.sort(key=lambda r: r["sent_id"])
        with open(f"{out_dir}/iob/{doc_id}.txt", "w") as f:
            for r in rows:
                for k, tok in enumerate(r["tokens"]):
                    f.write("\t".join([
                        tok, r["p1"][k], r["p2"][k], r["n1"][k], r["n2"][k],
                    ]) + "\n")
                f.write("\n")
        with open(f"{out_dir}/trees/{doc_id}.mrg", "w") as f:
            for _ in rows:
                f.write("(ROOT)\n")
        for sub in ("deps", "depsCC"):
            with open(f"{out_dir}/{sub}/{doc_id}.dep", "w") as f:
                for r in rows:
                    parts = []
                    for (reln, gov, dep) in r["edges"]:
                        gw = r["tokens"][gov]
                        dw = r["tokens"][dep]
                        parts.append(f"{reln}({gw}-{gov + 1}, {dw}-{dep + 1})")
                    f.write("\t".join(parts) + "\n")


# --------------------------------------------------------------------------
# N-fold error rates, paired t-test, cross-corpus generalization
# (ml/crf/NFoldTTest.java:35-86, ml/crf/NFoldEvaluator.java,
#  ppi/MLExtractor.crossCorporaTest:246-284 — training is driver-side and
#  corpus-scale-small per SURVEY §3.2; featurization stays in the shared
#  distributed vUDFs upstream.)
# --------------------------------------------------------------------------

def _prf(tp: int, fp: int, fn: int) -> dict:
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = (2 * precision * recall / (precision + recall)
          if precision + recall else 0.0)
    return {"tp": tp, "fp": fp, "fn": fn,
            "precision": precision, "recall": recall, "f1": f1}


def nfold_error_rates(x: list[list[str]], y: list[int],
                      n_folds: int = 10) -> list[float]:
    """Per-fold error rate (fp+fn)/total over contiguous folds
    (NFoldTTest.genNFoldEvaluate, java:35-57; contiguous split per
    MLExtractor.java:195-215)."""
    from nlp_lib_spark.kernels.scoring import score, train_logreg
    n = len(y)
    rates: list[float] = []
    for k in range(n_folds):
        lo, hi = k * n // n_folds, (k + 1) * n // n_folds
        tr_x = x[:lo] + x[hi:]
        tr_y = y[:lo] + y[hi:]
        w, b = train_logreg(tr_x, tr_y)
        wrong = sum(1 for feats, label in zip(x[lo:hi], y[lo:hi])
                    if (score(feats, w, b) > 0.5) != bool(label))
        rates.append(wrong / max(1, hi - lo))
    return rates


def paired_t_statistic(a: list[float], b: list[float]) -> float:
    """Paired t statistic over per-fold metrics of two systems
    (the NFoldTTest protocol: same folds, difference scores).

    Zero variance with a NONZERO mean is the maximally-significant case
    (every fold shows the identical difference): the statistic diverges,
    so return signed infinity — returning 0.0 there would report "no
    difference" for a perfectly consistent one."""
    import math
    assert len(a) == len(b) and len(a) > 1
    d = [x - y for x, y in zip(a, b)]
    n = len(d)
    mean = sum(d) / n
    var = sum((v - mean) ** 2 for v in d) / (n - 1)
    if var == 0:
        return 0.0 if mean == 0 else math.copysign(math.inf, mean)
    return mean / math.sqrt(var / n)


def _count_tp_fp_fn(xs: list[list[str]], ys: list[int],
                    w, b) -> tuple[int, int, int]:
    """p>0.5 threshold counts, shared by every driver-side eval loop."""
    from nlp_lib_spark.kernels.scoring import score
    tp = fp = fn = 0
    for feats, label in zip(xs, ys):
        pred = score(feats, w, b) > 0.5
        if pred and label:
            tp += 1
        elif pred and not label:
            fp += 1
        elif not pred and label:
            fn += 1
    return tp, fp, fn


def cross_corpus_eval(train_x: list[list[str]], train_y: list[int],
                      test_x: list[list[str]], test_y: list[int]) -> dict:
    """Train on one corpus, test on another; P/R/F over positives
    (MLExtractor.crossCorporaTest, java:246-284)."""
    from nlp_lib_spark.kernels.scoring import train_logreg
    w, b = train_logreg(train_x, train_y)
    return _prf(*_count_tp_fp_fn(test_x, test_y, w, b))


# --------------------------------------------------------------------------
# Train-time utilities: hyperparameter grid search + seeded shuffle
# (ppi/filter/GridSearch.java:27-71, ppi/MLExtractor.shuffle:154-165)
# --------------------------------------------------------------------------

def grid_search_c(x: list[list[str]], y: list[int], n_folds: int = 5,
                  start: int = -5, end: int = 15, step: int = 2) -> float:
    """Grid search over C = 2^i (GridSearch.search, java:30-44): for each
    C run the contiguous n-fold CV of GridSearch.evaluate (java:46-71)
    and return the C with the best mean F-score (strict >, so the first
    best wins on ties — replicated).

    The reference trains an SVM per cell; this engine's runtime model is
    the logistic scorer, so C regularizes as l2 = 1/C.  Driver-side by
    design: the grid is tiny and training corpora are corpus-scale-small
    (SURVEY §3.2); featurization upstream stays distributed.
    """
    from nlp_lib_spark.kernels.scoring import train_logreg
    size = len(y)
    chunk = size // n_folds
    # best_c starts at the first grid cell so a degenerate corpus (every
    # fold F=0) still returns a valid C instead of 0.0 (which would blow
    # up the l2 = 1/C mapping downstream)
    best_f, best_c = 0.0, 2.0 ** start
    for i in range(start, end + 1, step):
        c = 2.0 ** i
        total_f = 0.0
        begin, stop = 0, chunk - 1
        for _fold in range(n_folds):
            tr_x = x[:begin] + x[stop + 1:]
            tr_y = y[:begin] + y[stop + 1:]
            te_x = x[begin:stop + 1]
            te_y = y[begin:stop + 1]
            w, b = train_logreg(tr_x, tr_y, l2=1.0 / c)
            total_f += _prf(*_count_tp_fp_fn(te_x, te_y, w, b))["f1"]
            begin = stop + 1
            stop = min(begin + chunk - 1, size - 1)
        mean_f = total_f / n_folds
        if mean_f > best_f:
            best_f, best_c = mean_f, c
    return best_c


def fisher_yates(items: list, seed: int) -> list:
    """Seeded Fisher-Yates (MLExtractor.shuffle, java:154-165 — the
    reference runs it unseeded; determinism is this engine's contract)."""
    import random
    rng = random.Random(seed)
    out = list(items)
    n = len(out)
    for i in range(n - 1):
        r = rng.randrange(i, n)
        if r != i:
            out[i], out[r] = out[r], out[i]
    return out


def seeded_shuffle(df: DataFrame, seed: int = 42) -> DataFrame:
    """Distributed analogue of the doc-id shuffle before fold splitting
    (SURVEY §2.8).  Deterministic REGARDLESS of partition layout: Spark's
    ``rand(seed)`` draws per-partition (seed + partitionIndex), so its
    order changes with the input's split count — instead the sort key is
    a content hash salted with the seed, which is a pure function of the
    row.  Train-time only — a full sort at extraction scale would be a
    needless global shuffle."""
    return df.orderBy(F.xxhash64(F.lit(seed), *df.columns), *df.columns)


CAND_SCHEMA = "doc_id string, sent_id int, e1 int, e2 int"


def candidate_predictions(iob: DataFrame, deps: DataFrame,
                          domain_terms: tuple[str, ...]) -> DataFrame:
    """(doc_id, sent_id, e1, e2) from the ppi.Rule1+2+3 candidate union
    (NewRuleExtractor.checkCandidateExtractor, ppi/NewRuleExtractor.java:
    128-198 — rule1.getCandidates ∪ rule2 ∪ rule3)."""
    from nlp_lib_spark.kernels.rules import Sent, rule_p1, rule_p2, rule_p3
    joined = iob.join(deps, ["doc_id", "sent_id"], "left")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from nlp_lib_spark.kernels.depgraph import DepGraph
        dom = DomainAnnotator(domain_terms)
        verb_stems = frozenset(stem(t) for t in domain_terms)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                tokens = list(r.tokens)
                raw_edges = r.edges if r.edges is not None else []
                edges = [(e["reln"], e["gov"], e["dep"]) for e in raw_edges]
                s = Sent(tokens, pos_tag(tokens, verb_stems),
                         dom.tag(tokens))
                g = DepGraph(edges)
                cands = rule_p1(s, g) | rule_p2(s, g) | rule_p3(s, g)
                for (i, j) in sorted(cands):
                    rows.append((r.doc_id, int(r.sent_id), i, j))
            yield pd.DataFrame(rows, columns=["doc_id", "sent_id",
                                              "e1", "e2"])

    return (joined.select("doc_id", "sent_id", "tokens", "edges")
            .mapInPandas(fn, schema=CAND_SCHEMA))


def candidate_recall_eval(iob: DataFrame, deps: DataFrame,
                          domain_terms: tuple[str, ...]) -> DataFrame:
    """Candidate-coverage evaluation (the NewRuleExtractor main driver,
    ppi/NewRuleExtractor.java:128-198): one row (tp, fp, miss) — candidates
    hitting positive gold pairs, candidates hitting negative gold pairs,
    and positive gold pairs no rule proposed.

    Two documented set-semantics deviations from the single-threaded
    driver: gold pairs are DISTINCT (the reference counts one miss per
    duplicate pair-id occurrence), and a pair carrying both a positive and
    a negative id resolves to negative (the reference's HashMap last-write
    order: N2 entries land after P2 entries at the same token)."""
    from nlp_lib_spark.sources.readers import gold_pairs
    key = ["doc_id", "sent_id", "e1", "e2"]
    gold = (gold_pairs(iob)
            .groupBy(key).agg(F.min("label").alias("label")))
    cand = candidate_predictions(iob, deps, domain_terms) \
        .withColumn("__c", F.lit(1))
    row = (gold.join(cand, key, "full_outer")
           .agg(F.sum(F.when(F.col("__c").isNotNull()
                             & (F.col("label") == 1), 1).otherwise(0))
                .alias("tp"),
                F.sum(F.when(F.col("__c").isNotNull()
                             & (F.col("label") == 0), 1).otherwise(0))
                .alias("fp"),
                F.sum(F.when(F.col("__c").isNull()
                             & (F.col("label") == 1), 1).otherwise(0))
                .alias("miss"))
           .first())
    return _one_row(iob.sparkSession, {
        k: int(row[k] or 0) for k in ("tp", "fp", "miss")})
