"""Entity linking: one verdict per distinct norm, exact tier first.

North-rule stage (SURVEY.md §2.9). Matching semantics extend the
reference's gazetteer (lowercase, exact membership) with a fuzzy tier:

1. exact tier — the norms left-join the broadcast dictionary on
   normalize(entity); one groupBy(norm) dedupes them and keeps the min
   raw entity of colliding entries ('US'/'us');
2. fuzzy tier, planned only for norms the exact tier left — 3-grams join
   a 3-gram inverted index of the dictionary (blocking), then score
   Jaccard = |inter| / (|A| + |B| - |inter|) and keep the best candidate
   above ``threshold`` (deterministic tiebreak: higher score, then
   lexicographically smaller entity); the rest are ``unlinked``.

``link_mentions_tfidf`` is the same two tiers with IDF-weighted 3-gram
Jaccard as the fuzzy score, the weights computed in the JVM.

Everything is built-in DataFrame ops over a JVM-local dictionary — the
n-gram generation is a ``transform(sequence(...))`` expression, not a UDF.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

_NORM = "trim(regexp_replace(lower(%s), '\\\\s+', ' '))"


def dictionary_frame(spark: SparkSession,
                     entities: Iterable[str]) -> DataFrame:
    """``dictionary(entity)`` built from Arrow: a JVM-local ``LocalRelation``
    (a list-built frame is a Python RDD that forks Python tasks per read)."""
    return spark.createDataFrame(
        pa.table({"entity": pa.array(list(entities), pa.string())}))


def _grams_expr(col: str) -> str:
    # character 3-grams of the normalized string (padded variant unneeded:
    # mentions are >= 1 char; short strings fall back to the whole string)
    return (f"CASE WHEN length({col}) < 3 THEN array({col}) ELSE "
            f"array_distinct(transform(sequence(1, length({col}) - 2), "
            f"i -> substring({col}, i, 3))) END")


def normalize_mentions(mentions: DataFrame,
                       text_col: str = "mention_text") -> DataFrame:
    return mentions.withColumn("norm", F.expr(_NORM % text_col))


def _canonical_dictionary(dictionary: DataFrame) -> DataFrame:
    """One entity per NORMALIZED surface form, min-entity tiebreak, so
    colliding raw entries ('US'/'us') yield one verdict per norm. Null
    entities are dropped first: they must not count in the TF-IDF N."""
    return (dictionary
            .filter(F.col("entity").isNotNull())
            .withColumn("entity_norm", F.expr(_NORM % "entity"))
            .groupBy("entity_norm")
            .agg(F.min("entity").alias("entity"))
            .select("entity", "entity_norm"))


def link_norms(norms: DataFrame, dictionary: DataFrame,
               threshold: float = 0.5) -> DataFrame:
    """norms(norm) x dictionary(entity) -> one (norm, entity, method, score)
    verdict per distinct norm; unlinked: entity = norm, score 0.0."""
    d = dictionary.withColumn("entity_norm", F.expr(_NORM % "entity"))
    # checkpointed: the probe, the verdicts and the fuzzy tier all read it
    exact = (norms.select("norm")
             .join(F.broadcast(d), F.col("norm") == d.entity_norm, "left")
             .groupBy("norm").agg(F.min("entity").alias("entity"))
             .localCheckpoint())
    verdicts = (exact.filter(F.col("entity").isNotNull())
                .select("norm", "entity", F.lit("exact").alias("method"),
                        F.lit(1.0).alias("score")))
    unmatched = exact.filter(F.col("entity").isNull()).select("norm")
    # a one-task probe; the fuzzy plan it skips ran several jobs over
    # zero rows whenever every norm matched exactly (kg_build's cmap)
    if unmatched.isEmpty():
        return verdicts
    dg = (_canonical_dictionary(dictionary)
          .withColumn("grams", F.expr(_grams_expr("entity_norm")))
          .select("entity", F.size("grams").alias("n_b"),
                  F.explode("grams").alias("gram")))
    cand = (unmatched.withColumn("grams", F.expr(_grams_expr("norm")))
            .select("norm", F.size("grams").alias("n_a"),
                    F.explode("grams").alias("gram"))
            .join(F.broadcast(dg), "gram")
            .groupBy("norm", "n_a", "entity", "n_b")
            .agg(F.count(F.lit(1)).alias("inter"))
            .withColumn("score", F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 4))
            .filter(F.col("score") >= threshold))
    w = Window.partitionBy("norm").orderBy(F.desc("score"), F.asc("entity"))
    best = (cand.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .select("norm", F.col("entity").alias("best"),
                    F.col("score").alias("best_score")))
    # one left join yields both the jaccard3 and the unlinked rows
    fuzzy = (unmatched.join(best, "norm", "left")
             .select("norm", F.coalesce("best", "norm").alias("entity"),
                     F.when(F.col("best").isNull(), "unlinked")
                      .otherwise("jaccard3").alias("method"),
                     F.coalesce("best_score", F.lit(0.0)).alias("score")))
    return verdicts.unionByName(fuzzy)


def link_mentions(mentions: DataFrame, dictionary: DataFrame,
                  threshold: float = 0.5) -> DataFrame:
    """mentions(..., mention_text) x dictionary(entity) -> +norm, entity,
    method, score: one row per mention (its norm's link_norms verdict)."""
    # read twice (verdicts, join back): the upstream chain runs once
    m = normalize_mentions(mentions).localCheckpoint()
    v = link_norms(m, dictionary, threshold).withColumnRenamed("norm", "vn")
    # null-safe, so a null mention_text keeps its (unlinked) row
    return m.join(v, m.norm.eqNullSafe(v.vn)).drop("vn")


def _py_grams(s: str) -> list[str]:
    """Python mirror of ``_grams_expr`` (len<3 -> whole string, else
    first-occurrence-distinct character 3-grams)."""
    if len(s) < 3:
        return [s]
    seen: list[str] = []
    have = set()
    for i in range(len(s) - 2):
        g = s[i:i + 3]
        if g not in have:
            have.add(g)
            seen.append(g)
    return seen


def gram_idf_weights(entity_norms: tuple[str, ...],
                     scale: int = 1_000_000) -> tuple[dict[str, int], int]:
    """Integer IDF weight per dictionary 3-gram, plus the OOV weight.

    ``w(g) = max(1, round(scale * ln((N+1)/df(g))))`` over the N distinct
    dictionary entities; a mention gram absent from every entity gets the
    smoothed ``df=0.5`` weight.  The pure-Python reference of the weights
    :func:`link_mentions_tfidf` computes in the JVM: the DuckDB oracle
    injects these as integer literals, so no ``ln`` runs in DuckDB and
    the score arithmetic stays engine-exact (integer sums + one BIGINT
    floor division; the pr_eval lesson)."""
    norms = sorted(set(entity_norms))
    n = len(norms)
    df: dict[str, int] = {}
    for e in norms:
        for g in set(_py_grams(e)):
            df[g] = df.get(g, 0) + 1
    weights = {g: max(1, int(round(scale * math.log((n + 1) / d))))
               for g, d in df.items()}
    w_oov = int(round(scale * math.log((n + 1) / 0.5)))
    return weights, w_oov


def link_mentions_tfidf(mentions: DataFrame, dictionary: DataFrame,
                        threshold_micro: int = 250_000,
                        max_gram_df_frac: float | None = None) -> DataFrame:
    """TF-IDF-weighted fuzzy linking tier (north-star: "TF-IDF/Jaccard
    scoring").

    Same exact tier + 3-gram blocking as :func:`link_norms`, but the
    fuzzy score weights every gram by its dictionary IDF, so rare
    discriminative grams dominate and ubiquitous ones ("the", "ion")
    barely count:

        score = W(A ∩ B) / (W(A) + W(B) - W(A ∩ B))

    with ``W`` the integer IDF-weight sum (mention grams are a set, so
    tf=1 — weighted Jaccard over the gram sets).  ``score_micro`` is the
    exact BIGINT floor of ``10^6 * score`` — integer end-to-end, so the
    DuckDB oracle hashes bit-identically.  Output: one verdict per
    distinct normalized mention ``(norm, entity, method, score_micro)``
    with method ∈ {exact, tfidf3, unlinked}.

    IDF weights are computed in the JVM: ``explode(grams) ->
    groupBy(gram).count()`` over the canonical dictionary (grams are
    per-entity-distinct already via ``array_distinct``), then ``w =
    greatest(1, bround(scale * ln((N+1)/df)))``. ``bround`` is half-even
    — Python's ``round`` — so the weights equal :func:`gram_idf_weights`
    bit-for-bit (same IEEE doubles in, same rounding). Only the scalar
    entity count N reaches the driver; the dictionary is never collected,
    so it has no size limit.

    Skew: a ubiquitous gram ("ion", " th") fans the blocking join out as
    |mentions with g| x |entities with g|. AQE's skew-join split handles
    moderate cases; for web-scale dictionaries pass ``max_gram_df_frac``
    (e.g. 0.01) to drop grams present in more than that fraction of
    entities from the score's gram universe entirely (consistently from
    BOTH sides and from the OOV fallback, so the score stays a true
    weighted Jaccard over the reduced universe — stop-gram removal, the
    documented approximation; such grams carry near-zero IDF weight
    anyway). Default None keeps every gram."""
    # d feeds the count, dg and the exact join: materialize it once
    d = _canonical_dictionary(dictionary).localCheckpoint()
    # one left join to the canonical dictionary resolves exact and
    # unmatched norms together; checkpointed, as both tiers read it
    resolved = (normalize_mentions(mentions).select("norm").distinct()
                .join(d, F.col("norm") == d.entity_norm, "left")
                .select("norm", "entity")
                .localCheckpoint())
    exact = (resolved.filter(F.col("entity").isNotNull())
             .select("norm", "entity",
                     F.lit("exact").alias("method"),
                     F.lit(1_000_000).cast("long").alias("score_micro")))
    unmatched = resolved.filter(F.col("entity").isNull()).select("norm")
    # a one-task probe, as in link_norms: the weight tables and the fuzzy
    # plan below cost several jobs even over zero unmatched norms
    if unmatched.isEmpty():
        return exact

    n = d.count()  # a scalar: the dictionary itself never reaches the driver
    scale = 1_000_000
    w_oov = int(round(scale * math.log((n + 1) / 0.5)))
    # floor at 1: for small dictionaries frac*n < 1 would floor to a cap
    # of 0 and silently drop EVERY gram (all fuzzy mentions unlinked);
    # the cap's intent is to drop only ubiquitous grams, so the smallest
    # meaningful cap is "grams in exactly one entity".
    df_cap = (max(1, int(max_gram_df_frac * n))
              if max_gram_df_frac is not None else n)

    # dg feeds three consumers (the weight aggregation, the in-dict
    # probe, the weighted index) and wdf two — Spark SQL re-computes a
    # referenced subtree per consumer (no common-subplan sharing), which
    # for a data-sized dictionary means re-exploding and re-aggregating
    # it up to three times. localCheckpoint materializes each ONCE.
    dg = (d.withColumn("grams", F.expr(_grams_expr("entity_norm")))
          .select("entity", F.explode("grams").alias("gram"))
          .localCheckpoint())
    wdf = (dg.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df") <= F.lit(df_cap))
           .withColumn("w", F.greatest(
               F.lit(1).cast("long"),
               F.bround(F.lit(float(scale)) *
                        F.log((F.lit(n) + F.lit(1.0)) / F.col("df")))
               .cast("long")))
           .select("gram", "w")
           .localCheckpoint())

    mg_all = (unmatched.withColumn("grams", F.expr(_grams_expr("norm")))
              .select("norm", F.explode("grams").alias("gram")))
    # per-gram weight for the mention side: capped-out grams must be
    # EXCLUDED (not OOV-weighted), so the hot-gram prune joins dg back —
    # a gram is OOV only if NO dictionary entity contains it at all
    # mg feeds TWO consumers (a_w and inter) — materialize once, like dg
    mg = (mg_all.join(wdf, "gram", "left")
          .join(dg.select("gram").distinct()
                  .withColumn("__in_dict", F.lit(True)),
                "gram", "left")
          .filter(F.col("w").isNotNull() | F.col("__in_dict").isNull())
          .withColumn("w", F.coalesce(F.col("w"), F.lit(w_oov)))
          .localCheckpoint())
    a_w = mg.groupBy("norm").agg(F.sum("w").alias("a_w"))
    dgw = dg.join(wdf, "gram")
    b_w = dgw.groupBy("entity").agg(F.sum("w").alias("b_w"))
    inter = (mg.select("norm", "gram").join(dgw, "gram")
             .groupBy("norm", "entity").agg(F.sum("w").alias("inter_w")))
    cand = (inter.join(a_w, "norm").join(b_w, "entity")
            .withColumn("score_micro", F.expr(
                "(inter_w * 1000000L) DIV (a_w + b_w - inter_w)"))
            .filter(F.col("score_micro") >= threshold_micro))
    w = Window.partitionBy("norm").orderBy(F.desc("score_micro"),
                                           F.asc("entity"))
    best = (cand.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .select("norm", F.col("entity").alias("best_entity"),
                    F.col("score_micro").alias("best_score")))
    # one left join yields both the tfidf3 and the unlinked rows, so the
    # candidate subtree is planned once
    linked = (unmatched.join(best, "norm", "left")
              .select("norm",
                      F.coalesce("best_entity", "norm").alias("entity"),
                      F.when(F.col("best_entity").isNull(), "unlinked")
                       .otherwise("tfidf3").alias("method"),
                      F.coalesce("best_score", F.lit(0).cast("long"))
                       .alias("score_micro")))
    return exact.unionByName(linked)


def link_edges_for_cc(linked: DataFrame) -> DataFrame:
    """Similarity edges (norm <-> entity) feeding connected components."""
    return (linked.filter(F.col("method") != "unlinked")
            .select(F.col("norm").alias("u"), F.col("entity").alias("v"))
            .distinct())
