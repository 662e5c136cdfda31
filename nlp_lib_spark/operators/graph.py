"""KG materialization: canonical node/edge tables.

Final stage of the north rule: triples + mention links + components ->
``nodes(entity_id, canonical, n_aliases, n_mentions)`` and
``edges(subj_id, pred, obj_id, weight, n_convs)``. In production both are
Iceberg tables partitioned by ``bucket(N, subj_id)`` (see sources/catalog);
here parquet. The canonicalization map is usually small relative to the
triple stream -> broadcast it into the triple rewrite so the only wide
shuffle is the final edge aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from nlp_lib_spark.operators.linking import link_norms, normalize_mentions


def canonical_map(mentions: DataFrame, dictionary: DataFrame) -> DataFrame:
    """mention norm -> canonical entity id (component min-label).

    The mention-similarity graph of the :func:`link_norms` verdicts is a
    bipartite STAR FOREST by construction: each norm carries exactly ONE
    verdict edge, and entities never interlink (an entity string that
    occurs as a mention norm is already normalized, so it exact-matches
    its own entity_norm — a self-loop).  So the general iterative CC
    (operators/canonicalize.py, still used by cc_components /
    kg_vocab_canon, whose graphs are arbitrary) is replaced by one
    window over the per-norm verdicts: every component is {entity} ∪
    norms(entity), labelled ``least(entity, min(linked norm))``.  Both
    consumers (kg_entity_links, kg_edges) carry full transitive-closure
    DuckDB oracles, so the closed form is value-hash verified against the
    general-CC semantics on every parity/fuzz run.
    """
    verdicts = link_norms(normalize_mentions(mentions), dictionary)
    linked = F.min(F.when(F.col("method") != "unlinked", F.col("norm")))
    # least() skips a null label: an unlinked norm (entity == norm) is
    # its own singleton component
    label = F.least("entity", linked.over(Window.partitionBy("entity")))
    return verdicts.select("norm", F.coalesce(label, "norm").alias("entity_id"),
                           "method", "score")


def materialize_graph(triples: DataFrame, cmap: DataFrame
                      ) -> tuple[DataFrame, DataFrame]:
    """Returns (nodes, edges) with canonical ids.

    Each call localCheckpoints the broadcast map and the canonicalized
    triple frame both tables aggregate.  A caller that materializes the
    two tables separately owns the reuse: it calls this once per
    (triples, cmap) pair and frees the checkpoints after the second
    write (``plans/checkpoint.full_kg_stages`` shares one call between
    its nodes and edges stages; the pipeline frees them at run end)."""
    # the map is broadcast into TWO joins — localCheckpoint so the
    # linking/labeling subtree is computed once, not once per broadcast
    cm = F.broadcast(cmap.select("norm", "entity_id").distinct()
                     .localCheckpoint())
    t = (triples
         .withColumn("subj_norm", F.expr(
             "trim(regexp_replace(lower(subj), '\\\\s+', ' '))"))
         .withColumn("obj_norm", F.expr(
             "trim(regexp_replace(lower(obj), '\\\\s+', ' '))")))
    t = (t.join(cm.withColumnRenamed("norm", "subj_norm")
                  .withColumnRenamed("entity_id", "subj_id"),
                "subj_norm", "left")
          .join(cm.withColumnRenamed("norm", "obj_norm")
                  .withColumnRenamed("entity_id", "obj_id"),
                "obj_norm", "left")
          .withColumn("subj_id", F.coalesce("subj_id", "subj_norm"))
          .withColumn("obj_id", F.coalesce("obj_id", "obj_norm"))
          .localCheckpoint())  # consumed by both nodes and edges aggs

    edges = (t.groupBy("subj_id", "pred", "obj_id")
             .agg(F.count(F.lit(1)).alias("weight"),
                  F.countDistinct("conv_id").alias("n_convs")))
    nodes = (t.select(F.col("subj_id").alias("entity_id"),
                      F.col("subj_norm").alias("alias"))
             .union(t.select(F.col("obj_id"), F.col("obj_norm")))
             .groupBy("entity_id")
             .agg(F.countDistinct("alias").alias("n_aliases"),
                  F.count(F.lit(1)).alias("n_mentions")))
    return nodes, edges


def write_graph(nodes: DataFrame, edges: DataFrame, out_dir: str,
                buckets: int = 64) -> None:
    """Parquet sink (Iceberg ``bucket(subj_id)`` in production)."""
    (nodes.repartition(buckets, "entity_id")
     .write.mode("overwrite").parquet(f"{out_dir}/nodes"))
    (edges.repartition(buckets, "subj_id")
     .write.mode("overwrite").parquet(f"{out_dir}/edges"))


# --------------------------------------------------------------------------
# PageRank over the canonical KG (round 5)
# --------------------------------------------------------------------------

PR_SCALE = 10 ** 12      # fixed-point rank units
PR_DAMPING_PCT = 85      # 0.85 as an integer percentage
PR_ITERS = 5


def pagerank(edges: DataFrame, iters: int = PR_ITERS,
             damping_pct: int = PR_DAMPING_PCT,
             scale: int = PR_SCALE,
             src_col: str = "subj_id", dst_col: str = "obj_id",
             weight_col: str = "weight") -> DataFrame:
    """Weighted PageRank over the canonical edge table, exact-integer.

    Entity salience for the KG (which canonical entities does the graph
    keep pointing at) — the classic iterative graph operator the CC
    stage does not provide.  Determinism is engineered like the Lloyd
    loop (dedup._kmeans_lloyd): ranks live in ``scale`` fixed-point
    BIGINT units, every division is integer (Spark ``DIV`` == DuckDB
    ``//`` on the non-negative operands here), so both engines and any
    retry/partitioning compute identical ranks.

        r0(x)   = scale // N
        contrib = (r(src) * w) // W(src)          per edge
        r'(x)   = (100-d) * (scale // N) // 100 + d * sum(contrib) // 100

    Dangling-node mass is dropped (the simplest of the standard
    variants; the oracle replays the same choice).  No driver collect
    anywhere: N and the base term ride along as 1-row frames
    (broadcast-nested-loop, the lm_filter threshold convention).

    Scale shape: per round ONE shuffle join ranks-to-edges on src plus
    ONE groupBy(dst) with map-side partial aggregation — the canonical
    distributed-PageRank plan; edge and node frames are materialized
    once (localCheckpoint) and reused by all rounds.  Hot entities are
    AQE skew-join territory on the dst aggregation.
    """
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct out of range: {damping_pct}")
    e = (edges.groupBy(F.col(src_col).alias("s"),
                       F.col(dst_col).alias("d"))
         .agg(F.sum(weight_col).cast("long").alias("w"))
         .localCheckpoint())
    wout = e.groupBy("s").agg(F.sum("w").alias("tw")).localCheckpoint()
    nodes = (e.select(F.col("s").alias("id"))
             .union(e.select("d")).distinct().localCheckpoint())
    n1 = nodes.agg(F.count(F.lit(1)).alias("n"))
    # nullif: an empty graph must yield an empty result, not an ANSI
    # divide-by-zero (the NULL never surfaces — no node rows consume it)
    base = n1.selectExpr(
        f"CAST({scale} AS BIGINT) DIV nullif(n, 0) AS r0",
        f"({100 - damping_pct} * (CAST({scale} AS BIGINT) "
        f"DIV nullif(n, 0))) DIV 100 AS base").localCheckpoint()
    ranks = nodes.crossJoin(F.broadcast(base)) \
                 .select("id", F.col("r0").alias("r"))
    for _ in range(iters):
        # (r*w) DIV tw decomposed as (r DIV tw)*w + ((r%tw)*w) DIV tw —
        # identical value for non-negative operands, but the raw product
        # r*w overflows BIGINT at hot entities once tw reaches ~1e9 with
        # scale=1e12 (ANSI mode would kill the job); the decomposition's
        # largest intermediate is (r%tw)*w < tw^2, safe to tw ~ 3e9, and
        # (r DIV tw)*w <= r.  The DuckDB oracle keeps the plain form
        # (HUGEINT products don't overflow) — same value, two spellings.
        contrib = (e.join(ranks, e.s == ranks.id)
                   .join(wout, "s")
                   .selectExpr(
                       "d AS id",
                       "(r DIV tw) * w + ((r % tw) * w) DIV tw AS c")
                   .groupBy("id").agg(F.sum("c").alias("sc")))
        ranks = (nodes.join(contrib, "id", "left")
                 .crossJoin(F.broadcast(base))
                 .selectExpr(
                     "id",
                     f"base + ({damping_pct} * coalesce(sc, 0L)) DIV 100"
                     " AS r"))
    win = e.groupBy(F.col("d").alias("id")).agg(F.sum("w").alias("twin"))
    return (ranks
            .join(wout.selectExpr("s AS id", "tw"), "id", "left")
            .join(win, "id", "left")
            .selectExpr("id AS entity_id", "r AS pr_scaled",
                        "CAST(coalesce(tw, 0) AS BIGINT) AS pr_wout",
                        "CAST(coalesce(twin, 0) AS BIGINT) AS pr_win"))
