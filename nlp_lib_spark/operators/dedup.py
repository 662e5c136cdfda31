"""First-class dedup / fingerprint / similarity-search operators.

Every training-data-pipeline operator from the build brief as a reusable
``DataFrame -> DataFrame`` transform over arbitrary input frames — the
gate queries (nlp_lib_spark/gate.py) call exactly these functions over
the ``documents`` / ``embeddings`` views, so each one is value-hash
verified against its DuckDB oracle at gate time.

All operators are pure Spark SQL expressions (JVM-side, whole-stage
codegen; zero Python UDFs):

* exact dedup — md5(lower(text)) groups, keeper = min id;
* bag fingerprint — md5 of the sorted distinct token bag;
* MinHash — one md5 per 3-token shingle sliced into 8 16-bit slots;
  LSH banding with bucket-local pair generation (no self-join);
* near-dup clustering — LSH pairs -> connected components -> keeper
  election (``neardup_clusters``, the only non-pure-SQL member: CC is
  the canonicalize contraction/star loop);
* SimHash — 60-bit md5-derived bit votes;
* n-gram Jaccard — distinct 3-gram sets + intersection ratio;
* embedding cosine near-dup, brute-force top-k, random-hyperplane LSH
  top-k, and grid-IVF top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from nlp_lib_spark.operators.viewsql import sql_over, unique_view

_N_HASHES = 8
_N_PLANES = 8
# k of SemDeDup's k-means quantizer; the DuckDB oracle (gate.py) and the
# pure-Python replica (tests/test_semdedup.py) import this one value
SEMDEDUP_N_CENTROIDS = 16


def _sql(df: DataFrame, sql: str) -> DataFrame:
    """Run SQL against ``df`` via a unique, immediately-dropped temp view
    (shared helper; see operators/viewsql.py for why a fixed name is
    wrong)."""
    return sql_over(df, sql, prefix="dedup")


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Content-hash groups: (text_hash, keeper id, copy count)."""
    return _sql(df, f"""
SELECT md5(lower({text_col})) AS text_hash, min({id_col}) AS keeper_doc_id,
       count(*) AS n_copies
FROM {{t}} GROUP BY md5(lower({text_col}))
""")


def doc_fingerprint(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Order-insensitive document fingerprint: md5 of the sorted
    distinct token bag."""
    return _sql(df, f"""
SELECT {id_col},
       md5(array_join(array_sort(array_distinct(split({text_col}, ' '))), ' ')) AS bag_fp
FROM {{t}}
""")


def _minhash_sig_sql(id_col: str, text_col: str) -> str:
    mh_cols = ", ".join(f"mhs[{h}] AS mh{h}" for h in range(_N_HASHES))
    return f"""
WITH sh AS (
  SELECT {id_col},
         transform(sequence(1, greatest(1, size(split({text_col}, ' ')) - 2)),
                   i -> array_join(slice(split({text_col}, ' '), i, 3), ' ')) AS shingles
  FROM {{t}}
), sig AS (
  SELECT {id_col},
         aggregate(transform(shingles, s -> md5(s)),
                   array_repeat('gggg', {_N_HASHES}),
                   (acc, d) -> zip_with(acc, sequence(0, {_N_HASHES - 1}),
                       (a, h) -> least(a, substring(d, h * 4 + 1, 4)))) AS mhs
  FROM sh
)
SELECT {id_col}, {mh_cols} FROM sig
"""


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """8-slot MinHash signature per document (one md5 per shingle)."""
    return _sql(df, _minhash_sig_sql(id_col, text_col))


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      bucket_cap: int = 1000) -> DataFrame:
    """Near-dup candidate pairs via LSH banding (2 slots per band).

    Bands explode row-locally and candidate pairs are generated inside
    each bucket (groupBy band -> sorted id list -> pair explode) — no
    self-join, so the signature subtree computes once and the band table
    shuffles once.

    ``bucket_cap`` defuses degenerate buckets (a band value shared by a
    flood of near-identical or empty documents would otherwise OOM the
    collect buffer and explode quadratically): a ``row_number`` window
    keeps the ``bucket_cap`` smallest ids per (band_idx, band_val)
    BEFORE the collect, bounding both memory and pair count at cap^2.
    The cap sits far above organic bucket sizes, so on non-adversarial
    data the output is identical; for a truncated bucket the kept-id
    pairs are still emitted (a bounded-recall candidate cut, the
    standard LSH posture at scale)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    # (the cap below is the same row_number-before-collect invariant as
    # skew.capped_collect — kept inline because this path collects the
    # CAPPED ids only, with no n_total/truncated columns to strip)
    sig = minhash_signatures(df, id_col, text_col)
    band_structs = ", ".join(
        f"named_struct('band_idx', {b}, 'band_val', md5(mh{2*b} || mh{2*b+1}))"
        for b in range(_N_HASHES // 2))
    bands = sig.select(
        id_col, F.expr(f"explode(array({band_structs}))").alias("b")
    ).select(id_col, "b.band_idx", "b.band_val")
    w = Window.partitionBy("band_idx", "band_val").orderBy(id_col)
    capped = (bands.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= bucket_cap).drop("__rn"))
    buckets = (capped.groupBy("band_idx", "band_val")
               .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
               .filter(F.size("ids") > 1))
    pairs = buckets.select(F.explode(F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> "
        "struct(x AS doc_a, y AS doc_b))))")).alias("p"))
    return pairs.select("p.doc_a", "p.doc_b").distinct()


def neardup_clusters(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     bucket_cap: int = 1000,
                     pairs: DataFrame | None = None) -> DataFrame:
    """End-to-end near-duplicate clustering: LSH candidate pairs ->
    connected components -> per-cluster keeper election.

    ``pairs`` (columns ``doc_a``, ``doc_b``) lets a caller bring their
    own candidate edges — embedding-ANN pairs, SimHash bands, or an
    adversarial rehearsal chain — in place of the built-in MinHash LSH;
    clustering and keeper election are identical either way.

    This is the composition a real training-data dedup actually runs
    (candidate pairs alone are not actionable — near-dup groups are
    transitive, so doc A~B and B~C must collapse to ONE keeper even when
    A and C never share a bucket). Returns exactly one row per input
    document: ``(id_col, cluster_id, cluster_size, is_keeper)`` with
    ``cluster_id`` = the smallest member id (singletons are their own
    cluster) and ``is_keeper`` = 1 on the elected representative.

    Scale shape: the edge set is the LSH pair list (bounded per bucket by
    ``bucket_cap``), CC runs the contraction + star rounds from
    operators/canonicalize (1-3 rounds in practice, checkpoint blocks
    released per round), and the join back to the corpus is a plain
    equi-join on the id — AQE broadcasts the component map when it is
    small, and it degrades to a shuffle join (not a failure) when the
    duplicate fraction is large. The keeper election is a
    ``groupBy(cluster).agg(min, count)`` + join back — NOT a window —
    because CC is transitive: a pathological mega-cluster (template spam,
    near-empty docs) can chain far past ``bucket_cap``, and a window over
    the cluster key funnels that cluster's whole membership through one
    task with no map-side combine, while the groupBy collapses it
    map-side and AQE can skew-split the join back (verdict r4 item 1;
    value-identical output by construction)."""
    from pyspark.sql import functions as F

    from nlp_lib_spark.operators.canonicalize import connected_components
    if pairs is None:
        pairs = minhash_lsh_pairs(df, id_col, text_col, bucket_cap)
    # CC's union-find contraction is string-keyed; its label is only a
    # cluster HANDLE here (string min != numeric min), so the canonical
    # cluster_id is re-derived below as the numeric min member id
    edges = pairs.select(F.col("doc_a").cast("string").alias("u"),
                         F.col("doc_b").cast("string").alias("v"))
    comp = connected_components(edges)  # (id, component) — string labels
    labeled = (df.select(id_col)
               .join(comp.withColumnRenamed("id", "__id_s"),
                     F.col(id_col).cast("string") == F.col("__id_s"),
                     "left")
               .select(F.col(id_col),
                       F.coalesce("component",
                                  F.col(id_col).cast("string"))
                        .alias("__ckey")))
    stats = labeled.groupBy("__ckey").agg(
        F.min(id_col).alias("cluster_id"),
        F.count("*").alias("cluster_size"))
    return (labeled.join(stats, "__ckey")
            .select(F.col(id_col), "cluster_id", "cluster_size",
                    (F.col(id_col) == F.col("cluster_id"))
                    .cast("int").alias("is_keeper")))


def repeated_ngram_spans(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         n: int = 50, stride: int = 10) -> DataFrame:
    """Cross-document repeated-substring detection (the signal behind
    substring-level dedup a la "Deduplicating Training Data Makes
    Language Models Better": long token windows shared verbatim across
    documents are memorization fuel even when the documents as wholes
    are unique — license boilerplate, quoted articles, templated specs).

    Hashes every ``n``-token window at ``stride``-token steps and counts,
    per document: total windows, windows whose hash also occurs in at
    least one OTHER document, and windows duplicated anywhere (another
    doc or elsewhere in the same doc). Consumers threshold the dup
    fraction or feed the flagged (doc, window) spans to a trimmer.

    Scale shape: windows explode row-locally (bounded: len/stride per
    doc), one (hash)-keyed aggregation with map-side partial combine,
    one join back keyed by the same hash, one doc-keyed count — the
    exact-dedup shape with a window fan-out factor. stride > 1 is the
    standard recall/cost dial (a verbatim copy of length >= n + stride-1
    tokens is always caught; pay stride=1 for exact n-token recall).
    Pure integer/hash SQL, bit-exact across engines."""
    return _sql(df, f"""
WITH w AS (
  -- CASE guard, not greatest(): Spark's sequence(1, 0) is the
  -- DESCENDING [1, 0], so an under-length doc must short-circuit to an
  -- empty array (the bench_grams pattern)
  SELECT {id_col},
         CASE WHEN size(split({text_col}, ' ')) >= {n}
              THEN transform(
                sequence(1, (size(split({text_col}, ' ')) - {n})
                            DIV {stride} + 1),
                i -> md5(array_join(slice(split({text_col}, ' '),
                                          (i - 1) * {stride} + 1, {n}),
                                    ' ')))
              ELSE array() END AS hs
  FROM {{t}}
), e AS (
  SELECT {id_col}, h FROM w LATERAL VIEW explode(hs) AS h
), c AS (
  SELECT h, count(*) AS n_occ, count(DISTINCT {id_col}) AS n_docs
  FROM e GROUP BY h
), agg AS (
  SELECT e.{id_col},
         count(*) AS sub_n_windows,
         CAST(sum(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS sub_crossdoc_windows,
         CAST(sum(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS sub_dup_windows
  FROM e JOIN c ON e.h = c.h
  GROUP BY e.{id_col}
)
-- one row per INPUT document (under-length docs carry zeros): the
-- doc_stats composite inner-joins members 1:1 on the id
SELECT t.{id_col},
       CAST(coalesce(a.sub_n_windows, 0) AS BIGINT) AS sub_n_windows,
       CAST(coalesce(a.sub_crossdoc_windows, 0) AS BIGINT)
         AS sub_crossdoc_windows,
       CAST(coalesce(a.sub_dup_windows, 0) AS BIGINT) AS sub_dup_windows
FROM (SELECT {id_col} FROM {{t}}) t
LEFT JOIN agg a ON t.{id_col} = a.{id_col}
""")


def simhash(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """60-bit SimHash from md5-derived per-token bit votes."""
    return _sql(df, f"""
WITH h AS (
  SELECT {id_col},
         transform(split({text_col}, ' '),
                   t -> cast(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT)) AS hs
  FROM {{t}}
)
SELECT {id_col},
       aggregate(sequence(0, 59), 0L, (acc, b) ->
         acc + CASE WHEN aggregate(hs, 0, (v, x) ->
                         v + CASE WHEN shiftright(x, b) % 2 = 1 THEN 1 ELSE -1 END) > 0
               THEN shiftleft(1L, b) ELSE 0L END) AS simhash
FROM h
""")


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        threshold: float = 0.2,
                        max_id: int | None = 80) -> DataFrame:
    """All-pairs 3-gram Jaccard over a bounded id range (the exact
    variant; use minhash_lsh_pairs as the blocked scale path)."""
    where = f"WHERE {id_col} < {max_id}" if max_id is not None else ""
    return _sql(df, f"""
WITH g AS (
  SELECT {id_col},
         array_distinct(transform(sequence(1, greatest(1, size(split({text_col}, ' ')) - 2)),
                        i -> array_join(slice(split({text_col}, ' '), i, 3), ' '))) AS grams
  FROM {{t}} {where}
)
SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
       CAST(round(size(array_intersect(a.grams, b.grams)) * 1.0 /
             (size(a.grams) + size(b.grams) - size(array_intersect(a.grams, b.grams))), 4) AS DOUBLE) AS jac
FROM g a JOIN g b ON a.{id_col} < b.{id_col}
WHERE size(array_intersect(a.grams, b.grams)) * 1.0 /
      (size(a.grams) + size(b.grams) - size(array_intersect(a.grams, b.grams))) >= {threshold}
""")


# --------------------------------------------------------------------------
# Embedding similarity search
# --------------------------------------------------------------------------

# nullif guards the zero-norm case: an all-zero embedding has undefined
# cosine, and under Spark 4's default ANSI mode a plain division would
# raise DIVIDE_BY_ZERO and fail the whole job; NULL sim rows are filtered
# by every consumer (threshold comparisons and explicit IS NOT NULL)
_COS = ("round(aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (s, v) -> s + v)"
        " / nullif(sqrt(aggregate({a}, 0D, (s, v) -> s + v * v))"
        " * sqrt(aggregate({b}, 0D, (s, v) -> s + v * v)), 0D), 4)")


def embedding_neardup_pairs(df: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.35,
                            max_id: int | None = 200) -> DataFrame:
    """All-pairs cosine near-duplicates over a bounded id range."""
    where = f"WHERE {id_col} < {max_id}" if max_id is not None else ""
    cos = _COS.format(a="a.emb", b="b.emb")
    return _sql(df, f"""
WITH e AS (SELECT {id_col}, transform({vec_col}, x -> cast(x AS DOUBLE)) AS emb
           FROM {{t}} {where}),
sims AS (
  SELECT a.{id_col} AS vec_a, b.{id_col} AS vec_b, {cos} AS sim
  FROM e a JOIN e b ON a.{id_col} < b.{id_col}
)
SELECT vec_a, vec_b, sim FROM sims WHERE sim >= {threshold}
""")


def ann_topk_bruteforce(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding", k: int = 5,
                        query_max_id: int = 10) -> DataFrame:
    """Exact cosine top-k for a bounded query set (the baseline)."""
    cos = _COS.format(a="q.emb", b="e.emb")
    return _sql(df, f"""
WITH e2 AS (SELECT {id_col}, transform({vec_col}, x -> cast(x AS DOUBLE)) AS emb FROM {{t}}),
q AS (SELECT {id_col}, emb FROM e2 WHERE {id_col} < {query_max_id}),
sims AS (
  SELECT q.{id_col} AS query_id, e.{id_col} AS neighbor_id, {cos} AS sim
  FROM q JOIN e2 e ON e.{id_col} <> q.{id_col}
)
SELECT query_id, neighbor_id, sim FROM (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM sims WHERE sim IS NOT NULL
) WHERE rnk <= {k}
""")


def ann_topk_ivf(df: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding", k: int = 3,
                 query_max_id: int = 10,
                 cell_width: float = 0.5) -> DataFrame:
    """IVF-style top-k: grid coarse quantizer over the first two dims,
    probe the query cell plus its 8 neighbors (nprobe=9).

    The 9 probe cells are EXPLODED on the query side and equi-joined on
    (cx, cy): a BETWEEN-range join has no equality predicate, so Spark
    would plan a nested-loop join evaluating every (query, corpus) pair
    — the same scan cost as brute force, defeating the index. The
    explode form hash-partitions on the cell key and prunes for real."""
    cos = _COS.format(a="p.emb", b="c.emb")
    return _sql(df, f"""
WITH e AS (SELECT {id_col}, transform({vec_col}, x -> cast(x AS DOUBLE)) AS emb
           FROM {{t}}),
cells AS (
  SELECT {id_col}, emb,
         CAST(floor(element_at(emb, 1) / {cell_width}) AS INT) AS cx,
         CAST(floor(element_at(emb, 2) / {cell_width}) AS INT) AS cy
  FROM e
),
probe AS (
  SELECT q.{id_col}, q.emb, q.cx + dx.v AS cx, q.cy + dy.v AS cy
  FROM (SELECT * FROM cells WHERE {id_col} < {query_max_id}) q
  LATERAL VIEW explode(array(-1, 0, 1)) dx AS v
  LATERAL VIEW explode(array(-1, 0, 1)) dy AS v
),
cand AS (
  SELECT p.{id_col} AS query_id, c.{id_col} AS neighbor_id, {cos} AS sim
  FROM probe p JOIN cells c
    ON c.cx = p.cx AND c.cy = p.cy AND p.{id_col} <> c.{id_col}
)
SELECT query_id, neighbor_id, sim FROM (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) rnk
  FROM cand WHERE sim IS NOT NULL
) WHERE rnk <= {k}
""")


def _kmeans_lloyd(df: DataFrame, id_col: str, vec_col: str,
                  n_centroids: int, iters: int, scale: int):
    """The shared exact-integer Lloyd loop (hoisted verbatim from
    ann_topk_kmeans_ivf so semdedup_pairs reuses the identical quantizer
    — both gates' oracles unroll the same arithmetic).  Returns
    ``(q, q_ids, cents, with_cid)``: the quantized localCheckpointed
    frame (vid, qarr, emb), its RDD block ids (caller releases via
    canonicalize._unpersist_rdd_ids), the final integer centroids, and
    the assignment closure."""
    from pyspark.sql import functions as F

    from nlp_lib_spark.operators.canonicalize import _persistent_ids
    sc = df.sparkSession.sparkContext
    before_q = _persistent_ids(sc)
    q = df.select(
        F.col(id_col).alias("vid"),
        F.expr(f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) "
               f"* {scale} + 0.5) AS BIGINT))").alias("qarr"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("emb"),
    ).localCheckpoint()  # reused every Lloyd pass
    q_ids = _persistent_ids(sc) - before_q

    init = (q.orderBy("vid").limit(n_centroids)
            .select("qarr").collect())
    cents = [list(r.qarr) for r in init]

    def with_cid(frame, cs: list[list[int]]):
        """Exact integer distance per centroid; argmin with min-cid
        tiebreak.  The distance array is materialized in its own column
        so the argmin does not recompute the transform."""
        arr = ("array(" + ", ".join(
            "array(" + ", ".join(str(v) for v in c) + ")" for c in cs)
            + ")")
        return (frame
                .withColumn("__d", F.expr(f"""
transform({arr}, c ->
  aggregate(zip_with(qarr, c, (a, b) -> (a - b) * (a - b)), 0L,
            (s, v) -> s + v))"""))
                .withColumn("cid", F.expr(
                    "array_position(__d, array_min(__d)) - 1"))
                .drop("__d"))

    for _ in range(iters):
        assigned = with_cid(q, cents)
        agg = (assigned
               .select("cid", F.posexplode("qarr").alias("d", "v"))
               .groupBy("cid", "d")
               .agg(F.floor(F.sum("v") * 1.0 / F.count(F.lit(1)) + 0.5)
                    .alias("c"))
               .collect())
        new = [list(c) for c in cents]  # empty clusters keep old centroid
        for r in agg:
            new[int(r.cid)][int(r.d)] = int(r.c)
        cents = new
    return q, q_ids, cents, with_cid


def ann_topk_kmeans_ivf(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding", k: int = 3,
                        query_max_id: int = 10, n_centroids: int = 8,
                        iters: int = 2, nprobe: int = 2,
                        scale: int = 1000) -> DataFrame:
    """IVF top-k with a k-means coarse quantizer (replaces the 2-dim grid
    demo as the scale path: the quantizer adapts to the data in ALL
    dimensions, so recall does not collapse in high-d).

    Determinism is engineered for cross-engine parity (the pr_eval
    lesson — float summation order must never flip a result):

    * vectors quantize to integers ``floor(x*scale + 0.5)`` (floor of an
      exact double is engine-stable, unlike round-half ties);
    * centroids are INTEGER vectors — ``floor(sum*1.0/count + 0.5)`` of
      member ints (one IEEE division, then exact floor);
    * assignment distance is an exact BIGINT sum of squared differences
      with a min-centroid-id tie-break — no float comparisons anywhere
      in the Lloyd loop;
    * init = the ``n_centroids`` smallest ids' vectors; empty clusters
      keep their previous centroid.

    The per-iteration centroid recompute is a tiny k x dim aggregate
    collected to the driver and rebroadcast (the canonical Spark k-means
    shape); the full-data passes stay distributed.  Final ranking is
    cosine over the original floats among vectors in the ``nprobe``
    nearest cells of each query."""
    from nlp_lib_spark.operators.canonicalize import _unpersist_rdd_ids
    spark = df.sparkSession
    sc = spark.sparkContext
    q, q_ids, cents, with_cid = _kmeans_lloyd(
        df, id_col, vec_col, n_centroids, iters, scale)

    cells_v, cents_v = unique_view("ivf_cells"), unique_view("ivf_cents")
    cells = with_cid(q, cents)
    cells.createOrReplaceTempView(cells_v)
    cent_rows = [(ci, di, v) for ci, c in enumerate(cents)
                 for di, v in enumerate(c)]
    spark.createDataFrame(cent_rows, "cid int, d int, c long") \
         .createOrReplaceTempView(cents_v)
    cos = _COS.format(a="qv.emb", b="cv.emb")
    # the distance aggregate already carries the query id and the vid
    # filter — ranking it directly avoids a pointless join back onto the
    # cells view (one join + one shuffle less, identical output)
    result = spark.sql(f"""
WITH probe AS (
  SELECT pvid AS vid, cid FROM (
    SELECT c.pvid, c.cid,
           row_number() OVER (PARTITION BY c.pvid
                              ORDER BY c.dist, c.cid) AS rnk
    FROM (SELECT q2.vid AS pvid, ct.cid,
                 sum((element_at(q2.qarr, ct.d + 1) - ct.c)
                     * (element_at(q2.qarr, ct.d + 1) - ct.c)) AS dist
          FROM {cells_v} q2 JOIN {cents_v} ct ON true
          WHERE q2.vid < {query_max_id}
          GROUP BY q2.vid, ct.cid) c
  ) WHERE rnk <= {nprobe}
),
cand AS (
  SELECT qv.vid AS query_id, cv.vid AS neighbor_id, {cos} AS sim
  FROM probe p
  JOIN {cells_v} qv ON qv.vid = p.vid
  JOIN {cells_v} cv ON cv.cid = p.cid AND cv.vid <> qv.vid
)
SELECT query_id, neighbor_id, CAST(sim AS DOUBLE) AS sim FROM (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rnk
  FROM cand WHERE sim IS NOT NULL
) WHERE rnk <= {k}
""")
    # the result is bounded (top-k over the bounded query set), so
    # materialize it and release the big intermediate: q's localCheckpoint
    # blocks would otherwise stay pinned for the session lifetime
    # (DataFrame.unpersist is a no-op for localCheckpoints — see
    # canonicalize._unpersist_rdd_ids, reused here)
    result = result.localCheckpoint()
    for v in (cells_v, cents_v):
        spark.catalog.dropTempView(v)
    _unpersist_rdd_ids(sc, q_ids)
    return result


def semdedup_pairs(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   n_centroids: int = SEMDEDUP_N_CENTROIDS,
                   iters: int = 2, scale: int = 1000,
                   threshold: float = 0.3,
                   cluster_cap: int = 1000) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pruning —
    k-means-cluster the embedding space, then drop any vector whose
    cosine to an EARLIER (lower-id) vector in the same cluster clears
    ``threshold``.  Emits one row per dropped vector: ``(query_id = the
    dropped vec, neighbor_id = the earlier in-cluster vec it best
    matches, sim)`` — the ann-gate schema, so the gate unions into
    ann_variants.  The neighbor is not necessarily kept: it may itself
    have been dropped in favour of an even earlier vector.

    Keep-first-by-id is the deterministic stand-in for the paper's
    "keep one representative per semantic-duplicate set"; min-id
    election matches the exact-dedup and neardup_clusters keeper
    convention repo-wide.

    Scale shape: the quantizer is the shared exact-integer Lloyd loop
    (_kmeans_lloyd — k x dim centroid aggregates are the only driver
    collects); the pair stage shuffles once on cid, and the per-cluster
    row_number cap bounds the within-cluster self-join at cluster_cap^2
    exactly like minhash_lsh_pairs' bucket cap, so a pathological
    mega-cluster cannot go quadratic in the corpus.  Cosine ranking
    reuses _COS (nullif zero-norm guard: undefined sims never pass the
    threshold on either engine)."""
    from nlp_lib_spark.operators.canonicalize import _unpersist_rdd_ids
    spark = df.sparkSession
    sc = spark.sparkContext
    q, q_ids, cents, with_cid = _kmeans_lloyd(
        df, id_col, vec_col, n_centroids, iters, scale)
    view = unique_view("semdedup_cells")
    with_cid(q, cents).createOrReplaceTempView(view)
    cos = _COS.format(a="a.emb", b="b.emb")
    result = spark.sql(f"""
WITH capped AS (
  SELECT vid, emb, cid FROM (
    SELECT vid, emb, cid,
           row_number() OVER (PARTITION BY cid ORDER BY vid) AS rnk
    FROM {view}) z WHERE rnk <= {cluster_cap}
),
sims AS (
  SELECT b.vid AS query_id, a.vid AS neighbor_id, {cos} AS sim
  FROM capped a JOIN capped b ON a.cid = b.cid AND a.vid < b.vid
)
SELECT query_id, neighbor_id, CAST(sim AS DOUBLE) AS sim FROM (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rnk
  FROM sims WHERE sim IS NOT NULL AND sim >= {threshold}
) r WHERE rnk = 1
""").localCheckpoint()
    spark.catalog.dropTempView(view)
    _unpersist_rdd_ids(sc, q_ids)
    return result
