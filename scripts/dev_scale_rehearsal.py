"""Scale rehearsal for the iterative paths (VERDICT r2 item 6).

Replicates the sf0.1 tables Nx (distinct ids per copy, so graph/bucket
structure scales rather than collapsing onto duplicates) and pushes the
result through the three operators whose behavior could drift with input
size: minhash_lsh_pairs (bucket caps), connected components (round count
+ checkpoint-block release), and the kg_edges composition. Prints one
table row per (op, replication) for BASELINE.md.

Usage: python3 scripts/dev_scale_rehearsal.py [reps ...]   (default 1 10 50)
"""

from __future__ import annotations

import gc
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from nlp_lib_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def replicate_docs(spark, reps: int):
    """documents with doc_id offset per copy -> distinct conv_ids/texts
    keep LSH buckets and the linking graph growing with input size."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    copies = spark.range(reps).withColumnRenamed("id", "copy")
    return (docs.crossJoin(copies)
            .withColumn("doc_id", F.col("doc_id") + F.col("copy") * n)
            .withColumn("text", F.concat(F.col("text"), F.lit(" rep"),
                                         F.col("copy")))
            .drop("copy"))


def run_lsh(spark, reps: int) -> dict:
    from nlp_lib_spark.operators.dedup import minhash_lsh_pairs
    docs = replicate_docs(spark, reps).localCheckpoint()
    n_docs = docs.count()
    t0 = time.time()
    pairs = minhash_lsh_pairs(docs).count()
    return {"op": "minhash_lsh_pairs", "reps": reps, "rows_in": n_docs,
            "rows_out": pairs, "sec": round(time.time() - t0, 2)}


def run_cc(spark, reps: int) -> dict:
    from nlp_lib_spark.operators import canonicalize as C
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    n = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
    copies = spark.range(reps).withColumnRenamed("id", "copy")
    edges = (li.filter("l_orderkey % 50 = 0")
             .crossJoin(copies)
             .select(
                 F.concat(F.lit("o"),
                          (F.col("l_orderkey") + F.col("copy") * n)
                          .cast("string")).alias("u"),
                 F.concat(F.lit("p"),
                          (F.col("l_partkey") + F.col("copy") * 200000)
                          .cast("string")).alias("v"))
             .localCheckpoint())
    n_edges = edges.count()
    t0 = time.time()
    comp = C.connected_components(edges)
    n_comp = comp.select("component").distinct().count()
    return {"op": "cc_components", "reps": reps, "rows_in": n_edges,
            "rows_out": n_comp, "sec": round(time.time() - t0, 2),
            **C.LAST_CC_STATS}


def run_kg_edges(spark, reps: int) -> dict:
    from nlp_lib_spark.lexicons import TESTDATA_CONFIG, TESTDATA_ENTITIES
    from nlp_lib_spark.operators.extract import (annotate_turns,
                                                 mentions_from_annotations,
                                                 triples_from_annotations)
    from nlp_lib_spark.operators.graph import canonical_map, materialize_graph
    from nlp_lib_spark.operators.linking import dictionary_frame
    from nlp_lib_spark.operators.transcripts import transcripts_select_sql
    from nlp_lib_spark.operators.viewsql import sql_over
    docs = replicate_docs(spark, reps)
    t = sql_over(docs, transcripts_select_sql("{t}", "spark", False),
                 prefix="rehearsal")
    t = t.repartition(spark.sparkContext.defaultParallelism, "conv_id")
    n_turns = t.count()
    t0 = time.time()
    ann = annotate_turns(t, TESTDATA_CONFIG).localCheckpoint()
    mentions = mentions_from_annotations(ann)
    dictionary = dictionary_frame(spark, TESTDATA_ENTITIES)
    cmap = canonical_map(mentions, dictionary)
    _nodes, edges = materialize_graph(triples_from_annotations(ann), cmap)
    n_edges = edges.count()
    return {"op": "kg_edges", "reps": reps, "rows_in": n_turns,
            "rows_out": n_edges, "sec": round(time.time() - t0, 2)}


def run_stream_state(spark, reps: int) -> dict:
    """Round-3 addition: applyInPandasWithState under growing input.
    conv_id = doc_id % 100, so replication multiplies TURNS PER
    CONVERSATION while the conversation count stays 100 — exactly the
    regime that proves the state store is O(live conversations), not
    O(input rows): rows_out must stay 100 at every rep level while wall
    time stays linear in turns."""
    import shutil
    import tempfile
    import uuid

    from nlp_lib_spark.lexicons import TESTDATA_CONFIG
    from nlp_lib_spark.operators.transcripts import transcripts_select_sql
    from nlp_lib_spark.operators.viewsql import sql_over
    from nlp_lib_spark.streaming.stateful import run_stateful_once
    docs = replicate_docs(spark, reps)
    t = sql_over(docs, transcripts_select_sql("{t}", "spark", True),
                 prefix="rehearsal")
    in_dir = tempfile.mkdtemp(prefix="kgx_rehearsal_stream_")
    try:
        t.repartition(4).write.mode("overwrite").parquet(in_dir)
        n_turns = spark.read.parquet(in_dir).count()
        t0 = time.time()
        out = run_stateful_once(
            spark, in_dir, TESTDATA_CONFIG,
            query_name=f"rehearsal_{uuid.uuid4().hex[:8]}")
        n_convs = out.count()
        return {"op": "stream_conv_state", "reps": reps,
                "rows_in": n_turns, "rows_out": n_convs,
                "sec": round(time.time() - t0, 2)}
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)


def run_link_tfidf_dist(spark, reps: int) -> dict:
    """Round-3 addition: the TF-IDF linking tier under a GROWING
    DICTIONARY. 50k entities per rep (2.5M at 50 reps) against a fixed
    15k-norm mention set; the dictionary is never collected, and
    rows_out stays 15k (one verdict per norm) at every dictionary size."""
    from nlp_lib_spark.operators.linking import link_mentions_tfidf
    n_ents = 50_000 * reps
    # a realistic dictionary gram profile: a small shared type vocabulary
    # (every real dictionary has its "protein"/"receptor" words — these
    # grams go ubiquitous, df ~ n/10) plus a diverse per-entity id part
    # (base-36, rare discriminative grams). The ubiquitous grams make the
    # EXACT blocking join quadratic-hot by construction — which is the
    # point: at dictionary scale the rehearsal runs the documented scale
    # posture, max_gram_df_frac, which prunes them from the gram universe
    # while the rare id grams still link every fuzzy probe.
    words = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "theta", "kappa", "sigma", "omega")
    word_elt = "elt(1 + CAST(id % 10 AS INT), " + ", ".join(
        f"'{w}'" for w in words) + ")"
    ent_expr = f"concat({word_elt}, ' ', conv(id, 10, 36))"
    dictionary = (spark.range(n_ents)
                  .select(F.expr(ent_expr).alias("entity")))
    # fixed mention side: 5k exact hits, 5k one-char-appended fuzzy
    # probes, 5k vocabulary strangers
    base = spark.range(5_000).select(F.expr(ent_expr).alias("m"))
    mentions = (base.select(F.col("m").alias("mention_text"))
                .unionAll(base.select(F.concat("m", F.lit("x"))
                                      .alias("mention_text")))
                .unionAll(spark.range(5_000).select(
                    F.expr("concat('zz', id, 'qq', id)")
                    .alias("mention_text")))).localCheckpoint()
    t0 = time.time()
    out = link_mentions_tfidf(
        mentions, dictionary, max_gram_df_frac=0.01).count()
    return {"op": "link_tfidf_dist", "reps": reps, "rows_in": n_ents,
            "rows_out": out, "sec": round(time.time() - t0, 2)}


def run_pii_scrub(spark, reps: int) -> dict:
    """Round-4 addition: the zero-shuffle codegen regex path — wall time
    must be linear in rows with no Exchange in the plan."""
    from nlp_lib_spark.operators.textstats import pii_scrub
    docs = replicate_docs(spark, reps).localCheckpoint()
    n_docs = docs.count()
    t0 = time.time()
    # noop sink: a bare count() would let Spark prune the regex columns
    # and measure an empty scan
    out = pii_scrub(docs)
    out.write.format("noop").mode("overwrite").save()
    sec = round(time.time() - t0, 2)  # count() below re-runs the plan —
    return {"op": "pii_scrub", "reps": reps, "rows_in": n_docs,  # untimed
            "rows_out": out.count(), "sec": sec}


def run_repetition(spark, reps: int) -> dict:
    """Round-4 addition: two explode+agg chains — per-key cardinality is
    bounded by document length, so wall time must stay linear in rows."""
    from nlp_lib_spark.operators.textstats import repetition_stats
    docs = replicate_docs(spark, reps).localCheckpoint()
    n_docs = docs.count()
    t0 = time.time()
    rep_df = repetition_stats(docs)
    rep_df.write.format("noop").mode("overwrite").save()
    sec = round(time.time() - t0, 2)
    n = rep_df.count()  # untimed: a second full execution
    return {"op": "repetition_stats", "reps": reps, "rows_in": n_docs,
            "rows_out": n, "sec": sec}


def run_contamination(spark, reps: int) -> dict:
    """Round-4 addition: gram explode + distinct vs a FIXED broadcast
    benchmark (the benchmark is the unreplicated corpus slice — eval
    suites don't grow with the crawl). Wall time ~linear in corpus size;
    the broadcast side is constant."""
    from nlp_lib_spark.operators.textstats import (bench_grams,
                                                    contamination_hits)
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = bench_grams(base).localCheckpoint()
    docs = replicate_docs(spark, reps).localCheckpoint()
    n_docs = docs.count()
    t0 = time.time()
    cont_df = contamination_hits(docs, bench)
    cont_df.write.format("noop").mode("overwrite").save()
    sec = round(time.time() - t0, 2)
    n = cont_df.count()  # untimed: a second full execution
    return {"op": "contamination_hits", "reps": reps, "rows_in": n_docs,
            "rows_out": n, "sec": sec}


def run_stream_dedup_state(spark, reps: int) -> dict:
    """Round-4 addition: streaming stateful dedup where replication adds
    DUPLICATE copies (same text, new doc_ids — the re-crawl axis). The
    state store is O(distinct texts), so rows_out must stay constant at
    every rep level while input grows reps-fold."""
    import shutil
    import tempfile
    import uuid

    from nlp_lib_spark.streaming.ingest import run_stream_dedup_once
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = base.agg(F.max("doc_id")).collect()[0][0] + 1
    copies = spark.range(reps).withColumnRenamed("id", "copy")
    docs = (base.select("doc_id", "text").crossJoin(copies)
            .select((F.col("doc_id") + F.col("copy") * n).alias("doc_id"),
                    "text"))  # text unchanged: true duplicates
    in_dir = tempfile.mkdtemp(prefix="kgx_rehearsal_sdedup_")
    try:
        docs.repartition(8).write.mode("overwrite").parquet(in_dir)
        n_in = spark.read.parquet(in_dir).count()
        t0 = time.time()
        out = run_stream_dedup_once(
            spark, in_dir,
            query_name=f"rehearsal_sd_{uuid.uuid4().hex[:8]}",
            max_files_per_trigger=2)
        n_out = out.count()
        return {"op": "stream_dedup", "reps": reps, "rows_in": n_in,
                "rows_out": n_out, "sec": round(time.time() - t0, 2)}
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)


def run_neardup_clusters(spark, reps: int) -> dict:
    """Round-4 addition: LSH pairs -> CC -> keeper election, with HALF the
    copies as true duplicates (same text => same LSH buckets => growing
    clusters) and half distinct ("repN" suffix). rows_out must equal
    rows_in exactly (one verdict per document) at every rep level, and
    the keeper count tracks distinct texts — CC and the keeper window
    must absorb cluster growth without a quadratic edge blow-up (the
    bucket cap bounds per-bucket pairs at cap^2)."""
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = base.agg(F.max("doc_id")).collect()[0][0] + 1
    copies = spark.range(reps).withColumnRenamed("id", "copy")
    docs = (base.select("doc_id", "text").crossJoin(copies)
            .select((F.col("doc_id") + F.col("copy") * n).alias("doc_id"),
                    F.when(F.col("copy") % 2 == 0, F.col("text"))
                     .otherwise(F.concat(F.col("text"), F.lit(" rep"),
                                         F.col("copy"))).alias("text"))
            ).localCheckpoint()
    n_docs = docs.count()
    from nlp_lib_spark.operators.dedup import neardup_clusters
    t0 = time.time()
    out = neardup_clusters(docs)
    n_out = out.count()
    sec = round(time.time() - t0, 2)
    n_keepers = out.filter("is_keeper = 1").count()  # untimed re-run
    return {"op": "neardup_clusters", "reps": reps, "rows_in": n_docs,
            "rows_out": n_out, "keepers": n_keepers, "sec": sec}


def run_doc_sample(spark, reps: int) -> dict:
    """Stratified hash-threshold sampling: pure codegen predicate on the
    scan — wall must track row count and the kept fraction must stay at
    the configured mix at every rep level (determinism + uniformity)."""
    from nlp_lib_spark.operators.sampling import sample_flags
    docs = replicate_docs(spark, reps).localCheckpoint()
    n_docs = docs.count()
    t0 = time.time()
    flagged = sample_flags(
        docs.selectExpr("doc_id", "CASE WHEN size(split(text, ' ')) < 40 "
                        "THEN 'short' ELSE 'long' END AS len_band"),
        {"short": 0.25, "long": 0.75}, strata_col="len_band")
    kept = flagged.filter("sampled = 1").count()
    sec = round(time.time() - t0, 2)
    return {"op": "doc_sample", "reps": reps, "rows_in": n_docs,
            "rows_out": kept,
            "kept_frac": round(kept / max(1, n_docs), 4), "sec": sec}


def run_doc_pack(spark, reps: int) -> dict:
    """Sequence packing: one shard Exchange + one window cumsum. Bins
    must grow linearly with input (fixed budget) and wall ~linearly.
    Round 5 (verdict r4 item 5): ``pack_sequences_auto`` derives
    n_shards from a CONSTANT configured rows-per-shard target across
    every rep level — the window partition bound must hold with no
    hand-tuning, and the derived shard count is recorded per row."""
    from nlp_lib_spark.operators.packing import pack_sequences_auto
    docs = replicate_docs(spark, reps).localCheckpoint()
    n_docs = docs.count()
    target = 25_000  # constant at 1/10/50x — shards derive from data
    t0 = time.time()
    out = pack_sequences_auto(docs, budget_tokens=512,
                              target_rows_per_shard=target)
    n_out = out.count()
    sec = round(time.time() - t0, 2)
    n_bins = out.selectExpr("shard", "pack_id").distinct().count()  # untimed
    n_shards = -(-n_docs // target)
    return {"op": "doc_pack", "reps": reps, "rows_in": n_docs,
            "rows_out": n_out, "bins": n_bins,
            "n_shards_auto": max(1, n_shards), "sec": sec}


def _executed_plan(df) -> str:
    """Final (post-AQE) physical plan of a df whose action already ran —
    collect()/toPandas() execute the df's OWN QueryExecution, so the
    adaptive plan string carries the decisions that actually executed."""
    return df._jdf.queryExecution().executedPlan().toString()


def run_neardup_megacluster(spark, reps: int) -> dict:
    """Round 5 (verdict r4 item 1 done-criterion): keeper election under
    a pathological TRANSITIVE mega-cluster — 50% of all documents in ONE
    near-dup family, injected as a chain (doc 2i ~ doc 2i+2), i.e. the
    shape CC produces when template spam chains far past bucket_cap.
    The groupBy+join election must (a) collapse the cluster map-side
    (partial aggregation before the Exchange) and (b) join the stats
    back WITHOUT funnelling the cluster's membership through one task —
    at rehearsal scale the one-row-per-cluster stats side broadcasts,
    so the hot cluster's rows never co-locate at all. The plan grep
    below records both properties from the executed plan."""
    from pyspark.sql import Window

    from nlp_lib_spark.operators.dedup import neardup_clusters
    docs = replicate_docs(spark, reps)
    # the chain below uses dense 0..n-1 ids; rebase the corpus ids once
    # (a rehearsal-only global window — production ids are already dense)
    docs_dense = (docs.select(
        (F.row_number().over(Window.orderBy("doc_id")) - 1)
        .alias("doc_id"), "text").localCheckpoint())
    n_docs = docs_dense.count()
    # chain edges over the even ids: 0-2, 2-4, ... -> one CC component
    # holding half the corpus, far past any bucket cap
    chain = (spark.range(n_docs // 2 - 1)
             .select((F.col("id") * 2).alias("doc_a"),
                     (F.col("id") * 2 + 2).alias("doc_b")))
    t0 = time.time()
    out = neardup_clusters(docs_dense, pairs=chain)
    summary = out.agg(F.count(F.lit(1)).alias("n"),
                      F.max("cluster_size").alias("max_cluster"),
                      F.sum("is_keeper").alias("keepers"))
    row = summary.collect()[0]
    sec = round(time.time() - t0, 2)
    plan = _executed_plan(summary)
    return {"op": "neardup_megacluster", "reps": reps, "rows_in": n_docs,
            "rows_out": int(row["n"]), "max_cluster": int(row["max_cluster"]),
            "keepers": int(row["keepers"]), "sec": sec,
            "partial_agg_before_exchange": "partial_min" in plan
                                           or "partial_count" in plan,
            "stats_join": ("broadcast"
                           if "BroadcastHashJoin" in plan else
                           "skew" if "skew=true" in plan else "shuffle"),
            "window_in_plan": "Window" in plan}


def run_boilerplate_skew(spark, reps: int) -> dict:
    """Round 5 (verdict r4 item 6): boilerplate scrub where ONE sentence
    appears in HALF of all conversations (hot-key join on sentence).

    Measured first: AQE's byte-based skew detection NEVER fires on this
    shape — the hot partition is 500k near-identical rows that compress
    away in MapOutputStatistics (at 50x, thresholds 100 KB / factor 2 /
    forceOptimizeSkewedJoin, every AQEShuffleRead was merely
    'coalesced') while the task still decompresses and processes every
    row. Hence the verdict's 'pre-salt if it doesn't' branch:
    boilerplate_scrub now splits the key space itself — sentences in
    >= hot_threshold distinct conversations broadcast (their rows never
    enter the sentence shuffle), the tail shuffle-joins with per-key
    fan-out bounded by hot_threshold. This rehearsal certifies the
    split plan executes (hot path = BroadcastHashJoin in the executed
    plan) with linear wall and exact verdicts at 1/10/50x."""
    from nlp_lib_spark.operators.conversations import boilerplate_scrub
    n_convs = 20_000 * reps
    hot = "please see our terms and conditions for details"
    sents = (spark.range(n_convs)
             .select(F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
                     F.col("id").alias("cid"))
             .select("conv_id", "cid",
                     F.expr("explode(sequence(0, 6))").alias("sent_id"))
             .select("conv_id",
                     F.lit(0).alias("turn_idx"), "sent_id",
                     F.when((F.col("sent_id") == 0) & (F.col("cid") % 2 == 0),
                            F.lit(hot))
                      .otherwise(F.concat(F.lit("unique line "),
                                          F.col("cid"), F.lit(" nr "),
                                          F.col("sent_id")))
                      .alias("sentence"))).localCheckpoint()
    n_rows = sents.count()
    t0 = time.time()
    # hot_threshold scaled to the rehearsal corpus so the split engages
    # at every rep level (production default 10k trips at real scale)
    out = boilerplate_scrub(sents, max_convs=2, hot_threshold=1000)
    summary = out.agg(F.count(F.lit(1)).alias("n"),
                      F.sum("n_removed").alias("removed"))
    row = summary.collect()[0]
    sec = round(time.time() - t0, 2)
    plan = _executed_plan(summary)
    return {"op": "boilerplate_skew", "reps": reps, "rows_in": n_rows,
            "rows_out": int(row["n"]), "removed": int(row["removed"]),
            "sec": sec,
            "hot_path_broadcast": "BroadcastHashJoin" in plan,
            "aqe_skew_fired": "skew=true" in plan}


ROUND4_OPS = (run_pii_scrub, run_repetition, run_contamination,
              run_stream_dedup_state, run_neardup_clusters,
              run_doc_sample, run_doc_pack)

def run_substring_dup(spark, reps: int) -> dict:
    """Round 5: repeated-substring detection at volume — half the copies
    are true duplicates (same text => every window cross-doc duplicated),
    half distinct. rows_out must equal rows_in exactly (one row per doc,
    zeros included) and wall must stay ~linear: windows explode bounded
    per doc (len/stride), the hash agg has map-side combine, and the
    join back is keyed by the same hash."""
    from nlp_lib_spark.operators.dedup import repeated_ngram_spans
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = base.agg(F.max("doc_id")).collect()[0][0] + 1
    copies = spark.range(reps).withColumnRenamed("id", "copy")
    docs = (base.select("doc_id", "text").crossJoin(copies)
            .select((F.col("doc_id") + F.col("copy") * n).alias("doc_id"),
                    F.when(F.col("copy") % 2 == 0, F.col("text"))
                     .otherwise(F.concat(F.col("text"), F.lit(" rep"),
                                         F.col("copy"))).alias("text"))
            ).localCheckpoint()
    n_docs = docs.count()
    t0 = time.time()
    out = repeated_ngram_spans(docs, n=8, stride=3)
    out.write.format("noop").mode("overwrite").save()
    sec = round(time.time() - t0, 2)
    n_out = out.count()  # untimed re-run
    n_flagged = out.filter("sub_crossdoc_windows > 0").count()
    return {"op": "substring_dup", "reps": reps, "rows_in": n_docs,
            "rows_out": n_out, "flagged_docs": n_flagged, "sec": sec}


def run_url_stats(spark, reps: int) -> dict:
    """Round 5: URL extraction + blocklist verdicts at volume. The whole
    operator is one codegen'd projection (zero Exchanges), so wall must
    be linear in input with rows_out == rows_in exactly."""
    from nlp_lib_spark.gate import _URL_BLOCKLIST, _URL_SYNTH
    from nlp_lib_spark.operators.textstats import url_stats
    docs = (replicate_docs(spark, reps)
            .selectExpr("doc_id", f"{_URL_SYNTH} AS text")
            .localCheckpoint())
    n_docs = docs.count()
    t0 = time.time()
    out = url_stats(docs, _URL_BLOCKLIST)
    out.write.format("noop").mode("overwrite").save()
    sec = round(time.time() - t0, 2)
    n_out = out.count()
    n_blocked = out.filter("url_blocked = 1").count()
    return {"op": "url_stats", "reps": reps, "rows_in": n_docs,
            "rows_out": n_out, "blocked_docs": n_blocked, "sec": sec}


def run_decontam_norm(spark, reps: int) -> dict:
    """Round 5: normalized decontamination at volume — same plan shape
    as the raw screen (explode -> distinct -> broadcast bench join), the
    normalizer rides the scan projection. Bench set stays fixed (the
    UN-replicated every-10th docs), so hits grow linearly with copies."""
    from nlp_lib_spark.gate import _DECON_NOISE
    from nlp_lib_spark.operators.textstats import (bench_grams,
                                                   contamination_hits,
                                                   normalize_for_decontam)
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # the gate's noise expression, imported so the rehearsal can never
    # silently measure a different workload than the gate certifies
    noisy = (replicate_docs(spark, reps)
             .selectExpr("doc_id", f"{_DECON_NOISE} AS text")
             .localCheckpoint())
    n_docs = noisy.count()
    bench = bench_grams(normalize_for_decontam(
        base.select("doc_id", "text"))).localCheckpoint()
    t0 = time.time()
    out = contamination_hits(normalize_for_decontam(noisy), bench)
    out.write.format("noop").mode("overwrite").save()
    sec = round(time.time() - t0, 2)
    n_out = out.count()
    n_hit = out.filter("cont_hits > 0").count()
    return {"op": "decontam_norm", "reps": reps, "rows_in": n_docs,
            "rows_out": n_out, "hit_docs": n_hit, "sec": sec}


def run_bpe(spark, reps: int) -> dict:
    """Round 5: BPE token counting at volume. bpe_token_counts is ONE
    doc-local mapInPandas with a per-worker word cache (zero shuffles) —
    vocab grows only by the per-copy 'repN' suffix words while the
    corpus grows by reps, so the cache hit rate rises with volume and
    the wall goes sub-linear (the replaced vocab-join plan, which did
    carry a distinct-word aggregate and a doc-keyed reassembly, rehearsed
    7.4x wall for 5x rows — see BASELINE.md)."""
    from nlp_lib_spark.operators.bpe import bpe_token_counts
    docs = replicate_docs(spark, reps).select(
        "doc_id", "text").localCheckpoint()
    n_docs = docs.count()
    t0 = time.time()
    out = bpe_token_counts(docs)
    out.write.format("noop").mode("overwrite").save()
    sec = round(time.time() - t0, 2)
    n_out = out.count()
    vocab = docs.selectExpr(
        "explode(split(text, ' ')) AS w").filter("w <> ''") \
        .distinct().count()
    return {"op": "bpe_token_counts", "reps": reps, "rows_in": n_docs,
            "rows_out": n_out, "vocab": vocab, "sec": sec}


ROUND5_OPS = (run_neardup_megacluster, run_boilerplate_skew,
              run_substring_dup)

def run_quality_model(spark, reps: int) -> dict:
    """Round 5: distilled quality classifier at volume — one codegen'd
    projection (zero Exchanges), wall must be linear with
    rows_out == rows_in; kept fraction stays constant under replication
    (the rep-suffix text perturbs only one token per copy)."""
    from nlp_lib_spark.operators.quality_model import quality_model
    docs = replicate_docs(spark, reps).select(
        "doc_id", "text").localCheckpoint()
    n_docs = docs.count()
    t0 = time.time()
    out = quality_model(docs)
    out.write.format("noop").mode("overwrite").save()
    sec = round(time.time() - t0, 2)
    n_out = out.count()
    n_kept = out.filter("qm_pred = 1").count()
    return {"op": "quality_model", "reps": reps, "rows_in": n_docs,
            "rows_out": n_out, "kept_docs": n_kept, "sec": sec}


def run_mix_pipeline(spark, reps: int) -> dict:
    """Round 5: the end-to-end training-mix composition at volume —
    stages sum (quality projection + keeper agg + decontam screen +
    sample projection + BPE counter + kept-only pack window), so wall
    must stay ~linear and rows_out == rows_in exactly (every input doc
    keeps its verdict row; dropped docs carry -1 bins)."""
    from pyspark.sql import functions as F
    from nlp_lib_spark.operators.bpe import bpe_token_counts
    from nlp_lib_spark.operators.packing import pack_counts
    from nlp_lib_spark.operators.quality_model import quality_model
    from nlp_lib_spark.operators.sampling import sample_flags
    from nlp_lib_spark.operators.textstats import (
        bench_grams, contamination_hits, normalize_for_decontam)
    docs = replicate_docs(spark, reps).select(
        "doc_id", "text").localCheckpoint()
    n_docs = docs.count()
    t0 = time.time()
    q = quality_model(docs).select(
        "doc_id", F.col("qm_pred").alias("mix_quality"))
    hashed = docs.selectExpr("doc_id", "md5(lower(text)) AS __h")
    keepers = hashed.groupBy("__h").agg(F.min("doc_id").alias("__kid"))
    k = (hashed.join(keepers, "__h")
         .select("doc_id", (F.col("doc_id") == F.col("__kid"))
                 .cast("int").alias("mix_keeper")))
    norm = normalize_for_decontam(docs)
    c = (contamination_hits(norm, bench_grams(norm))
         .select("doc_id", (F.col("cont_hits") == 0).cast("int")
                 .alias("mix_cont_free")))
    s = (sample_flags(docs.select("doc_id"), {}, strata_col="doc_id",
                      salt="mix", default_frac=0.8)
         .select("doc_id", F.col("sampled").alias("mix_sampled")))
    f = (q.join(k, "doc_id").join(c, "doc_id").join(s, "doc_id")
         .withColumn("mix_kept",
                     (F.col("mix_quality") * F.col("mix_keeper")
                      * F.col("mix_cont_free") * F.col("mix_sampled"))
                     .cast("int")))
    cnt = bpe_token_counts(docs)
    kept = (f.filter("mix_kept = 1").select("doc_id")
            .join(cnt.select("doc_id", "n_bpe_tokens"), "doc_id"))
    p = pack_counts(kept, 512, n_shards=max(8, reps),
                    count_col="n_bpe_tokens")
    out = f.join(p.select("doc_id", "pack_id"), "doc_id", "left")
    out.write.format("noop").mode("overwrite").save()
    sec = round(time.time() - t0, 2)
    n_out = out.count()
    n_kept = out.filter("mix_kept = 1").count()
    return {"op": "mix_pipeline", "reps": reps, "rows_in": n_docs,
            "rows_out": n_out, "kept_docs": n_kept, "sec": sec}


ROUND5B_OPS = (run_url_stats, run_decontam_norm, run_bpe,
               run_quality_model, run_mix_pipeline)


ROUND4_OPS = (run_pii_scrub, run_repetition, run_contamination,
              run_stream_dedup_state, run_neardup_clusters,
              run_doc_sample, run_doc_pack)


def main() -> None:
    args = sys.argv[1:]
    only_r4 = "--r4" in args
    only_r5 = "--r5" in args
    only_r5b = "--r5b" in args
    reps_list = [int(a) for a in args
                 if a not in ("--r4", "--r5", "--r5b")] or [1, 10, 50]
    if only_r5b:
        ops = ROUND5B_OPS
    elif only_r5:
        ops = ROUND5_OPS
    elif only_r4:
        ops = ROUND4_OPS
    else:
        ops = (run_lsh, run_cc, run_kg_edges, run_stream_state,
               run_link_tfidf_dist) \
            + ROUND4_OPS + ROUND5_OPS + ROUND5B_OPS
    spark = get_spark(cpus=32)
    for reps in reps_list:
        for fn in ops:
            gc.collect()
            print("REHEARSAL", fn(spark, reps), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
