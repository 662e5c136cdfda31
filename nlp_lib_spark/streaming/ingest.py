"""Structured-Streaming ingest: incremental triple extraction.

The reference is strictly batch (SURVEY.md §2.8: no streaming operators);
this is the engine's forward-looking ingest path: new transcript files land
in a directory (Kafka topic in production), the same Arrow kernels run per
micro-batch, triples append to the sink. Because ``extract_triples`` is a
stateless per-row transform, it composes with ``readStream`` unchanged —
watermarks/state only enter with cross-turn operators, which stay batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from nlp_lib_spark.kernels.pipeline import KGConfig
from nlp_lib_spark.operators.extract import extract_triples
from nlp_lib_spark.operators.sessions import SESSION_GAP_S

TRANSCRIPTS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


def stream_triples(spark: SparkSession, input_dir: str, config: KGConfig,
                   max_files_per_trigger: int | None = None) -> DataFrame:
    src = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger is not None:
        src = src.option("maxFilesPerTrigger", max_files_per_trigger)
    return extract_triples(src.parquet(input_dir), config)


def run_stream_once(spark: SparkSession, input_dir: str, config: KGConfig,
                    query_name: str = "triples_stream",
                    max_files_per_trigger: int | None = None) -> DataFrame:
    """Drain all available files into a memory sink; return the result.

    ``max_files_per_trigger=1`` drains one file per micro-batch (the
    ``availableNow`` trigger honors the option), so the appended union
    across several micro-batches — not one big batch — is what parity
    checks compare against the batch plan."""
    q = (stream_triples(spark, input_dir, config, max_files_per_trigger)
         .writeStream.outputMode("append")
         .format("memory").queryName(query_name)
         .trigger(availableNow=True)
         .start())
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


DOCS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])


def stream_dedup(spark: SparkSession, input_dir: str,
                 max_files_per_trigger: int | None = 1) -> DataFrame:
    """Streaming exact dedup at ingest: documents arrive incrementally
    (re-crawls of identical content under new doc_ids); the stateful
    ``dropDuplicates`` on the content hash emits each distinct text
    exactly once across ALL micro-batches — the state store carries the
    seen-hash set between triggers.

    State is O(distinct documents), the same asymptotics as the batch
    groupBy — for bounded-retention production streams use
    :func:`stream_dedup_watermarked`; the gate's availableNow drain is
    finite so the unbounded variant is the honest equivalent of the
    batch semantics."""
    src = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        src = src.option("maxFilesPerTrigger", max_files_per_trigger)
    return (src.parquet(input_dir)
            .selectExpr("md5(lower(text)) AS text_hash")
            .dropDuplicates(["text_hash"]))


def run_stream_dedup_once(spark: SparkSession, input_dir: str,
                          query_name: str = "dedup_stream",
                          max_files_per_trigger: int | None = 1) -> DataFrame:
    """Drain all available files through stream_dedup into a memory sink."""
    q = (stream_dedup(spark, input_dir, max_files_per_trigger)
         .writeStream.outputMode("append")
         .format("memory").queryName(query_name)
         .trigger(availableNow=True)
         .start())
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


DOCS_TS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


def stream_dedup_watermarked(spark: SparkSession, input_dir: str,
                             delay: str = "10 minutes",
                             max_files_per_trigger: int | None = 1
                             ) -> DataFrame:
    """Bounded-retention streaming dedup — the production variant of
    :func:`stream_dedup` for unbounded re-crawl streams.

    ``dropDuplicatesWithinWatermark`` on the content hash with an
    event-time watermark: a duplicate whose event time lands while the
    first occurrence's state row is live (within ``delay`` of the first
    sighting) is dropped; once the watermark passes ``first_ts + delay``
    the state row is EVICTED, so a later re-crawl of the same content is
    re-emitted as a fresh sighting. State is therefore O(distinct texts
    within the retention window) instead of :func:`stream_dedup`'s
    O(all distinct texts ever) — the property that makes the operator
    deployable on a never-ending ingest stream at 100 TB, where the
    unbounded seen-hash set would grow without limit. The drop/keep and
    eviction/re-emit contract is pinned by
    tests/test_streaming.py; the in-watermark drain is
    driver-certified against the batch distinct-set oracle
    (gate kg_stream_dedup_wm inside dedup_all)."""
    from pyspark.sql import functions as F
    src = spark.readStream.schema(DOCS_TS_SCHEMA)
    if max_files_per_trigger is not None:
        src = src.option("maxFilesPerTrigger", max_files_per_trigger)
    return (src.parquet(input_dir)
            .select(F.expr("md5(lower(text))").alias("text_hash"), "ts")
            .withWatermark("ts", delay)
            .dropDuplicatesWithinWatermark(["text_hash"]))


def run_stream_dedup_wm_once(spark: SparkSession, input_dir: str,
                             query_name: str = "dedup_stream_wm",
                             delay: str = "10 minutes",
                             max_files_per_trigger: int | None = 1
                             ) -> DataFrame:
    """Drain all available files through stream_dedup_watermarked into a
    memory sink; returns the emitted (text_hash, ts) rows."""
    q = (stream_dedup_watermarked(spark, input_dir, delay,
                                  max_files_per_trigger)
         .writeStream.outputMode("append")
         .format("memory").queryName(query_name)
         .trigger(availableNow=True)
         .start())
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


CONV_TS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])

#: sentinel conv_id whose far-future event time advances the watermark so
#: availableNow drains flush every real session (append-mode session
#: aggregations only emit once the watermark passes session_end + gap;
#: the sentinel's own session never finalizes and is filtered out)
SESSION_FLUSH_CONV = "__flush"

#: watermark delay of the unordered-replay drain (run_stream_sessions_once)
SESSION_REPLAY_DELAY_DAYS = 3650


def write_session_flush_sentinels(input_dir: str, events: DataFrame) -> None:
    """Append the two flush-sentinel files that finalize every session of
    ``events`` (conv_id, ts), already written to ``input_dir``, for a
    drain with the default gap and delay of run_stream_sessions_once.

    The first sentinel sits ``delay + gap`` plus an hour's margin past
    the corpus' max event time, so the watermark it sets (its time minus
    the delay) passes every session's window end (last ts + gap); the
    second, an hour later, runs a batch under that watermark and flushes
    them — append-mode emission lags the watermark by one batch, and the
    trailing no-data batch is not guaranteed under availableNow.
    Deriving both from the data keeps the drain loss-free at any corpus
    size (literal far-future dates stop covering a large enough corpus).
    FileStreamSource orders files by mtime, so each sentinel file is
    stamped 2 s after the previous file instead of sleeping."""
    import glob
    import os

    from pyspark.sql import functions as F
    margin = 3600
    lead = SESSION_REPLAY_DELAY_DAYS * 86400 + SESSION_GAP_S + margin
    latest = events.agg(F.max("ts").alias("m"))
    seen = set(glob.glob(f"{input_dir}/*.parquet"))
    t_max = max(os.path.getmtime(f) for f in seen)
    for step in (1, 2):
        secs = lead + (step - 1) * margin
        (latest.select(F.lit(SESSION_FLUSH_CONV).alias("conv_id"),
                       F.expr(f"timestampadd(SECOND, {secs}, m)")
                       .alias("ts"))
         .coalesce(1).write.mode("append").parquet(input_dir))
        now = set(glob.glob(f"{input_dir}/*.parquet"))
        for f in now - seen:
            os.utime(f, (t_max + 2 * step, t_max + 2 * step))
        seen = now


def stream_sessions(spark: SparkSession, input_dir: str,
                    gap_seconds: int = SESSION_GAP_S,
                    delay: str = "10 seconds",
                    max_files_per_trigger: int | None = 1) -> DataFrame:
    """Structured-Streaming sessionization: Spark's merging
    ``session_window(ts, gap)`` per conv_id under an event-time
    watermark — the native streaming equivalent of the batch
    islands-and-gaps (operators/sessions.sessionize); both certify
    against ONE oracle.  State is O(open sessions), evicted as the
    watermark passes each window — the bounded-retention shape that
    deploys on a never-ending transcript stream."""
    from pyspark.sql import functions as F
    src = spark.readStream.schema(CONV_TS_SCHEMA)
    if max_files_per_trigger is not None:
        src = src.option("maxFilesPerTrigger", max_files_per_trigger)
    return (src.parquet(input_dir)
            .withWatermark("ts", delay)
            .groupBy("conv_id",
                     F.session_window("ts", f"{gap_seconds} seconds"))
            .agg(F.count(F.lit(1)).alias("n_turns")))


def run_stream_sessions_once(spark: SparkSession, input_dir: str,
                             gap_seconds: int = SESSION_GAP_S,
                             delay: str = f"{SESSION_REPLAY_DELAY_DAYS} days",
                             query_name: str = "sessions_stream",
                             max_files_per_trigger: int | None = 1
                             ) -> DataFrame:
    """Drain all available files through stream_sessions into a memory
    sink; returns (conv_id, session_start, session_end, n_turns) with
    ``session_end = max(ts)`` (the batch convention — session_window's
    ``end`` is ``max_ts + gap`` by definition, so the gap is subtracted
    back) and the flush sentinel removed.

    The default ``delay`` is deliberately enormous: the drain's file
    order is NOT event-time order (each parquet part spans the whole
    range), so a small watermark delay silently DROPS rows that arrive
    in a later file than the watermark-advancing maximum (observed:
    185/234 sessions at 10 s).  A delay wider than the corpus span
    models "unordered replay"; the flush sentinels
    (:func:`write_session_flush_sentinels`) are placed past delay + every
    session end, so finalization is unaffected.  A live deployment with
    roughly-ordered arrival uses a delay matched to its real disorder
    instead."""
    q = (stream_sessions(spark, input_dir, gap_seconds, delay=delay,
                         max_files_per_trigger=max_files_per_trigger)
         .writeStream.outputMode("append")
         .format("memory").queryName(query_name)
         .trigger(availableNow=True)
         .start())
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"""
SELECT conv_id, session_window.start AS session_start,
       timestampadd(SECOND, -{gap_seconds}, session_window.end)
         AS session_end,
       n_turns
FROM {query_name}
WHERE conv_id != '{SESSION_FLUSH_CONV}'""")
