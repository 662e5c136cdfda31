"""Streaming ingest parity with batch: triples, windowed aggregates,
stateful conversation counts, and the watermarked dedup contract."""

from __future__ import annotations

import pandas as pd

from nlp_lib_spark.fixtures import FIXTURE_CONFIG, generate_transcripts
from nlp_lib_spark.operators.extract import extract_triples
from nlp_lib_spark.streaming.ingest import run_stream_once


def test_streaming_matches_batch(spark, tmp_path):
    turns, _ = generate_transcripts(n_convs=15, seed=3)
    pdf = pd.DataFrame(turns, columns=["conv_id", "turn_idx", "role",
                                       "text", "tool", "ts_epoch"])
    from pyspark.sql import functions as F
    src = (spark.createDataFrame(pdf)
           .withColumn("turn_idx", F.col("turn_idx").cast("int"))
           .withColumn("ts", F.timestamp_seconds("ts_epoch"))
           .drop("ts_epoch"))
    in_dir = str(tmp_path / "stream_in")
    src.repartition(4).write.mode("overwrite").parquet(in_dir)

    batch = extract_triples(spark.read.parquet(in_dir),
                            FIXTURE_CONFIG).toPandas()
    key = ["conv_id", "turn_idx", "sent_id", "e1", "e2"]
    # one drain of everything AND a one-file-per-micro-batch drain (the
    # kg_stream_triples gate's shape): the appended union across several
    # micro-batches must equal the batch plan, not just a single batch
    for mfpt, qname in [(None, "t_all"), (1, "t_onefile")]:
        streamed = run_stream_once(spark, in_dir, FIXTURE_CONFIG,
                                   query_name=qname,
                                   max_files_per_trigger=mfpt).toPandas()
        pd.testing.assert_frame_equal(
            streamed.sort_values(key).reset_index(drop=True),
            batch.sort_values(key).reset_index(drop=True))


def test_windowed_watermark_matches_batch(spark, tmp_path):
    """Watermarked windowed turn counts over the stream equal the batch
    aggregate on the same files (watermark is a no-op in batch)."""
    from nlp_lib_spark.streaming.windowed import (run_windowed_once,
                                                  windowed_turn_counts)
    turns, _ = generate_transcripts(n_convs=20, seed=7)
    pdf = pd.DataFrame(turns, columns=["conv_id", "turn_idx", "role",
                                       "text", "tool", "ts_epoch"])
    from pyspark.sql import functions as F
    src = (spark.createDataFrame(pdf)
           .withColumn("turn_idx", F.col("turn_idx").cast("int"))
           .withColumn("ts", F.timestamp_seconds("ts_epoch"))
           .drop("ts_epoch"))
    in_dir = str(tmp_path / "win_in")
    src.write.mode("overwrite").parquet(in_dir)

    streamed = run_windowed_once(spark, in_dir,
                                 query_name="turn_rates_t").toPandas()
    batch = windowed_turn_counts(
        spark.read.parquet(in_dir)).toPandas()
    key = ["window_start", "role"]
    pd.testing.assert_frame_equal(
        streamed.sort_values(key).reset_index(drop=True),
        batch.sort_values(key).reset_index(drop=True))
    assert streamed["n_turns"].sum() == len(pdf)


def test_stateful_conversation_counts_match_batch(spark, tmp_path):
    """applyInPandasWithState accumulates across micro-batches: draining
    the input one file per trigger must end at the same per-conversation
    totals as a single batch aggregation (state makes batch boundaries
    invisible)."""
    from pyspark.sql import functions as F

    from nlp_lib_spark.streaming.stateful import run_stateful_once
    turns, _ = generate_transcripts(n_convs=12, seed=21)
    pdf = pd.DataFrame(turns, columns=["conv_id", "turn_idx", "role",
                                       "text", "tool", "ts_epoch"])
    src = (spark.createDataFrame(pdf)
           .withColumn("turn_idx", F.col("turn_idx").cast("int"))
           .withColumn("ts", F.timestamp_seconds("ts_epoch"))
           .drop("ts_epoch"))
    in_dir = str(tmp_path / "state_in")
    # several files so availableNow + maxFilesPerTrigger=1 yields several
    # micro-batches with interleaved conversations
    src.repartition(4).write.mode("overwrite").parquet(in_dir)

    got = {r.conv_id: (r.n_turns, r.n_triples, r.max_turn_idx)
           for r in run_stateful_once(spark, in_dir, FIXTURE_CONFIG).collect()}

    batch_turns = spark.read.parquet(in_dir)
    per_conv = (batch_turns.groupBy("conv_id")
                .agg(F.count(F.lit(1)).alias("n_turns"),
                     F.max("turn_idx").alias("max_turn_idx")))
    triples = (extract_triples(batch_turns, FIXTURE_CONFIG)
               .groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_triples")))
    want = {}
    for r in per_conv.join(triples, "conv_id", "left").collect():
        want[r.conv_id] = (r.n_turns, r.n_triples or 0, r.max_turn_idx)
    assert got == want


def test_stateful_eviction_branch():
    """The idle-eviction branch (make_state_fn with a timeout budget):
    a timed-out group emits its closing totals once and removes its state
    row; a live group accumulates, updates state, and re-arms the timer.
    (Driven at the function level — a bounded availableNow drain can
    never fire processing-time timeouts, see the operator docstring.)"""
    from nlp_lib_spark.streaming.stateful import make_state_fn

    class FakeState:
        def __init__(self, value, timed_out):
            self._v = value
            self.hasTimedOut = timed_out
            self.exists = value is not None
            self.removed = False
            self.updated = None
            self.timeout_set = None

        @property
        def get(self):
            return self._v

        def remove(self):
            self.removed = True

        def update(self, v):
            self.updated = v

        def setTimeoutDuration(self, ms):
            self.timeout_set = ms

    fn = make_state_fn(FIXTURE_CONFIG, idle_timeout_ms=60_000)
    # timed-out group: closing record + state removed, nothing re-armed
    st = FakeState((5, 2, 9), timed_out=True)
    out = list(fn(("conv_a",), iter(()), st))
    assert st.removed and st.updated is None and st.timeout_set is None
    assert len(out) == 1 and out[0].iloc[0].tolist() == ["conv_a", 5, 2, 9]
    # live group: accumulates on top of prior state and re-arms the timer
    st2 = FakeState((1, 0, 0), timed_out=False)
    batch = pd.DataFrame({"turn_idx": [3], "text": [""]})
    out2 = list(fn(("conv_b",), iter([batch]), st2))
    assert st2.updated == (2, 0, 3) and st2.timeout_set == 60_000
    assert not st2.removed
    assert out2[0].iloc[0].tolist() == ["conv_b", 2, 0, 3]


def test_watermarked_dedup_contract(spark, tmp_path):
    """dropDuplicatesWithinWatermark's bounded-retention contract
    (streaming/ingest.stream_dedup_watermarked, VERDICT r4 item 3): a
    duplicate whose event time arrives while the first occurrence's
    state is live (inside the watermark) is DROPPED; one arriving after
    the watermark passed first_ts + delay finds the state row evicted
    and is RE-EMITTED. Batch boundaries are made deterministic by
    writing one file per micro-batch and draining between writes —
    the watermark only advances at micro-batch boundaries."""
    import os

    from pyspark.sql import functions as F

    from nlp_lib_spark.streaming.ingest import stream_dedup_watermarked

    in_dir = str(tmp_path / "wm_in")
    os.makedirs(in_dir)

    def write_batch(n, rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts_s"])
        (spark.createDataFrame(pdf)
         .select(F.col("doc_id").cast("long"),
                 "text",
                 F.to_timestamp(F.col("ts_s")).alias("ts"))
         .coalesce(1)
         .write.mode("append").parquet(in_dir))

    # batch 1: first sighting of A at 10:00 -> emitted;
    # watermark after batch 1 = 10:00 - 5 min = 09:55
    write_batch(1, [(1, "doc A", "2026-01-01 10:00:00")])
    q = (stream_dedup_watermarked(spark, in_dir, delay="5 minutes",
                                  max_files_per_trigger=None)
         .writeStream.outputMode("append")
         .format("memory").queryName("wm_contract")
         .trigger(processingTime="50 milliseconds")
         .start())
    try:
        q.processAllAvailable()

        # batch 2: duplicate A at 10:04 — later than the 09:55 watermark
        # (not late) and inside the live state window -> DROPPED; B at
        # 10:30 is new -> emitted, and advances the watermark to 10:25,
        # past A's expiry (10:00 + 5 min = 10:05) -> A's state row is
        # evicted at the end of this batch
        write_batch(2, [(2, "doc A", "2026-01-01 10:04:00"),
                        (3, "doc B", "2026-01-01 10:30:00")])
        q.processAllAvailable()

        # batch 3: A re-crawled at 10:40, after eviction -> RE-EMITTED
        write_batch(3, [(4, "doc A", "2026-01-01 10:40:00")])
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.sql(
        "SELECT text_hash, ts FROM wm_contract").toPandas()
    spark.catalog.dropTempView("wm_contract")
    hash_a = spark.sql("SELECT md5('doc a') AS h").first().h
    hash_b = spark.sql("SELECT md5('doc b') AS h").first().h
    emitted = sorted((r.text_hash, r.ts.isoformat())
                     for r in out.itertuples())
    assert emitted == [
        (hash_a, "2026-01-01T10:00:00"),   # first sighting
        (hash_a, "2026-01-01T10:40:00"),   # re-emitted after eviction
        (hash_b, "2026-01-01T10:30:00"),   # distinct content
    ], emitted  # the 10:04 in-watermark duplicate must NOT appear


def test_watermarked_dedup_inorder_matches_batch_distinct(spark, tmp_path):
    """On in-order, in-watermark input (constant event time) the
    watermarked drain emits exactly the batch distinct-hash set — the
    same contract the kg_stream_dedup_wm gate certifies by value hash
    at the driver."""
    from pyspark.sql import functions as F

    from nlp_lib_spark.streaming.ingest import run_stream_dedup_wm_once

    texts = [f"document number {i % 7}" for i in range(30)]
    pdf = pd.DataFrame({"doc_id": range(30), "text": texts})
    src = (spark.createDataFrame(pdf)
           .select(F.col("doc_id").cast("long"), "text",
                   F.lit("2026-01-01 00:00:00").cast("timestamp")
                    .alias("ts")))
    in_dir = str(tmp_path / "wm_inorder")
    src.repartition(4).write.mode("overwrite").parquet(in_dir)
    out = run_stream_dedup_wm_once(spark, in_dir,
                                   query_name="wm_inorder_t").toPandas()
    spark.catalog.dropTempView("wm_inorder_t")
    batch = {r.h for r in spark.createDataFrame(pdf)
             .select(F.expr("md5(lower(text))").alias("h"))
             .distinct().collect()}
    assert sorted(out.text_hash) == sorted(batch)  # once each, no misses
