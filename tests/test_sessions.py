"""Sessionization: batch vs Python model, streaming vs batch.

Gate parity (kg_sessions / kg_stream_sessions, both hashed against one
shared oracle) covers the DuckDB oracle; here the batch operator is checked against an
independent Python islands implementation over random event times
(including exact-gap boundaries and duplicate timestamps), and the
streaming session_window drain is checked row-identical to the batch
operator on a multi-conversation corpus.
"""

from __future__ import annotations

import datetime as dt
import random
import shutil
import tempfile
import time

import pytest

from nlp_lib_spark.operators.sessions import sessionize

BASE = dt.datetime(2024, 1, 1)


def _py_sessions(rows, gap_s):
    by_conv: dict[str, list[dt.datetime]] = {}
    for c, ts in rows:
        by_conv.setdefault(c, []).append(ts)
    out = []
    for c, tss in by_conv.items():
        tss.sort()
        cur = [tss[0]]
        for ts in tss[1:]:
            if (ts - cur[-1]).total_seconds() > gap_s:
                out.append((c, cur[0], cur[-1], len(cur)))
                cur = [ts]
            else:
                cur.append(ts)
        out.append((c, cur[0], cur[-1], len(cur)))
    return sorted(out)


def _rand_rows(seed: int, n: int):
    rng = random.Random(seed)
    rows = []
    for _ in range(n):
        conv = f"c{rng.randrange(6)}"
        # offsets cluster around multiples of the gap to hit exact
        # boundaries; duplicates allowed
        off = rng.choice([0, 1, 59, 60, 1799, 1800, 1801, 3600,
                          7200, 7201]) + rng.randrange(5) * 1800
        rows.append((conv, BASE + dt.timedelta(seconds=off)))
    return rows


@pytest.mark.parametrize("seed", [4, 14, 44])
def test_batch_sessionize_matches_python(spark, seed):
    rows = _rand_rows(seed, 80)
    expected = _py_sessions(rows, 1800)
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp")
    got = sorted((r.conv_id, r.session_start, r.session_end, r.n_turns)
                 for r in sessionize(df).collect())
    assert got == expected


def test_exact_gap_boundary_splits(spark):
    rows = [("c", BASE), ("c", BASE + dt.timedelta(seconds=1799)),
            ("c", BASE + dt.timedelta(seconds=1799 + 1800))]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp")
    got = sorted((r.session_start, r.n_turns)
                 for r in sessionize(df).collect())
    # EXACTLY gap after the second -> still merges (session_window's
    # inclusive window end; the batch islands use the same strict >)
    assert got == [(BASE, 3)]
    rows.append(("c", BASE + dt.timedelta(seconds=1799 + 3601)))
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp")
    got = sorted((r.session_start, r.n_turns)
                 for r in sessionize(df).collect())
    # one second PAST the gap -> splits
    assert got == [(BASE, 3),
                   (BASE + dt.timedelta(seconds=5400), 1)]


def test_sessionize_rejects_bad_gap(spark):
    df = spark.createDataFrame([("c", BASE)], "conv_id string, ts timestamp")
    with pytest.raises(ValueError):
        sessionize(df, gap_seconds=0)


def test_streaming_drain_equals_batch(spark):
    from pyspark.sql import functions as F

    from nlp_lib_spark.streaming.ingest import (SESSION_FLUSH_CONV,
                                                run_stream_sessions_once)
    rows = _rand_rows(7, 60)
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp")
    batch = sorted((r.conv_id, r.session_start, r.session_end, r.n_turns)
                   for r in sessionize(df).collect())
    d = tempfile.mkdtemp(prefix="sess_test_")
    try:
        df.repartition(3).write.mode("overwrite").parquet(d)
        for sentinel in ("2035-01-01 00:00:00", "2035-01-01 01:00:00"):
            time.sleep(1.1)
            (spark.createDataFrame([(SESSION_FLUSH_CONV,)],
                                   "conv_id string")
             .select("conv_id",
                     F.lit(sentinel).cast("timestamp").alias("ts"))
             .coalesce(1).write.mode("append").parquet(d))
        out = run_stream_sessions_once(
            spark, d, query_name="sess_test_q")
        got = sorted((r.conv_id, r.session_start, r.session_end,
                      r.n_turns) for r in out.collect())
        spark.catalog.dropTempView("sess_test_q")
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert got == batch


def test_flush_sentinels_follow_the_corpus(spark):
    """The flush sentinels are derived from the corpus' max event time,
    so a corpus whose sessions end past any fixed far-future literal's
    reach (the 3650-day replay delay puts a 2035 sentinel's watermark
    in early 2025) still drains every session."""
    from nlp_lib_spark.streaming.ingest import (
        run_stream_sessions_once, write_session_flush_sentinels)
    late = dt.timedelta(days=365 * 7)
    rows = [(c, ts + late) for c, ts in _rand_rows(8, 60)]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp")
    batch = sorted((r.conv_id, r.session_start, r.session_end, r.n_turns)
                   for r in sessionize(df).collect())
    d = tempfile.mkdtemp(prefix="sess_late_")
    try:
        df.repartition(3).write.mode("overwrite").parquet(d)
        write_session_flush_sentinels(d, df)
        out = run_stream_sessions_once(spark, d, query_name="sess_late_q")
        got = sorted((r.conv_id, r.session_start, r.session_end,
                      r.n_turns) for r in out.collect())
        spark.catalog.dropTempView("sess_late_q")
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert len(batch) > 0
    assert got == batch
