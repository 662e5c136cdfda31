"""Kill-and-resume: byte-identical output, stages skipped on resume, and
the dependency-driven stage scheduling of ``CheckpointedPipeline.run``."""

from __future__ import annotations

import glob
import hashlib
import os

import pytest

from nlp_lib_spark.fixtures import FIXTURE_CONFIG, generate_transcripts
from nlp_lib_spark.plans.checkpoint import (CheckpointedPipeline, Stage,
                                            kg_stages)


def _dir_hash(path: str) -> str:
    h = hashlib.md5()
    for f in sorted(glob.glob(f"{path}/data/part-*.parquet")):
        with open(f, "rb") as fh:
            h.update(hashlib.md5(fh.read()).digest())
    return h.hexdigest()


@pytest.fixture()
def fixture_df(spark):
    import pandas as pd
    turns, _ = generate_transcripts(n_convs=20, seed=11)
    return spark.createDataFrame(pd.DataFrame(
        turns, columns=["conv_id", "turn_idx", "role", "text", "tool",
                        "ts_epoch"]))


def _stages(fixture_df):
    from nlp_lib_spark.operators.extract import annotate_turns, extract_triples

    return [
        Stage("transcripts", lambda sp, o: fixture_df.repartition(4, "conv_id")
              .sortWithinPartitions("conv_id", "turn_idx")),
        Stage("annotations",
              lambda sp, o: annotate_turns(o["transcripts"], FIXTURE_CONFIG),
              deps=("transcripts",)),
        Stage("triples",
              lambda sp, o: extract_triples(o["transcripts"], FIXTURE_CONFIG),
              deps=("transcripts",)),
    ]


def test_checkpoint_resume_exact(spark, fixture_df, tmp_path):
    root = str(tmp_path / "ckpt")
    p1 = CheckpointedPipeline(spark, root, _stages(fixture_df))
    out1 = p1.run()
    assert all(p1.computed.values())
    n1 = out1["triples"].count()
    h1 = _dir_hash(f"{root}/triples")

    # resume with nothing lost: all stages skipped, same data
    p2 = CheckpointedPipeline(spark, root, _stages(fixture_df))
    out2 = p2.run()
    assert not any(p2.computed.values())
    assert out2["triples"].count() == n1
    assert _dir_hash(f"{root}/triples") == h1

    # simulate kill between stage 2 and 3: lose the triples stage
    p2.invalidate("triples")
    import shutil
    shutil.rmtree(f"{root}/triples", ignore_errors=True)
    p3 = CheckpointedPipeline(spark, root, _stages(fixture_df))
    out3 = p3.run()
    assert p3.computed == {"transcripts": False, "annotations": False,
                           "triples": True}
    # byte-identical resume (same upstream checkpoint -> same partitions)
    assert _dir_hash(f"{root}/triples") == h1
    assert out3["triples"].count() == n1

    # lineage written per stage
    for s in ("transcripts", "annotations", "triples"):
        assert os.path.exists(f"{root}/{s}/_LINEAGE_OK")
        lin = spark.read.parquet(f"{root}/{s}/lineage")
        assert lin.count() >= 1
        assert set(lin.columns) == {"partition_id", "n_rows", "checksum",
                                    "stage"}
    assert os.path.exists(f"{root}/_metrics.jsonl")


def test_kg_stages_smoke(spark, tmp_path):
    stages = kg_stages("/root/testdata/sf0.001", __import__(
        "nlp_lib_spark.lexicons", fromlist=["TESTDATA_CONFIG"]).TESTDATA_CONFIG)
    p = CheckpointedPipeline(spark, str(tmp_path / "kg"), stages)
    out = p.run()
    assert out["triples"].count() > 0


def test_resume_invalidates_stale_schema(spark, tmp_path):
    """Review regression: a checkpoint written by an older code version
    (annotations without the 'discourse' column) must be recomputed on
    resume, not fed to downstream stages."""
    import pandas as pd

    from nlp_lib_spark.fixtures import FIXTURE_CONFIG, generate_transcripts
    from nlp_lib_spark.plans.checkpoint import CheckpointedPipeline, kg_stages

    turns, _ = generate_transcripts(n_convs=8, seed=11)
    tdf = pd.DataFrame(turns, columns=["conv_id", "turn_idx", "role",
                                       "text", "tool", "ts_epoch"])
    src = spark.createDataFrame(tdf)
    src.createOrReplaceTempView("__ckpt_src")

    stages = kg_stages(None, FIXTURE_CONFIG)
    stages[0].fn = lambda sp, _outs: sp.table("__ckpt_src")
    root = str(tmp_path / "ckpt")

    pipe = CheckpointedPipeline(spark, root, stages)
    outs1 = pipe.run()
    triples1 = sorted(map(tuple, outs1["triples"].collect()))

    # simulate an old-version checkpoint: drop 'discourse' from annotations
    ann_dir = f"{root}/annotations/data"
    old = spark.read.parquet(ann_dir).drop("discourse")
    old.write.mode("overwrite").parquet(ann_dir + "_old")
    import shutil
    shutil.rmtree(ann_dir)
    shutil.move(ann_dir + "_old", ann_dir)

    pipe2 = CheckpointedPipeline(spark, root, kg_stages(None, FIXTURE_CONFIG))
    pipe2.stages[0].fn = lambda sp, _outs: sp.table("__ckpt_src")
    outs2 = pipe2.run()
    assert pipe2.computed["annotations"], "stale schema must recompute"
    assert pipe2.computed["triples"], \
        "dirty cascade must re-derive downstream stages too"
    triples2 = sorted(map(tuple, outs2["triples"].collect()))
    assert triples1 == triples2


def test_recompute_removes_stale_marker_before_overwrite(spark, fixture_df,
                                                         tmp_path):
    """A dep-dirty recompute must drop the stage's old marker BEFORE
    overwriting its data: a kill mid-overwrite would otherwise leave the
    stale marker guarding half-written data, which the next resume would
    trust as complete (review finding)."""
    root = str(tmp_path / "ckpt")
    pipe = CheckpointedPipeline(spark, root, _stages(fixture_df))
    pipe.run()
    marker = f"{root}/triples/_LINEAGE_OK"
    assert os.path.exists(marker)
    # invalidate upstream -> 'triples' becomes dep-dirty; make its
    # recompute die BEFORE any write happens
    pipe.invalidate("transcripts")

    def boom(sp, o):
        raise RuntimeError("killed mid-recompute")

    stages = _stages(fixture_df)
    stages[2] = Stage("triples", boom, deps=("transcripts",))
    pipe2 = CheckpointedPipeline(spark, root, stages)
    try:
        pipe2.run()
        raise AssertionError("expected the injected failure")
    except RuntimeError:
        pass
    # the stale marker must be gone: the half-done stage cannot resume
    # as complete
    assert not os.path.exists(marker)


def test_checkpoint_rejects_remote_root(spark, fixture_df):
    import pytest as _pytest
    with _pytest.raises(ValueError, match="driver-local"):
        CheckpointedPipeline(spark, "s3a://bucket/ckpt",
                             _stages(fixture_df))


def test_driver_lineage_equals_spark_recompute(spark, fixture_df, tmp_path):
    """The lineage table the driver writes equals a Spark recomputation
    of ``_lineage`` over the stage's written data, row for row, with the
    column types of the Spark writer it replaced; the stage frames the
    pipeline returns carry the schema Spark itself infers."""
    from pyspark.sql import functions as F

    from nlp_lib_spark.plans.checkpoint import _lineage

    root = str(tmp_path / "ckpt")
    outs = CheckpointedPipeline(spark, root, _stages(fixture_df)).run()
    for s in ("transcripts", "annotations", "triples"):
        assert outs[s].schema == spark.read.parquet(f"{root}/{s}/data").schema
        got = spark.read.parquet(f"{root}/{s}/lineage")
        assert got.dtypes == [("partition_id", "int"), ("n_rows", "bigint"),
                              ("checksum", "bigint"), ("stage", "string")]
        want = (_lineage(spark.read.parquet(f"{root}/{s}/data"))
                .withColumn("stage", F.lit(s)))
        assert (sorted(map(tuple, got.collect()))
                == sorted(map(tuple, want.collect())))


def test_marker_totals_come_from_lineage(spark, fixture_df, tmp_path):
    """Marker ``rows`` is the sum of the lineage ``n_rows``, ``partitions``
    its row count and ``checksum`` the xor of the partition checksums, for
    an empty stage too; the metrics record carries the same totals, and
    ``marker()`` reads them back for a resumed stage."""
    import json
    from functools import reduce
    from operator import xor

    root = str(tmp_path / "ckpt")
    stages = _stages(fixture_df) + [
        Stage("empty", lambda sp, o: o["transcripts"].filter("false"),
              deps=("transcripts",))]
    pipe = CheckpointedPipeline(spark, root, stages)
    pipe.run()
    with open(f"{root}/_metrics.jsonl") as f:
        complete = {r["stage"]: r for r in map(json.loads, f)
                    if r["event"] == "complete"}
    for s in ("transcripts", "annotations", "triples", "empty"):
        lin = spark.read.parquet(f"{root}/{s}/lineage").collect()
        marker = pipe.marker(s)
        assert marker == {"rows": sum(r.n_rows for r in lin),
                          "partitions": len(lin),
                          "checksum": reduce(xor, (r.checksum for r in lin),
                                             0)}
        assert marker["rows"] == spark.read.parquet(
            f"{root}/{s}/data").count()
        assert {k: complete[s][k] for k in marker} == marker
    assert pipe.marker("empty") == {"rows": 0, "partitions": 0,
                                    "checksum": 0}

    resumed = CheckpointedPipeline(spark, root, stages)
    resumed.run()
    assert not any(resumed.computed.values())
    assert resumed.marker("triples") == pipe.marker("triples")


def test_full_kg_graph_stages_share_one_build(spark, fixture_df, tmp_path,
                                              monkeypatch):
    """``full_kg_stages`` derives nodes and edges from ONE
    ``materialize_graph`` call, and both tables equal a standalone
    ``materialize_graph(triples, cmap)`` as multisets; the shared
    checkpoints are freed when the run ends."""
    from collections import Counter

    from pyspark.sql import functions as F

    from nlp_lib_spark.fixtures import FIXTURE_ENTITIES
    from nlp_lib_spark.operators import graph
    from nlp_lib_spark.operators.canonicalize import _persistent_ids
    from nlp_lib_spark.plans.checkpoint import full_kg_stages

    calls = []
    real = graph.materialize_graph

    def counting(triples, cmap):
        calls.append(1)
        return real(triples, cmap)
    monkeypatch.setattr(graph, "materialize_graph", counting)

    stages = full_kg_stages(None, FIXTURE_CONFIG, FIXTURE_ENTITIES)
    stages[0].fn = _stages(fixture_df)[0].fn
    root = str(tmp_path / "kg")
    sc = spark.sparkContext
    before = _persistent_ids(sc)
    CheckpointedPipeline(spark, root, stages).run()
    assert len(calls) == 1
    assert _persistent_ids(sc) - before == set()

    def stage(s):
        return spark.read.parquet(f"{root}/{s}/data")

    def bag(df):
        return Counter(map(tuple, df.collect()))
    nodes, edges = real(stage("triples"), stage("cmap"))
    edges = edges.withColumn("weight", F.col("weight").cast("long"))
    assert stage("edges").count() > 0
    assert bag(stage("nodes")) == bag(nodes)
    assert bag(stage("edges")) == bag(edges)


def _rendezvous(df, tmp_path, me: str, other: str, timeout: float = 60.0):
    """``df`` passed through a mapInPandas that, inside the write's task,
    announces ``me`` and waits for ``other``: two such stages only finish
    when their writes run at the same time."""
    import time

    here, there = str(tmp_path / me), str(tmp_path / other)

    def meet(batches):
        open(here, "w").close()
        deadline = time.time() + timeout
        while not os.path.exists(there):
            if time.time() > deadline:
                raise TimeoutError(f"{me}: {other} never ran beside it")
            time.sleep(0.05)
        yield from batches
    return df.coalesce(1).mapInPandas(meet, schema=df.schema)


def test_independent_stages_write_concurrently(spark, fixture_df, tmp_path):
    """Two siblings of ``transcripts`` meet at a rendezvous inside their
    data writes: a runner that persists stages one after another times
    out."""
    stages = _stages(fixture_df)[:1] + [
        Stage("left", lambda sp, o: _rendezvous(
            o["transcripts"], tmp_path, "left", "right"),
            deps=("transcripts",)),
        Stage("right", lambda sp, o: _rendezvous(
            o["transcripts"], tmp_path, "right", "left"),
            deps=("transcripts",)),
    ]
    root = str(tmp_path / "ckpt")
    pipe = CheckpointedPipeline(spark, root, stages)
    outs = pipe.run()
    n = pipe.marker("transcripts")["rows"]
    assert pipe.marker("left")["rows"] == pipe.marker("right")["rows"] == n
    assert outs["left"].count() == n


def test_failed_branch_keeps_sibling_markers(spark, fixture_df, tmp_path):
    """A failing stage stops only its dependents: its sibling branch
    completes with a marker, and the next run recomputes exactly the
    failed stage and its dependents."""
    def stages(fail: bool):
        def annotations(sp, o):
            if fail:
                raise RuntimeError("annotations failed")
            return _stages(fixture_df)[1].fn(sp, o)
        base = _stages(fixture_df)
        return [base[0],
                Stage("annotations", annotations, deps=("transcripts",)),
                Stage("sample", lambda sp, o: o["annotations"].limit(5),
                      deps=("annotations",)),
                base[2]]

    root = str(tmp_path / "ckpt")
    with pytest.raises(RuntimeError, match="annotations failed"):
        CheckpointedPipeline(spark, root, stages(fail=True)).run()
    for s, complete in (("transcripts", True), ("annotations", False),
                        ("sample", False), ("triples", True)):
        assert os.path.exists(f"{root}/{s}/_LINEAGE_OK") == complete, s
    pipe = CheckpointedPipeline(spark, root, stages(fail=False))
    pipe.run()
    assert pipe.computed == {"transcripts": False, "annotations": True,
                             "sample": True, "triples": False}


def test_stage_reads_only_declared_deps(spark, fixture_df, tmp_path):
    """A stage fn sees ``inputs`` plus its declared deps: reading any
    other stage is a ``KeyError`` whatever the timing, and a dep on an
    unknown or a later stage is refused up front."""
    stages = _stages(fixture_df)
    stages[2] = Stage("triples", lambda sp, o: o["annotations"],
                      deps=("transcripts",))
    with pytest.raises(KeyError, match="annotations"):
        CheckpointedPipeline(spark, str(tmp_path / "a"), stages).run()

    stages = _stages(fixture_df)
    stages[1] = Stage("annotations", stages[1].fn, deps=("triples",))
    with pytest.raises(ValueError, match="later stage 'triples'"):
        CheckpointedPipeline(spark, str(tmp_path / "b"), stages)
    stages[1] = Stage("annotations", stages[1].fn, deps=("nope",))
    with pytest.raises(ValueError, match="unknown stage 'nope'"):
        CheckpointedPipeline(spark, str(tmp_path / "b"), stages)
    with pytest.raises(ValueError, match="duplicate stage 'transcripts'"):
        CheckpointedPipeline(spark, str(tmp_path / "b"),
                             _stages(fixture_df)[:1] * 2)

    src = fixture_df.limit(3)
    outs = CheckpointedPipeline(spark, str(tmp_path / "c"), [
        Stage("copy", lambda sp, o: o["src"])]).run({"src": src})
    assert outs["src"] is src and outs["copy"].count() == 3


def test_stage_jobs_carry_the_callers_job_group(spark, fixture_df,
                                                tmp_path):
    """Every job ``run()`` starts, in whichever stage thread, runs under
    the job group the caller set."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        listed = store.jobsList(None)
        return {listed.apply(k).jobId(): listed.apply(k).jobGroup()
                for k in range(listed.size())}

    before = set(jobs())
    sc.setJobGroup("checkpoint-test-group", "caller's group")
    try:
        CheckpointedPipeline(spark, str(tmp_path / "ckpt"),
                             _stages(fixture_df)).run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    new = {j: g for j, g in jobs().items() if j not in before}
    assert len(new) >= 6  # a write and a lineage job per stage
    assert {g.get() if g.isDefined() else None for g in new.values()} \
        == {"checkpoint-test-group"}


def test_wide_dag_stress_completes_in_dependency_order(spark, tmp_path):
    """Twelve tiny stages, eight of them runnable at once on four cores,
    with the interpreter switching threads every few microseconds: every
    stage completes once, each fn call and each completion comes after
    those of its deps, and the run ends within its time bound."""
    import json
    import random
    import sys
    import threading
    from functools import reduce

    rng = random.Random(5)
    names = [f"s{i}" for i in range(12)]
    deps = {n: ("s0",) for n in names[1:9]}
    deps["s0"] = ()
    for n in names[9:]:
        deps[n] = tuple(rng.sample(names[1:9], 2))
    calls = []

    def fn(name):
        def run(sp, o):
            calls.append(name)
            if not deps[name]:
                return sp.range(8)
            return reduce(lambda a, b: a.union(b),
                          (o[d] for d in deps[name])).distinct()
        return run

    stages = [Stage(n, fn(n), deps=deps[n]) for n in names]
    root = str(tmp_path / "ckpt")
    pipe = CheckpointedPipeline(spark, root, stages)
    result = {}
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        t = threading.Thread(target=lambda: result.update(pipe.run()))
        t.start()
        t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not t.is_alive(), "run() did not finish within 300 s"
    assert set(names) <= set(result)
    assert sorted(calls) == sorted(names)
    with open(f"{root}/_metrics.jsonl") as f:
        done = [json.loads(line) for line in f]
    assert sorted(r["stage"] for r in done) == sorted(names)
    ts = {r["stage"]: r["ts"] for r in done}
    for n in names:
        assert all(calls.index(d) < calls.index(n) for d in deps[n])
        assert all(ts[d] <= ts[n] for d in deps[n])
        assert pipe.marker(n)["rows"] == 8
