"""Stage checkpointing with per-partition lineage and exact resume.

North-rule obligation (BASELINE.json): every stage checkpoints per-partition
lineage + counters so a killed job resumes from its complete stages and
reproduces byte-identical output.

Layout per stage under ``root``::

    <root>/<stage>/data/           parquet (Iceberg table in production)
    <root>/<stage>/lineage/        parquet: (partition_id, n_rows, checksum, stage)
    <root>/<stage>/_LINEAGE_OK     marker: stage complete + lineage verified
    <root>/_metrics.jsonl          append-only stage metrics (driver side)

Stages form a DAG through their declared ``deps`` (each naming an earlier
stage).  ``run()`` decides resume vs recompute in list order, then runs
every recomputed stage in its own thread as soon as its deps are complete,
so independent branches write and verify concurrently.  A stage is
skipped on resume iff its marker exists; the marker is written only after
the data write finished AND the lineage of the written files was
recomputed and persisted, and only after every dep's marker — a
half-written stage can never be mistaken for complete, and the markers on
disk always form a down-closed set of the DAG (parquet job-commit +
marker ordering).  Persisting a stage costs its data write plus one
lineage aggregate over the written files: its result (at most one row per
partition) is collected, the driver writes it with pyarrow and takes the
marker's ``rows``, ``partitions`` and stage ``checksum`` from the same
rows.  Stage tables are read back with the schema stored in their parquet
footers, so no read runs a schema-inference job.

Checksums are order-insensitive within a partition (bit_xor of row hashes
over the canonical JSON of each row), so lineage verification is stable
under task retries that permute row order inside a partition.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass
from collections.abc import Callable
from functools import reduce
from operator import xor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from nlp_lib_spark.operators.canonicalize import (_persistent_ids,
                                                  _unpersist_rdd_ids)

#: the persisted lineage table's schema (the Spark types int, bigint,
#: bigint, string)
LINEAGE_SCHEMA = pa.schema([("partition_id", pa.int32()),
                            ("n_rows", pa.int64()),
                            ("checksum", pa.int64()),
                            ("stage", pa.string())])

#: parquet footer key under which Spark's writer stores the row schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


@dataclass
class Stage:
    name: str
    # fn(spark, upstream_outputs) -> DataFrame
    fn: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    deps: tuple[str, ...] = ()
    # columns the CURRENT code requires of this stage's output; a resumed
    # checkpoint written by an older code version that lacks any of them
    # is invalidated and recomputed instead of poisoning downstream
    # stages with an AnalysisException (schema-upgrade safety)
    required_cols: tuple[str, ...] = ()


def _lineage(df: DataFrame) -> DataFrame:
    cols = df.columns
    return (df
            .withColumn("__pid", F.spark_partition_id())
            .withColumn("__h", F.xxhash64(F.to_json(F.struct(*cols))))
            .groupBy("__pid")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.expr("bit_xor(__h)").alias("checksum"))
            .select(F.col("__pid").alias("partition_id"),
                    "n_rows", "checksum"))


def _read_stage(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job: the
    schema Spark would infer is the one its writer stored in the part
    files' footers (it writes one part file even for an empty frame),
    read here on the driver (the root is driver-local)."""
    part = min(f for f in os.listdir(path) if f.startswith("part-"))
    meta = pq.read_schema(f"{path}/{part}").metadata
    schema = StructType.fromJson(json.loads(meta[SPARK_SCHEMA_KEY]))
    return spark.read.schema(schema).parquet(path)


def _write_lineage(path: str, stage: str, rows: list) -> None:
    """Persist collected ``_lineage`` rows as one parquet file (the
    overwrite semantics of the Spark writer it replaces)."""
    rows = sorted(rows, key=lambda r: r.partition_id)
    table = pa.Table.from_pydict(
        {"partition_id": [r.partition_id for r in rows],
         "n_rows": [r.n_rows for r in rows],
         "checksum": [r.checksum for r in rows],
         "stage": [stage] * len(rows)}, schema=LINEAGE_SCHEMA)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(table, f"{path}/part-00000.parquet")


class CheckpointedPipeline:
    def __init__(self, spark: SparkSession, root: str, stages: list[Stage]):
        if "://" in root:
            # stage DATA goes through Spark writers and could target any
            # filesystem, but markers/metrics use driver-local open()/
            # os.path — a remote root would write data then crash at the
            # first marker (and resume would never see markers). Refuse
            # loudly; the production posture for remote storage is an
            # Iceberg table catalog, not this POSIX marker layout.
            raise ValueError(
                f"checkpoint root must be a driver-local path, got {root!r}"
                " (markers and metrics are written with local file I/O)")
        names = [s.name for s in stages]
        for i, stage in enumerate(stages):
            if stage.name in names[:i]:
                raise ValueError(f"duplicate stage {stage.name!r}")
            for d in stage.deps:
                if d not in names[:i]:
                    where = "a later" if d in names else "an unknown"
                    raise ValueError(f"stage {stage.name!r} depends on "
                                     f"{where} stage {d!r}")
        self.spark = spark
        self.root = root.rstrip("/")
        self.stages = stages
        self.computed: dict[str, bool] = {}
        self._log_lock = threading.Lock()

    def _paths(self, name: str) -> tuple[str, str, str]:
        base = f"{self.root}/{name}"
        return f"{base}/data", f"{base}/lineage", f"{base}/_LINEAGE_OK"

    def marker(self, name: str) -> dict:
        """A complete stage's marker: ``rows``, ``partitions`` and the
        stage ``checksum`` (xor of the partition checksums), the same
        for a stage computed by this run or resumed from an earlier one."""
        with open(self._paths(name)[2]) as f:
            return json.load(f)

    def _log_metric(self, rec: dict) -> None:
        # stage threads append concurrently: one whole line at a time
        with self._log_lock:
            os.makedirs(self.root, exist_ok=True)
            with open(f"{self.root}/_metrics.jsonl", "a") as f:
                f.write(json.dumps(rec) + "\n")

    def run(self, inputs: dict[str, DataFrame] | None = None,
            resume: bool = True) -> dict[str, DataFrame]:
        """Resume or compute every stage; returns each stage's output
        re-read from its checkpoint (plus ``inputs``).

        Resume vs recompute is decided in list order.  Each recomputed
        stage then runs in its own thread once its deps are complete, so
        stages on independent branches write and verify concurrently;
        stage functions themselves are called one at a time, each with
        ``inputs`` plus the outputs of its declared deps only (reading
        any other stage raises ``KeyError``).  The caller's job group,
        description and tags apply to every stage's jobs.  When a stage
        fails, the stages depending on it do not start, the other
        branches still finish and write their markers, and the first
        error is raised once every stage thread has ended.

        Stage functions may ``localCheckpoint`` frames that later stages
        reuse (``full_kg_stages`` shares one graph build between nodes and
        edges).  No returned frame depends on them, so every RDD persisted
        while the run executes is freed when it ends (nothing else may
        persist on the same SparkContext concurrently)."""
        sc = self.spark.sparkContext
        before = _persistent_ids(sc)
        try:
            return self._run(inputs, resume)
        finally:
            _unpersist_rdd_ids(sc, _persistent_ids(sc) - before)

    def _plan(self, outputs: dict[str, DataFrame],
              resume: bool) -> list[Stage]:
        """Resume every stage whose checkpoint holds into ``outputs``;
        return the stages to recompute, their stale markers removed."""
        # stages recomputed THIS run; anything depending on one of them
        # must also recompute — a resumed checkpoint derived from data
        # that was just recomputed could be stale.  (After a kill or a
        # failed stage, markers form a down-closed set of the DAG, so the
        # cascade only changes behavior for schema invalidation and
        # explicit invalidate() calls, where it is exactly what is wanted.)
        dirty: set[str] = set()
        for stage in self.stages:
            data_p, _, marker = self._paths(stage.name)
            dep_dirty = any(d in dirty for d in stage.deps)
            if resume and not dep_dirty and os.path.exists(marker):
                resumed = _read_stage(self.spark, data_p)
                missing = set(stage.required_cols) - set(resumed.columns)
                if not missing:
                    outputs[stage.name] = resumed
                    self.computed[stage.name] = False
                    continue
                # stale checkpoint from an older schema — recompute
                self._log_metric({"stage": stage.name,
                                  "event": "schema_invalidated",
                                  "missing_cols": sorted(missing),
                                  "ts": time.time()})
            dirty.add(stage.name)
            self.computed[stage.name] = True
            # drop any stale marker BEFORE any stage runs: the dep-dirty
            # cascade and resume=False reach here with an old marker
            # still on disk, and a kill mid-overwrite must not let the
            # half-written stage resume as complete
            if os.path.exists(marker):
                os.remove(marker)
        return [s for s in self.stages if s.name in dirty]

    def _persist(self, stage: Stage, df: DataFrame, t0: float) -> DataFrame:
        """Write, re-read and verify one stage; its marker goes last."""
        data_p, lin_p, marker = self._paths(stage.name)
        df.write.mode("overwrite").parquet(data_p)
        written = _read_stage(self.spark, data_p)
        lineage = _lineage(written).collect()
        _write_lineage(lin_p, stage.name, lineage)
        totals = {"rows": sum(r.n_rows for r in lineage),
                  "partitions": len(lineage),
                  "checksum": reduce(xor, (r.checksum for r in lineage), 0)}
        with open(marker, "w") as f:
            f.write(json.dumps(totals))
        self._log_metric({"stage": stage.name, "event": "complete",
                          **totals, "wall_sec": round(time.time() - t0, 3),
                          "ts": time.time()})
        return written

    def _run(self, inputs: dict[str, DataFrame] | None,
             resume: bool) -> dict[str, DataFrame]:
        base = dict(inputs or {})
        outputs = dict(base)
        todo = self._plan(outputs, resume)
        # set once a stage's marker is written, or once it failed or was
        # skipped (then it is missing from ``outputs``)
        done = {s.name: threading.Event() for s in todo}
        errors: list[BaseException] = []
        # one stage fn at a time: fns may share driver-side state (the
        # graph build of full_kg_stages, a caller's tracing hooks)
        fn_lock = threading.Lock()

        def compute(stage: Stage) -> None:
            try:
                for d in stage.deps:
                    if d in done:
                        done[d].wait()
                if any(d not in outputs for d in stage.deps):
                    return  # a dep failed: this stage does not start
                with fn_lock:
                    t0 = time.time()
                    df = stage.fn(self.spark, {
                        **base, **{d: outputs[d] for d in stage.deps}})
                outputs[stage.name] = self._persist(stage, df, t0)
            except BaseException as e:  # re-raised by the caller thread
                errors.append(e)
            finally:
                done[stage.name].set()

        # each thread starts with a copy of the caller's local properties
        # (job group, description) and the session's tags
        threads = [InheritableThread(compute, args=(stage,),
                                     session=self.spark,
                                     name=f"checkpoint-{stage.name}")
                   for stage in todo]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return outputs

    def invalidate(self, name: str) -> None:
        """Drop a stage's marker so the next run recomputes it; stages
        depending on it recompute automatically (dirty cascade in run())."""
        _, _, marker = self._paths(name)
        if os.path.exists(marker):
            os.remove(marker)


def kg_stages(sf_dir: str, config) -> list[Stage]:
    """The flagship staged DAG: transcripts -> annotations -> triples."""
    from nlp_lib_spark.operators.extract import (annotate_turns,
                                                 triples_from_annotations)
    from nlp_lib_spark.operators.transcripts import transcripts

    def s_transcripts(spark, _):
        return transcripts(spark, sf_dir)

    def s_annotations(spark, outs):
        return annotate_turns(outs["transcripts"], config)

    def s_triples(spark, outs):
        # explode the checkpointed annotations' triples column — a resume
        # after the annotations stage never re-runs the expensive chain,
        # and no Python runs here at all
        return triples_from_annotations(outs["annotations"])

    return [Stage("transcripts", s_transcripts),
            Stage("annotations", s_annotations, deps=("transcripts",),
                  required_cols=("triples", "discourse")),
            Stage("triples", s_triples, deps=("annotations",))]


def full_kg_stages(sf_dir: str, config, dictionary: tuple[str, ...],
                   lll_config=None) -> list[Stage]:
    """The complete KG-construction DAG (SURVEY.md §7 stage list):

    transcripts -> annotations -> {triples, discourse, cmap}; hor_edges
    from discourse + triples; nodes and edges from triples + cmap.  The
    three branches after annotations, and hor_edges beside nodes/edges,
    run concurrently.  Every stage checkpoints with per-partition lineage,
    so a kill anywhere resumes exactly.  Only annotations runs Python over
    sentences: triples and discourse explode its array columns.

    ``lll_config`` (an ``operators.lll.LLLConfig``) additionally appends
    the legacy-LLL engine as an ``lll_triples`` stage off the checkpointed
    transcripts, so it overlaps annotations — at scale all engines share
    the one transcripts scan.
    """
    from pyspark.sql import functions as F

    from nlp_lib_spark.operators.discourse import (discourse_relations,
                                                   hor_edges)
    from nlp_lib_spark.operators.extract import mentions_from_annotations
    from nlp_lib_spark.operators.graph import canonical_map, materialize_graph
    from nlp_lib_spark.operators.linking import dictionary_frame

    graph: dict = {}

    def s_discourse(spark, outs):
        return discourse_relations(outs["annotations"])

    def s_hor(spark, outs):
        return hor_edges(outs["discourse"], outs["triples"])

    def s_cmap(spark, outs):
        mentions = mentions_from_annotations(outs["annotations"])
        return canonical_map(mentions, dictionary_frame(spark, dictionary))

    def built(spark, outs):
        # one materialize_graph per (triples, cmap) pair: nodes and edges
        # share its broadcast map and checkpointed triple frame, which
        # the pipeline frees when the run ends (a later run rebuilds)
        key = (outs["triples"], outs["cmap"])
        sc = spark.sparkContext
        if not (graph and all(a is b for a, b in zip(graph["key"], key))
                and graph["rdds"] <= _persistent_ids(sc)):
            before = _persistent_ids(sc)
            graph["frames"] = materialize_graph(*key)
            graph["rdds"] = _persistent_ids(sc) - before
            graph["key"] = key
        return graph["frames"]

    def s_nodes(spark, outs):
        nodes, _edges = built(spark, outs)
        return nodes

    def s_edges(spark, outs):
        _nodes, edges = built(spark, outs)
        return edges.withColumn("weight", F.col("weight").cast("long"))

    stages = kg_stages(sf_dir, config) + [
        Stage("discourse", s_discourse, deps=("annotations",)),
        Stage("hor_edges", s_hor, deps=("discourse", "triples")),
        Stage("cmap", s_cmap, deps=("annotations",)),
        Stage("nodes", s_nodes, deps=("triples", "cmap")),
        Stage("edges", s_edges, deps=("triples", "cmap")),
    ]
    if lll_config is not None:
        from nlp_lib_spark.operators.lll import extract_triples_lll

        def s_lll(spark, outs):
            return extract_triples_lll(outs["transcripts"], lll_config)

        stages.append(Stage("lll_triples", s_lll, deps=("transcripts",)))
    return stages
