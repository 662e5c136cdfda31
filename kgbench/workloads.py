"""The benchmark's workloads.

Each workload generates its input before the Spark session exists, then
runs one pass at a time (closed loop, a single driver thread):

* ``extract``    — fused ``extract_triples`` into a noop sink: Python
  kernels plus the Arrow crossing, no shuffle, no write.  Its traced run
  also calls ``connected_components`` and 10-round ``pagerank`` on a
  seeded, skewed hub-and-chain mention-similarity graph, which no pass
  of either workload enters.
* ``kg_build``   — the checkpointed ``full_kg_stages`` DAG into a fresh
  checkpoint root, then mid-DAG resumes: writes, shuffles, linking and
  graph joins beside a full-annotation pass.

``traced_pass`` re-runs a pass with a span (and Spark job group) around
every call into a layer's public function; ``layer_chain`` then calls the
remaining layers.  Layers a workload never enters report 0.
"""

from __future__ import annotations

import json
import os
import random
import time
from collections import Counter

from pyspark.sql import DataFrame, SparkSession, functions as F

import checks
import gen
import kernels_probe
from nlp_lib_spark.operators import canonicalize
from nlp_lib_spark.operators.discourse import discourse_relations, hor_edges
from nlp_lib_spark.operators.extract import (annotate_turns, extract_triples,
                                             mentions_from_annotations,
                                             triples_from_annotations)
from nlp_lib_spark.operators.graph import (PR_DAMPING_PCT, PR_SCALE,
                                           canonical_map, materialize_graph,
                                           pagerank)
from nlp_lib_spark.operators.linking import link_mentions
from nlp_lib_spark.plans.checkpoint import (CheckpointedPipeline, Stage,
                                            full_kg_stages)

N_EXTRACT_TURNS = 30_000
N_KG_TURNS = 10_000
N_GRAPH_EDGES = 30_000
RESUMES = 3
N_FILES = 8
PR_ROUNDS = 10
KERNEL_SAMPLE_TURNS = 1_000
ORACLE_SAMPLE_CONVS = 300
DAG_STAGES = ("transcripts", "annotations", "triples", "discourse",
              "hor_edges", "cmap", "nodes", "edges")


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs) / (1024 * 1024)


class Chain:
    """Calls layer functions under spans; each step's output is written
    to parquet so the next step starts from a materialized table."""

    def __init__(self, spark: SparkSession, tracer, out_dir: str):
        self.spark, self.tracer, self.out_dir = spark, tracer, out_dir

    def step(self, name: str, build, sink: str = "parquet"):
        """Span ``name`` with children ``build`` (the call) and
        ``materialize`` (the write); returns (seconds, re-read frame)."""
        with self.tracer.span(name) as s:
            with self.tracer.span(f"{name}.build"):
                df = build()
            with self.tracer.span(f"{name}.materialize"):
                if sink == "noop":
                    _noop(df)
                    out = df
                else:
                    path = os.path.join(self.out_dir, name)
                    df.write.mode("overwrite").parquet(path)
                    out = self.spark.read.parquet(path)
        return s["end"] - s["start"], out


def _scan_and_crossing(chain: Chain, spark, path: str):
    """The input scan and the identity Arrow crossing over the 3 columns
    the extract operators read; returns (metrics, scanned frame)."""
    scan_s, turns = chain.step("transcripts.scan",
                               lambda: spark.read.parquet(path), sink="noop")
    cross_s, _ = chain.step(
        "identity_crossing",
        lambda: turns.select("conv_id", "turn_idx", "text").mapInPandas(
            _identity, "conv_id string, turn_idx int, text string"),
        sink="noop")
    return ({"transcripts.scan_s": scan_s,
             "extract.arrow_roundtrip_s": cross_s}, turns)


class Workload:
    """One workload.  Subclasses provide ``generate`` (inputs, before the
    session exists), ``run_pass``, ``check`` (the last pass's output
    against an independent reference), ``traced_pass`` (one pass with a
    span around each layer call) and ``layer_chain`` (the layer calls the
    pass does not make); a ``cold`` workload also provides ``resume``.

    A ``cold`` workload is a batch job that runs once per session, as
    ``scripts/run_pipeline.py`` does, so its timed pass is the session's
    first; otherwise one untimed pass warms the session and then passes
    repeat for the run's duration (at least ``min_passes``)."""

    name = ""
    cold = True
    min_passes = 1
    n_turns = 0
    rows_out = 0

    def __init__(self, seed: int, data_dir: str):
        self.seed = seed
        self.data = data_dir
        self.input_path = os.path.join(data_dir, "input")

    def warm_up(self, spark: SparkSession) -> None:
        self.run_pass(spark, "warm")

    def generate(self) -> dict:
        single, multi = gen.entity_lexicon(self.seed)
        self.dictionary = single + multi
        self.config = gen.kg_config(single, multi)
        turns, gold, n_sents, n_distinct = gen.transcripts(
            self.seed, self.n_turns, single, multi)
        gen.write_parquet(turns, gen.TRANSCRIPT_SCHEMA, self.input_path,
                          N_FILES)
        self.turns = turns
        self.gold = checks.triple_keys(gold)
        self.input_rows = len(turns)
        self.distinct_ratio = n_distinct / n_sents
        if self.distinct_ratio < 0.9:  # a per-text memo could fake speed
            raise RuntimeError(f"only {self.distinct_ratio:.1%} of the "
                               "generated sentences are distinct")
        return {"turns": len(turns), "sentences": n_sents,
                "distinct_sentence_ratio": self.distinct_ratio,
                "gold_triples": len(self.gold)}

    def kernel_layer(self) -> tuple[dict, bool]:
        """``kernels.*`` plus the localization self-test, over a seeded
        sample of the generated turns."""
        rng = random.Random(self.seed)
        texts = [t[3] for t in rng.sample(self.turns, KERNEL_SAMPLE_TURNS)]
        rt = self.config.build()
        m, replay_ok = kernels_probe.kernel_metrics(rt, texts)
        st = kernels_probe.localization_selftest(rt, texts)
        print("kgbench selftest " + json.dumps(st), flush=True)
        m["selftest.dep_parse_delta_us"] = st["selftest.dep_parse_delta_us"]
        return m, replay_ok and st["selftest.passed"]


class Extract(Workload):
    name = "extract"
    cold = False
    min_passes = 4
    n_turns = N_EXTRACT_TURNS

    def generate(self) -> dict:
        inputs = super().generate()
        self.graph = gen.skewed_graph(self.seed, N_GRAPH_EDGES)
        self.graph_path = os.path.join(self.data, "graph")
        gen.write_parquet(self.graph, gen.GRAPH_SCHEMA, self.graph_path,
                          N_FILES)
        return inputs | {"graph_edges": len(self.graph)}

    def _triples(self, spark) -> DataFrame:
        return extract_triples(spark.read.parquet(self.input_path),
                               self.config)

    def run_pass(self, spark, k):
        out = self._triples(spark)
        if k == "warm":  # the untimed pass doubles as the checked one
            self.rows = list(out.toPandas().itertuples(index=False,
                                                       name=None))
        else:
            _noop(out)

    def check(self, spark) -> dict:
        rows = self.rows
        p, r = checks.precision_recall(
            checks.triple_keys((c, t, s, a, pr, b)
                               for c, t, s, _i, _j, a, pr, b in rows),
            self.gold)
        convs = sorted({t[0] for t in self.turns})
        sample = set(random.Random(self.seed).sample(
            convs, min(ORACLE_SAMPLE_CONVS, len(convs))))
        want = checks.oracle_rows(self.config.build(),
                                  [t for t in self.turns if t[0] in sample])
        got = Counter((c, int(t), int(s), int(i), int(j), a, pr, b)
                      for c, t, s, i, j, a, pr, b in rows if c in sample)
        ok = got == want
        self.rows_out = len(rows)
        return {"ok": ok and p >= 0.95 and r >= 0.95, "precision": p,
                "recall": r, "oracle_sample_rows": sum(want.values()),
                "oracle_match": ok}

    def traced_pass(self, spark, tracer) -> dict:
        chain = Chain(spark, tracer, os.path.join(self.data, "chain"))
        s, _ = chain.step("extract_triples", lambda: self._triples(spark),
                          sink="noop")
        return {"extract.s": s}

    def layer_chain(self, spark, tracer) -> dict:
        chain = Chain(spark, tracer, os.path.join(self.data, "chain"))
        m = _scan_and_crossing(chain, spark, self.input_path)[0]
        return m | self._graph_layers(spark, chain, tracer)

    def _graph_layers(self, spark, chain: Chain, tracer) -> dict:
        """Connected components and PageRank over the seeded skewed graph,
        each checked against its Python reference (union-find, integer
        replay)."""
        m = {}
        m["canonicalize.cc_s"], cc = chain.step(
            "connected_components",
            lambda: canonicalize.connected_components(
                spark.read.parquet(self.graph_path).select("u", "v")))
        m["canonicalize.cc_rounds"] = canonicalize.LAST_CC_STATS["rounds"]
        m["canonicalize.cc_peak_persistent"] = \
            canonicalize.LAST_CC_STATS["peak_persistent"]
        plan = {}

        def pr():
            df = pagerank(spark.read.parquet(self.graph_path),
                          iters=PR_ROUNDS, src_col="u", dst_col="v",
                          weight_col="w")
            plan["lines"] = len(
                df._jdf.queryExecution().analyzed().toString().splitlines())
            return df
        m["graph.pagerank_s"], ranks = chain.step("pagerank", pr)
        m["graph.pagerank_build_s"] = tracer.duration("pagerank.build")
        m["graph.pagerank_plan_nodes"] = plan["lines"]
        want_cc = checks.union_find_labels(self.graph)
        want_pr = checks.pagerank_replay(self.graph, PR_ROUNDS,
                                         PR_DAMPING_PCT, PR_SCALE)
        got_cc = {r.id: r.component for r in cc.collect()}
        got_pr = {r.entity_id: (r.pr_scaled, r.pr_wout, r.pr_win)
                  for r in ranks.collect()}
        if got_cc != want_cc or got_pr != want_pr:
            raise RuntimeError("connected_components or pagerank disagrees "
                               "with its Python reference")
        return m


class KGBuild(Workload):
    name = "kg_build"
    n_turns = N_KG_TURNS

    def _stages(self, path: str) -> list[Stage]:
        stages = full_kg_stages(path, self.config, self.dictionary)
        if stages[0].name != "transcripts":
            raise RuntimeError("full_kg_stages no longer starts with the "
                               "transcripts stage")
        stages[0] = Stage("transcripts",
                          lambda spark, _: spark.read.parquet(path))
        return stages

    def _root(self, k) -> str:
        return os.path.join(self.data, f"ckpt-{k}")

    def run_pass(self, spark, k):
        self.last_root = self._root(k)
        CheckpointedPipeline(spark, self.last_root,
                             self._stages(self.input_path)).run()

    def resume(self, spark) -> float:
        """The fastest of ``RESUMES`` resumes after
        ``invalidate("triples")``: a resume is a few seconds of small jobs,
        and contention from other guests on the host only adds time."""
        took = []
        for _ in range(RESUMES):
            pipe = CheckpointedPipeline(spark, self.last_root,
                                        self._stages(self.input_path))
            pipe.invalidate("triples")
            t0 = time.perf_counter()
            pipe.run()
            took.append(time.perf_counter() - t0)
            recomputed = {s for s, c in pipe.computed.items() if c}
            if recomputed != {"triples", "hor_edges", "nodes", "edges"}:
                raise RuntimeError(f"resume recomputed {sorted(recomputed)}")
        return min(took)

    def check(self, spark) -> dict:
        def stage(s):
            return spark.read.parquet(f"{self.last_root}/{s}/data")

        cols = ["conv_id", "turn_idx", "sent_id", "e1", "e2", "subj",
                "pred", "obj"]

        def rows(df):
            return list(df.select(*cols).toPandas().itertuples(
                index=False, name=None))
        staged = rows(stage("triples"))
        fused = rows(extract_triples(spark.read.parquet(self.input_path),
                                     self.config))
        same = Counter(staged) == Counter(fused)
        n_triples = len(staged)
        weight = stage("edges").agg(F.sum("weight")).collect()[0][0]
        p, r = checks.precision_recall(
            checks.triple_keys((c, t, s, a, pr, b)
                               for c, t, s, _i, _j, a, pr, b in staged),
            self.gold)
        self.rows_out = n_triples
        ok = same and weight == n_triples
        return {"ok": ok and p >= 0.95 and r >= 0.95, "precision": p,
                "recall": r, "staged_equals_fused": same,
                "edge_weight_sum": weight, "triples": n_triples}

    def traced_pass(self, spark, tracer) -> dict:
        m: dict = {}
        root = self.last_root = self._root("traced")
        stages = self._stages(self.input_path)
        open_persist: list[dict] = []

        def hooked(stage: Stage):
            fn = stage.fn

            def run(spark_, outs):
                if open_persist:
                    tracer.end(open_persist.pop())
                with tracer.span(f"checkpoint.{stage.name}.build"):
                    df = fn(spark_, outs)
                open_persist.append(
                    tracer.begin(f"checkpoint.{stage.name}.persist"))
                return df
            return run

        for st in stages:
            st.fn = hooked(st)
        t0 = time.perf_counter()
        CheckpointedPipeline(spark, root, stages).run()
        tracer.end(open_persist.pop())
        wall = time.perf_counter() - t0
        attributed = 0.0
        for s in DAG_STAGES:
            b = tracer.duration(f"checkpoint.{s}.build")
            p = tracer.duration(f"checkpoint.{s}.persist")
            attributed += b + p
            with open(f"{root}/{s}/_LINEAGE_OK") as f:
                rows = json.load(f)["rows"]
            m.update({f"checkpoint.{s}.build_s": b,
                      f"checkpoint.{s}.persist_s": p,
                      f"checkpoint.{s}.rows": rows})
        m["checkpoint.unattributed_s"] = wall - attributed
        m["checkpoint.bytes_written_mb"] = _dir_mb(root)
        return m

    def layer_chain(self, spark, tracer) -> dict:
        chain = Chain(spark, tracer, os.path.join(self.data, "chain"))
        dictionary = spark.createDataFrame(
            [(e,) for e in self.dictionary], "entity string")
        m, turns = _scan_and_crossing(chain, spark, self.input_path)
        ann_s, ann = chain.step(
            "annotate_turns", lambda: annotate_turns(turns, self.config))
        tri_s, tri = chain.step(
            "triples_from_annotations", lambda: triples_from_annotations(ann))
        m["extract.s"] = ann_s + tri_s
        m["discourse.relations_s"], disc = chain.step(
            "discourse_relations", lambda: discourse_relations(ann))
        m["discourse.hor_edges_s"], hor = chain.step(
            "hor_edges", lambda: hor_edges(disc, tri))
        m["discourse.rows"] = disc.count()
        men_s, men = chain.step(
            "mentions_from_annotations",
            lambda: mentions_from_annotations(ann))
        link_s, linked = chain.step(
            "link_mentions", lambda: link_mentions(men, dictionary))
        m["linking.s"] = men_s + link_s
        stats = linked.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("norm").alias("norms"),
            F.avg((F.col("method") == "exact").cast("double")).alias("exact"),
        ).collect()[0]
        m.update({"linking.mentions": stats.n,
                  "linking.distinct_norms": stats.norms,
                  "linking.exact_ratio": stats.exact or 0.0})
        m["graph.canonical_map_s"], cmap = chain.step(
            "canonical_map", lambda: canonical_map(men, dictionary))
        built = {}

        def graph():
            built["nodes"], built["edges"] = materialize_graph(tri, cmap)
            return built["nodes"]
        nodes_s, nodes = chain.step("materialize_graph.nodes", graph)
        edges_s, edges = chain.step("materialize_graph.edges",
                                    lambda: built["edges"])
        m["graph.materialize_s"] = nodes_s + edges_s
        m["graph.nodes"] = nodes.count()
        m["graph.edges"] = edges.count()
        return m


WORKLOADS = {w.name: w for w in (Extract, KGBuild)}
