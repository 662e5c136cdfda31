#!/usr/bin/env python3
"""KG-construction benchmark: one command, two workloads, checked outputs.

    python3 kgbench/run.py --workload extract --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The workload's input is generated from
``--seed`` before the Spark session starts; the session is a closed loop of
one driver thread submitting one pass at a time to ``local[nproc]``.

``--trace 0`` times passes with tracing off and prints the end-to-end
metrics; ``--trace 1`` runs one traced pass (after a warm-up pass where
the timed passes are warm), then the remaining per-layer calls, and
prints the per-layer metrics plus the tracing overhead.  Either way the
last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``, also when a pass, a
check or the set-up fails: then ``correct`` is false, a metric that was
not measured is null and the exit status is 1.  The line before it
stamps the host (nproc, load average, stolen CPU time, versions),
because numbers from different hosts must never be compared.  Metric
names and units are read from ``BENCHMARK.json`` and must match what the
workload measured.

Everything the run writes goes under ``.kgbench/`` in the checkout: the
generated inputs and pass outputs (deleted at exit) and one span file per
traced run (kept, under ``.kgbench/traces/``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".kgbench")
NPROC = len(os.sched_getaffinity(0))


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 ** 2
    raise RuntimeError("no MemTotal in /proc/meminfo")


# A quarter of the host's memory, at most 4 GB: the driver JVM holds the
# whole local-mode executor, and the Python workers live outside its heap.
DRIVER_MEMORY = f"{max(1, min(4, int(_mem_total_gb() // 4)))}g"


def _isolate(tmp: str) -> None:
    """Keep every file the run writes (Spark scratch, JVM and Python temp
    files) inside the checkout, and make the engine importable by the
    Python workers Spark forks."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    paths = [ROOT, HERE] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.driver.extraJavaOptions="
                              f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}"),
        "pyspark-shell"])


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs since boot (0 on bare metal)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _stamp() -> dict:
    import pyspark
    return {"nproc": NPROC, "loadavg": os.getloadavg(),
            "steal_s": _steal_s(),
            "mem_total_gb": round(_mem_total_gb(), 1),
            "driver_memory": DRIVER_MEMORY,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "machine": platform.machine()}


def set_up(config):
    """The ``session`` layer: ``get_spark`` + Python-worker spawn + the
    first ``KGConfig.build``.  Returns (spark, timings)."""
    from nlp_lib_spark.session import get_spark
    from workloads import _identity

    t0 = time.perf_counter()
    spark = get_spark(app="kgbench", cpus=NPROC, driver_memory=DRIVER_MEMORY)
    t1 = time.perf_counter()
    (spark.range(NPROC, numPartitions=NPROC)
     .mapInPandas(_identity, "id long").collect())
    t2 = time.perf_counter()
    config.build()
    t3 = time.perf_counter()
    return spark, {"session.start_s": t1 - t0,
                   "session.worker_spawn_s": t2 - t1,
                   "setup_s": t3 - t0}


def tear_down(spark) -> None:
    """Stop the session and wait for the driver JVM to exit (it exits on
    EOF of its stdin), so no process outlives the run."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    proc.wait(timeout=120)


def _attempt(tally: dict, fn, *args):
    """Run one pass; a raise counts as a failed pass."""
    tally["attempted"] += 1
    t0 = time.perf_counter()
    try:
        out = fn(*args)
    except Exception:
        traceback.print_exc()
        tally["failed"] += 1
        return None, None
    return out, time.perf_counter() - t0


def timed_run(spark, wl, seconds: float, setup: dict, tally: dict,
              m: dict) -> dict:
    """The end-to-end metrics, filled into ``m`` as they are measured;
    returns the output check's verdict."""
    from spans import tree_peak_rss_mb

    m["setup_s"] = setup["setup_s"]
    first = None
    if not wl.cold:
        _, first = _attempt(tally, wl.warm_up, spark)
    walls: list[float] = []
    t_start = time.perf_counter()
    while len(walls) < wl.min_passes or (
            not wl.cold and time.perf_counter() - t_start < seconds):
        _, took = _attempt(tally, wl.run_pass, spark, len(walls))
        if took is None:
            return {"ok": False}
        walls.append(took)
    m["passes"] = walls
    m["wall_s"] = statistics.median(walls)
    m["turns_per_s"] = wl.input_rows / m["wall_s"]
    m["peak_rss_mb"] = tree_peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    # a workload without checkpoints resumes by re-running from the input
    # in a fresh session: its resume is the session's first pass
    resumed = _attempt(tally, wl.resume, spark)[0] if wl.cold else first
    if resumed is not None:
        m["resume_s"] = resumed
    verdict, _ = _attempt(tally, wl.check, spark)
    if verdict is None:
        return {"ok": False}
    if not verdict["ok"]:
        tally["failed"] += 1
    m["triple_precision"] = verdict["precision"]
    m["triple_recall"] = verdict["recall"]
    return verdict


def traced_run(spark, wl, wanted, setup: dict, tally: dict,
               m: dict) -> dict:
    """The per-layer metrics, filled into ``m`` as they are measured;
    returns the output checks' verdict."""
    from spans import Tracer

    # the traced pass starts from the state the timed pass starts from:
    # warm for steady-state workloads, the session's first for cold ones
    if not wl.cold:
        _attempt(tally, wl.warm_up, spark)
    tracer = Tracer(spark.sparkContext, uuid.uuid4().hex[:12])

    def traced_pass():
        with tracer.span("pass") as top:
            return wl.traced_pass(spark, tracer), top
    out, traced_s = _attempt(tally, traced_pass)
    if out is None:
        return {"ok": False}
    # a layer the workload never enters reports 0
    m.update(dict.fromkeys((w["name"] for w in wanted), 0))
    m.update({k: v for k, v in setup.items() if k != "setup_s"})
    m.update(out[0])
    m.update({f"spark.{k}": v for k, v in
              tracer.spark_rollup(out[1]).items()})
    # measured directly: the traced-minus-untraced wall of two single
    # passes swings by a second or more either way, far above the spans'
    # own cost, and a cold workload has no second cold pass to compare
    m["trace.overhead_s"] = tracer.own_s
    chain, _ = _attempt(tally, wl.layer_chain, spark, tracer)
    if chain is None:
        return {"ok": False}
    m.update(chain)
    verdict, _ = _attempt(tally, wl.check, spark)
    if verdict is None:
        return {"ok": False}
    if not verdict["ok"]:
        tally["failed"] += 1
    kern, verdict["kernels_ok"] = wl.kernel_layer()
    m.update(kern)
    m.update({"transcripts.rows": wl.input_rows,
              "input.distinct_sentence_ratio": wl.distinct_ratio,
              "extract.rows_out": wl.rows_out})
    path = os.path.join(WORK, "traces",
                        f"{wl.name}-seed{wl.seed}-{tracer.run_id}.json")
    tracer.dump(path, {"workload": wl.name, "seed": wl.seed,
                       "traced_pass_s": traced_s, "metrics": m})
    m["trace_file"] = os.path.relpath(path, ROOT)
    return verdict


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("extract", "kg_build"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(ROOT, "nlp_lib_spark"))
            and os.path.isfile(spec_path)):
        print("kgbench: run from a checkout holding nlp_lib_spark/ and "
              "BENCHMARK.json", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    _isolate(os.path.join(run_dir, "tmp"))
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    stamp = _stamp()
    tally = {"attempted": 0, "failed": 0}
    verdict, measured, inputs = {"ok": False}, {}, {}
    try:
        wl = WORKLOADS[args.workload](args.seed, os.path.join(run_dir,
                                                              "data"))
        inputs = wl.generate()
        spark, setup = set_up(wl.config)
        try:
            if args.trace:
                verdict = traced_run(spark, wl, wanted, setup, tally,
                                     measured)
            else:
                verdict = timed_run(spark, wl, args.seconds, setup, tally,
                                    measured)
        finally:
            tear_down(spark)
    except Exception:
        # input generation, set-up or a measurement outside the passes
        # failed: the run itself counts as one failed attempt
        traceback.print_exc()
        tally["attempted"] += 1
        tally["failed"] += 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    names = [w["name"] for w in wanted]
    missing = [n for n in names if n not in measured]
    if missing:
        print(f"kgbench: not measured: {missing}", file=sys.stderr)
    stamp["loadavg_end"] = os.getloadavg()
    # a run whose CPUs were taken by other guests reads slow for reasons
    # outside the program
    stamp["steal_s"] = _steal_s() - stamp["steal_s"]
    correct = (verdict["ok"] and verdict.get("kernels_ok", True)
               and tally["failed"] == 0 and not missing)
    print(json.dumps({"stamp": stamp, "workload": args.workload,
                      "seed": args.seed, "inputs": inputs,
                      "verdict": verdict, "detail": {
                          k: v for k, v in measured.items()
                          if k not in names}}))
    print(json.dumps({
        "correct": bool(correct), "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": {w["name"]: {"value": measured.get(w["name"]),
                                "unit": w["unit"]} for w in wanted}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
