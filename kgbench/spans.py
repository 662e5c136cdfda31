"""Spans, Spark job-group roll-ups and process memory for the benchmark.

Everything here runs in the benchmark's own process and observes the
engine from outside: a span is a timed region around a call into one of
the engine's public functions, tagged with a Spark job group so the
engine's per-stage task metrics can be attributed to it afterwards from
the live status store (which Spark keeps even with the UI disabled).
Spans stay in memory until ``Tracer.dump``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

MB = 1024 * 1024


class Tracer:
    """In-memory spans ``(id, name, parent, start, end)`` sharing one run id.

    Each span runs under its own Spark job group, so ``spark_rollup`` can
    sum the task metrics of exactly the jobs a span (and its children)
    started.  ``own_s`` is the time spent in ``begin`` and ``end``
    themselves: the tracing overhead a traced region pays."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.own_s = 0.0

    def begin(self, name: str) -> dict:
        t0 = time.perf_counter()
        parent = self._stack[-1]["id"] if self._stack else None
        span = {"id": f"{self.run_id}.{len(self.spans)}", "name": name,
                "parent": parent, "start": t0, "end": None}
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(span["id"], name)
        self.own_s += time.perf_counter() - t0
        return span

    def end(self, span: dict) -> float:
        span["end"] = t0 = time.perf_counter()
        self._stack.remove(span)
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(top["id"], top["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.own_s += time.perf_counter() - t0
        return span["end"] - span["start"]

    @contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    def duration(self, name: str) -> float:
        """Total duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def self_time(self, span: dict) -> float:
        """Duration minus the union of the intervals its children cover."""
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c["parent"] == span["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span["end"] - span["start"] - covered

    def subtree(self, root: dict) -> set[str]:
        ids, grew = {root["id"]}, True
        while grew:
            grew = False
            for s in self.spans:
                if s["parent"] in ids and s["id"] not in ids:
                    ids.add(s["id"])
                    grew = True
        return ids

    def spark_rollup(self, root: dict) -> dict[str, float]:
        """``spark.*`` over the jobs of ``root`` and its child spans."""
        return rollup(self.sc, snapshot(self.sc), self.subtree(root))

    def dump(self, path: str, extra: dict) -> None:
        """Write every span with its self time and the task metrics of
        the jobs started under it (not under its children)."""
        snap = snapshot(self.sc)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [{**s, "start": s["start"] - t0, "end": s["end"] - t0,
                 "self_s": self.self_time(s),
                 "spark": rollup(self.sc, snap, {s["id"]})}
                for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows, **extra}, f,
                      indent=1)


def snapshot(sc) -> tuple[list[str], list[dict]]:
    """(job group of every job, one row per completed stage) from the
    live status store.  A stage is listed once, under the first job that
    ran it; a stage a job skipped (reused shuffle output) never
    completed in that job and is not listed again."""
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    listed = []
    for k in range(jobs.size()):
        job = jobs.apply(k)
        g = job.jobGroup()
        sids = job.stageIds()
        listed.append((job.jobId(), g.get() if g.isDefined() else None,
                       [sids.apply(i) for i in range(sids.size())]))
    listed.sort()
    groups, stages, seen = [], [], set()
    for _, group, sids in listed:
        groups.append(group)
        for sid in sids:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JError:  # never submitted
                continue
            if st.status().toString() != "COMPLETE":
                continue
            stages.append({
                "group": group, "stage": sid, "attempt": st.attemptId(),
                "tasks": st.numTasks(), "run_ms": st.executorRunTime(),
                "cpu_ns": st.executorCpuTime(), "gc_ms": st.jvmGcTime(),
                "shuffle_write": st.shuffleWriteBytes(),
                "shuffle_read": st.shuffleReadBytes(),
                "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                "failed": st.numFailedTasks()})
    return groups, stages


def rollup(sc, snap, groups: set[str]) -> dict[str, float]:
    """Sum the task metrics of the stages run by jobs in ``groups``.
    ``task_skew`` is max / median task run time of the stage that ran
    longest (1.0 when no stage had two or more tasks)."""
    jobs, stages = snap
    sel = [s for s in stages if s["group"] in groups]
    out = {"jobs": sum(1 for g in jobs if g in groups),
           "executor_run_s": sum(s["run_ms"] for s in sel) / 1e3,
           "executor_cpu_s": sum(s["cpu_ns"] for s in sel) / 1e9,
           "gc_s": sum(s["gc_ms"] for s in sel) / 1e3,
           "shuffle_write_mb": sum(s["shuffle_write"] for s in sel) / MB,
           "shuffle_read_mb": sum(s["shuffle_read"] for s in sel) / MB,
           "spill_mb": sum(s["spill"] for s in sel) / MB,
           "failed_tasks": sum(s["failed"] for s in sel),
           "task_skew": 1.0}
    longest = max((s for s in sel if s["tasks"] >= 2),
                  key=lambda s: s["run_ms"], default=None)
    if longest is not None:
        gw = sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = sc._jsc.sc().statusStore().taskSummary(
            longest["stage"], longest["attempt"], q)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            out["task_skew"] = run.apply(1) / max(run.apply(0), 1.0)
    return out


def _children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command may contain spaces/parens: ppid follows the last ')'
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(d))
    return kids


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM (peak resident set) over ``root_pid`` and all its
    descendants: the driver JVM plus its Python daemon and workers."""
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
        todo.extend(_children(pid))
    return total_kb / 1024
