#!/usr/bin/env python3
"""Alternating kgbench pairs of two checkouts, with the A/B verdict.

    python3 scripts/dev_bench_pairs.py PARENT_DIR CHANGE_DIR \\
        --workload kg_build --seeds 2601 2602 ... --log-dir DIR

Runs ``kgbench/run.py --trace 0`` once per seed on each checkout, one run
at a time, and swaps which side goes first on every other pair so a slow
host phase hits both sides.  The run length is the ``run_seconds`` of the
parent's ``BENCHMARK.json``, the same for both sides.  Then, for every
end-to-end metric there, it prints each side's median and quartiles, the
pairs the change won (ties count for neither) and the verdict:

- ``gain``: the change won at least nine tenths of the pairs and the
  medians differ, in the better direction, by more than the parent's
  interquartile range;
- ``worse``: the change's median is worse than the parent's by more than
  the metric's relative ``bound``;
- ``within bound`` otherwise.

Every run must read ``correct: true`` with no failed attempt; the script
lists the runs that did not, and each pair's stolen CPU seconds
(``stamp.steal_s``), since a pair whose sides differ by seconds of steal
measured the host rather than the code.  Each run's full output is kept
under ``--log-dir``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, workload: str, seed: int, seconds: float,
             log: str) -> dict:
    """One kgbench run; its result line plus the host stamp."""
    proc = subprocess.run(
        [sys.executable, "kgbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    with open(log, "w") as f:
        f.write(proc.stderr + proc.stdout)
    lines = proc.stdout.strip().splitlines()
    try:
        result, stamp = json.loads(lines[-1]), json.loads(lines[-2])["stamp"]
    except (IndexError, ValueError, KeyError):
        return {"correct": False, "failed": None, "metrics": {},
                "steal_s": None}
    return {"correct": result["correct"], "failed": result["failed"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()},
            "steal_s": stamp.get("steal_s")}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(spec: dict, parent: list[float], change: list[float]) -> dict:
    """Medians, quartiles, pair wins and the verdict for one metric."""
    sign = 1 if spec["better"] == "higher" else -1
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    gain = sign * (cmed - pmed)
    if wins >= 0.9 * len(parent) and gain > pq3 - pq1:
        call = "gain"
    elif -gain > spec["bound"] * abs(pmed):
        call = "worse"
    else:
        call = "within bound"
    return {"parent": (pq1, pmed, pq3), "change": (cq1, cmed, cq3),
            "ratio": cmed / pmed if pmed else None, "wins": wins,
            "verdict": call}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True,
                    choices=("extract", "kg_build"))
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--log-dir", required=True)
    args = ap.parse_args(argv)

    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(args.log_dir, exist_ok=True)
    sides = {"parent": args.parent, "change": args.change}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            log = os.path.join(args.log_dir,
                               f"{args.workload}-{seed}-{side}.log")
            r = run_once(sides[side], args.workload, seed,
                         bench["run_seconds"], log)
            runs[side].append({**r, "seed": seed})
            print(json.dumps({"pair": i, "seed": seed, "side": side, **r}),
                  flush=True)

    bad = [(side, r["seed"]) for side, rs in runs.items() for r in rs
           if not r["correct"] or r["failed"]]
    print(f"\n{args.workload}: {len(args.seeds)} pairs, seeds "
          f"{args.seeds[0]}..{args.seeds[-1]}; runs not correct or with "
          f"failed attempts: {bad or 'none'}")
    print("steal_s per pair (parent/change): " + ", ".join(
        f"{p['steal_s']}/{c['steal_s']}"
        for p, c in zip(runs["parent"], runs["change"])))
    print(f"{'metric':<18} {'parent q1/med/q3':>26} {'change q1/med/q3':>26}"
          f" {'ratio':>6} {'wins':>6}  verdict")
    for spec in bench["end_to_end"]:
        name = spec["name"]
        pairs = [(p["metrics"].get(name), c["metrics"].get(name))
                 for p, c in zip(runs["parent"], runs["change"])]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if len(pairs) < 2:
            print(f"{name:<18} not measured on both sides")
            continue
        v = verdict(spec, *map(list, zip(*pairs)))
        fmt = "{:.4g}/{:.4g}/{:.4g}"
        ratio = f"{v['ratio']:.3f}" if v["ratio"] is not None else "-"
        print(f"{name:<18} {fmt.format(*v['parent']):>26} "
              f"{fmt.format(*v['change']):>26} {ratio:>6} "
              f"{v['wins']:>2}/{len(pairs):<3}  {v['verdict']}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
