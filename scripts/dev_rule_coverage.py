"""Dev harness: which rule-engine branches fire on the testdata corpus?

Runs the pure-Python kernel chain over every sentence of the derived
transcripts (no Spark) and reports per-rule pair counts, each rule's cost
in µs per multi-entity sentence (best of 5 timed passes, each call on a
fresh DepGraph whose build time is subtracted; the split that kgbench's
``kernels.rules_us`` lumps together), dep-edge label histogram,
and structural facts the DuckDB rule oracles can rely on.

    python3 scripts/dev_rule_coverage.py [SF_DIR]
"""
from __future__ import annotations

import os
import sys
import time
from collections import Counter

import duckdb

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.abspath(__file__)), os.pardir))

from nlp_lib_spark.kernels.pipeline import annotate_sentence
from nlp_lib_spark.kernels.depgraph import DepGraph
from nlp_lib_spark.kernels.rules import (Sent, rule1, rule2, rule2b, rule3,
                                         rule5)
from nlp_lib_spark.kernels.text import split_sentences, strip_citations
from nlp_lib_spark.lexicons import TESTDATA_CONFIG
from nlp_lib_spark.operators.transcripts import transcripts_select_sql

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

con = duckdb.connect()
con.execute(
    f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')")
rows = con.execute(transcripts_select_sql("documents", "duckdb", with_ts=False)
                   ).fetchall()

rt = TESTDATA_CONFIG.build()
edge_labels = Counter()
rule_pairs = Counter()
n_sent = 0
n_multi = 0
fused = 0
sents_with_pairs = 0
overlap = Counter()
examples = {}
RULES = {"r1": rule1, "r2": rule2, "r2b": rule2b, "r3": rule3, "r5": rule5}
parsed = []  # (Sent, edges) of every multi-entity sentence
for conv_id, turn_idx, role, text, tool in rows:
    if not text:
        continue
    for sid, sentence in enumerate(split_sentences(strip_citations(text))):
        ann = annotate_sentence(rt, sentence)
        n_sent += 1
        if ann is None or ann["entity_count"] <= 1:
            continue
        n_multi += 1
        fused += sum(1 for t in ann["blinded"] if "/" in t)
        s = Sent(ann["blinded"], ann["pos"],
                 ann["domain"])
        g = DepGraph(ann["edges"])
        for (r, gv, dp) in ann["edges"]:
            edge_labels[r] += 1
        parsed.append((s, ann["edges"]))
        rs = {k: rule(s, g) for k, rule in RULES.items()}
        for k, v in rs.items():
            rule_pairs[k] += len(v)
            if v and k not in examples:
                examples[k] = (sentence, sorted(v), ann["blinded"],
                               ann["pos"], ann["domain"], ann["edges"])
        allp = set().union(*rs.values())
        if allp:
            sents_with_pairs += 1
        # which rules contribute uniquely
        for k, v in rs.items():
            others = set().union(*(rs[o] for o in rs if o != k))
            uniq = v - others
            if uniq:
                overlap[k + "_unique"] += len(uniq)

print(f"sentences={n_sent} multi-entity={n_multi} fused_tokens={fused} "
      f"sents_with_pairs={sents_with_pairs}")
print("edge labels:", dict(edge_labels))
print("rule pair counts:", dict(rule_pairs))


def pass_ns(rule) -> int:
    # each call gets a fresh DepGraph: a reused one would carry its lazily
    # built adjacency and BFS memo from one timed pass into the next
    t0 = time.perf_counter_ns()
    for s, edges in parsed:
        g = DepGraph(edges)
        if rule is not None:
            rule(s, g)
    return time.perf_counter_ns() - t0


def best_ns(rule) -> int:
    return min(pass_ns(rule) for _ in range(5))


n_parsed = max(len(parsed), 1)
build_ns = best_ns(None)
print("rule us per multi-entity sentence (best of 5, DepGraph build "
      f"{build_ns / 1e3 / n_parsed:.2f} us excluded):",
      {k: round((best_ns(rule) - build_ns) / 1e3 / n_parsed, 2)
       for k, rule in RULES.items()})
print("unique contributions:", dict(overlap))
for k, (sent, pairs, blinded, pos, dom, edges) in sorted(examples.items()):
    print(f"\n--- {k}: {pairs}\n  sent: {sent}\n  blinded: {blinded}\n"
          f"  pos: {pos}\n  dom: {dom}\n  edges: {edges}")
