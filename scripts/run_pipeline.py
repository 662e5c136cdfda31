#!/usr/bin/env python
"""End-to-end KG build with checkpoint/resume — the spark-submit entrypoint.

    scripts/package_and_submit.sh scripts/run_pipeline.py
    # or directly:
    python scripts/run_pipeline.py [sf_dir] [checkpoint_root]

Runs the full DAG (transcripts -> annotations -> triples -> discourse ->
HOR edges -> canonical map -> nodes/edges, plus lll_triples off the
transcripts), checkpointing every stage with per-partition lineage.
Independent stages run concurrently: lll_triples overlaps annotations, and
triples, discourse and the canonical map overlap each other. Re-running
resumes: complete stages are skipped and outputs are byte-identical
(tests/test_checkpoint_resume.py proves the mechanism; this script is the
operational wrapper).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                os.pardir))

from nlp_lib_spark.operators.lll import lll_config
from nlp_lib_spark.lexicons import TESTDATA_CONFIG, TESTDATA_ENTITIES
from nlp_lib_spark.plans.checkpoint import CheckpointedPipeline, full_kg_stages
from nlp_lib_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    root = sys.argv[2] if len(sys.argv) > 2 else "/tmp/kg_pipeline_ckpt"
    spark = get_spark(app="kg-pipeline")
    t0 = time.time()
    pipe = CheckpointedPipeline(
        spark, root, full_kg_stages(sf_dir, TESTDATA_CONFIG,
                                    TESTDATA_ENTITIES,
                                    lll_config=lll_config()))
    pipe.run()
    summary = {
        "sf_dir": sf_dir,
        "checkpoint_root": root,
        "wall_sec": round(time.time() - t0, 2),
        "stages_computed": {k: v for k, v in pipe.computed.items()},
        "rows": {stage.name: pipe.marker(stage.name)["rows"]
                 for stage in pipe.stages},
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
