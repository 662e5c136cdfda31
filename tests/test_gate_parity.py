"""Replicates the driver's Spark-vs-DuckDB gate locally at sf0.001."""

from __future__ import annotations

import os
import re

import pytest

from nlp_lib_spark.gate import ORACLES, QUERIES
from nlp_lib_spark.paritycheck import compare_query

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(not os.path.isdir(SF_DIR),
                                reason="testdata not present")


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracled_query_parity(spark, name):
    res = compare_query(spark, SF_DIR, name)
    assert res["status"] == "ok", res


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_query_runs(spark, name):
    res = compare_query(spark, SF_DIR, name)
    assert res["status"] == "rows_only" and res["spark_rows"] >= 0, res


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_query_deterministic_and_nonempty(spark, name):
    """Rows-only queries must be non-trivial on the gate corpus and
    byte-deterministic across runs (the driver's weaker check plus the
    determinism invariant the value-hash gives oracled queries)."""
    from nlp_lib_spark.paritycheck import frame_hash
    df1 = QUERIES[name](spark, SF_DIR).toPandas()
    df2 = QUERIES[name](spark, SF_DIR).toPandas()
    assert len(df1) > 0, f"{name} returned no rows on the gate corpus"
    assert frame_hash(df1) == frame_hash(df2)


def test_zero_vector_embedding_does_not_crash_ann(spark):
    """An all-zero embedding has undefined cosine; under Spark 4's
    default ANSI mode an unguarded division raises DIVIDE_BY_ZERO and
    kills the job (review finding). The nullif guard must instead
    exclude the degenerate vector from similarity results."""
    import pandas as pd
    from nlp_lib_spark.operators.dedup import (ann_topk_bruteforce,
                                               embedding_neardup_pairs)
    rows = [(0, [1.0, 2.0]), (1, [0.0, 0.0]), (2, [2.0, 4.0]),
            (3, [1.0, 0.0])]
    df = spark.createDataFrame(pd.DataFrame(
        {"vec_id": [r[0] for r in rows],
         "embedding": [r[1] for r in rows]}))
    near = embedding_neardup_pairs(df, threshold=0.9, max_id=None).toPandas()
    assert set(zip(near.vec_a, near.vec_b)) == {(0, 2)}  # zero vec absent
    topk = ann_topk_bruteforce(df, k=3, query_max_id=1).toPandas()
    assert 1 not in set(topk.neighbor_id)  # undefined sim never ranks
    assert len(topk) == 2  # the two real neighbors


def test_kmeans_ivf_releases_checkpoint_blocks(spark):
    import pandas as pd
    from nlp_lib_spark.operators.canonicalize import _persistent_ids
    from nlp_lib_spark.operators.dedup import ann_topk_kmeans_ivf
    df = spark.createDataFrame(pd.DataFrame(
        {"vec_id": list(range(40)),
         "embedding": [[float(i % 5), float(i % 7), float(i % 3)]
                       for i in range(40)]}))
    sc = spark.sparkContext
    before = _persistent_ids(sc)
    out = ann_topk_kmeans_ivf(df, query_max_id=4)
    assert out.count() > 0
    leaked = _persistent_ids(sc) - before
    assert len(leaked) <= 1, leaked  # only the small materialized result


def test_float_int_dtype_divergence_fails_replica():
    """VERDICT r3 item 2: the replica must be at least as dtype-strict as
    the driver. A DuckDB HUGEINT sum renders through pandas as float64
    ("123.0") while Spark's BIGINT renders "123" — round 3's %.6g
    normalization collapsed both to "123" and masked two driver FAILs.
    int64 123 and float64 123.0 must now hash differently."""
    import pandas as pd

    from nlp_lib_spark.paritycheck import frame_hash
    int_frame = pd.DataFrame({"x": pd.Series([123, 7], dtype="int64")})
    float_frame = pd.DataFrame({"x": pd.Series([123.0, 7.0],
                                               dtype="float64")})
    assert frame_hash(int_frame) != frame_hash(float_frame)
    # equal-typed frames still match (the marker is deterministic)
    assert frame_hash(float_frame) == frame_hash(float_frame.copy())


def test_duckdb_hugeint_sum_vs_spark_bigint_fails_replica(spark, tmp_path):
    """End-to-end form of the same regression: an uncast ``sum(int)``
    oracle (HUGEINT -> float64) against a Spark BIGINT sum must FAIL
    compare_query, and the dtype_drift audit must name the column."""
    import pandas as pd

    from nlp_lib_spark.gate import ORACLES, QUERIES, TABLES
    from nlp_lib_spark.paritycheck import compare_query

    for t in TABLES:  # duck_connection builds a view per table name
        pd.DataFrame({"v": [1, 2, 3]}).to_parquet(tmp_path / f"{t}.parquet")
    name = "__dtype_guard__"

    def q(spark, sf_dir):
        df = spark.read.parquet(f"{sf_dir}/region.parquet")
        df.createOrReplaceTempView("dtype_guard_t")
        return spark.sql("SELECT sum(v) AS s FROM dtype_guard_t")

    QUERIES[name] = q
    ORACLES[name] = "SELECT sum(v) AS s FROM region"
    try:
        res = compare_query(spark, str(tmp_path), name)
        assert res["status"] == "MISMATCH", res
        assert res["dtype_drift"] == ["s"], res
        # ...and the BIGINT cast that fixed pr_eval/kg_tree_scores heals it
        ORACLES[name] = "SELECT CAST(sum(v) AS BIGINT) AS s FROM region"
        res2 = compare_query(spark, str(tmp_path), name)
        assert res2["status"] == "ok", res2
    finally:
        del QUERIES[name], ORACLES[name]


def test_cap_coverage_check_fires_on_uncovered_gate():
    """The driver certifies only the first 50 registry entries; the
    round-3 verdict found 22 gates silently rotated past that cap. The
    check must FAIL loudly for a beyond-cap gate with no composite
    coverage and pass once a composite covers it."""
    import pytest

    from nlp_lib_spark.gate import (_GATE_ORDER, COMPOSITE_MEMBERS,
                                    DRIVER_CERTIFIED, QUERIES,
                                    check_cap_coverage)
    order = [f"g{i}" for i in range(6)]
    members = {"g0": ("g3", "g4")}
    # ValueError, not AssertionError: the check must survive python -O
    with pytest.raises(ValueError, match="g5"):
        check_cap_coverage(order, members, cap=3)       # g5 uncovered
    check_cap_coverage(order, {"g0": ("g3", "g4", "g5")}, cap=3)
    with pytest.raises(ValueError, match="duplicate"):
        check_cap_coverage(["a", "a"], {}, cap=1)
    # coverage of a member through a composite that is ITSELF beyond the
    # cap must not count
    with pytest.raises(ValueError, match="g5"):
        check_cap_coverage(order, {"g4": ("g5",)}, cap=3)
    # and the real registry passes at the real cap, with the real members
    check_cap_coverage(list(QUERIES), COMPOSITE_MEMBERS)
    assert len(DRIVER_CERTIFIED) == 50
    # _apply_gate_order silently skips unregistered _GATE_ORDER names, so
    # a deleted gate could leave a stale layout entry: none may exist, and
    # every composite member must be a registered gate
    assert [n for n in _GATE_ORDER if n not in QUERIES] == []
    assert [m for ms in COMPOSITE_MEMBERS.values() for m in ms
            if m not in QUERIES] == []


def test_kg_link_tfidf_plans_one_best_candidate_window(spark):
    """One left join resolves the exact/unmatched split and another the
    tfidf3/unlinked rows, so the gate's optimized plan holds the
    best-candidate row_number window exactly once."""
    df = QUERIES["kg_link_tfidf"](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"\bWindow \[row_number\(\)", plan)) == 1, plan
