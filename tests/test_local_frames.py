"""Driver-sized frames stay on the driver.

The verdict check grid, the lineage rows CheckpointTable.mark appends and
the drift verdicts are built as Arrow local relations (LocalTableScan):
no Spark job and no Python worker, where createDataFrame(<python list>)
would plan an ExistingRDD scan over a parallelized Python RDD. The drift
parity cases pin the edge cases the old full-outer-join + grouped-map
plan handled implicitly, against _drift_one_source on hand-built pandas
frames.
"""

from __future__ import annotations

import math
import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from autoprepad_spark.operators.drift import (
    CHI2_ALPHA,
    PSI_FAIL,
    _DRIFT_SCHEMA,
    _drift_one_source,
    drift,
)
from autoprepad_spark.plans import verdicts as V
from autoprepad_spark.plans.checkpoint import CheckpointTable
from autoprepad_spark.schema import CHECKPOINT_SCHEMA
from autoprepad_spark.session import local_frame

_HIST = T.StructType([
    T.StructField("source", T.StringType()),
    T.StructField("bucket", T.IntegerType()),
    T.StructField("cnt", T.LongType()),
])


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_local(df) -> None:
    plan = _executed_plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def _jobs_in_group(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"local-frames-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count probe")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


# ---------------------------------------------------------------------------
# local_frame
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "schema,rows",
    [
        (CHECKPOINT_SCHEMA, []),
        (CHECKPOINT_SCHEMA, [("r", "p-000", "done", 10, 2, 0.5),
                             ("r", "p-001", "failed", None, None, None)]),
        (_DRIFT_SCHEMA, []),
        (_DRIFT_SCHEMA, [("web", 0.1, 2.5, 3, 0.4, 4, 100, 90),
                         ("code", math.inf, math.inf, 0, 0.0, 2, 50, 0)]),
    ],
)
def test_local_frame_round_trips_schema_and_rows(spark, schema, rows):
    df = local_frame(spark, rows, schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == rows
    _assert_local(df)


def test_local_frame_rejects_none_in_non_nullable_field(spark):
    with pytest.raises(ValueError, match="part"):
        local_frame(spark, [("r", None, "done", 1, 0, 0.0)], CHECKPOINT_SCHEMA)


# ---------------------------------------------------------------------------
# plans of the suite-tail frames
# ---------------------------------------------------------------------------


def test_assemble_verdicts_grid_is_a_local_relation(spark):
    rc_schema = T.StructType([
        T.StructField("part", T.StringType()),
        T.StructField("row_count", T.LongType()),
    ])
    viol_schema = T.StructType([
        T.StructField("part", T.StringType()),
        T.StructField("check_name", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("detail", T.StringType()),
    ])
    row_counts = local_frame(spark, [("p0", 10), ("p1", 20)], rc_schema)
    violations = local_frame(
        spark, [("p1", "null_doc_id", None, "7")], viol_schema
    )
    verdicts = V.assemble_verdicts(
        row_counts, violations, ["null_doc_id", "mad_ntok"]
    )
    _assert_local(verdicts)
    got = {(r["part"], r["check_name"]): (r["status"], r["violation_count"])
           for r in verdicts.collect()}
    assert got == {
        ("p0", "null_doc_id"): ("pass", 0),
        ("p0", "mad_ntok"): ("pass", 0),
        ("p1", "null_doc_id"): ("fail", 1),
        ("p1", "mad_ntok"): ("pass", 0),
    }


def test_checkpoint_mark_frame_is_a_local_relation(spark, tmp_path):
    ck = CheckpointTable(spark, str(tmp_path / "lineage"))
    parts = [("p0", 10, 1, 0.25), ("p1", 20, 0, 0.25)]
    frame = ck.frame("r1", parts)
    assert frame.schema == CHECKPOINT_SCHEMA
    _assert_local(frame)
    ck.mark("r1", parts)
    assert ck.completed_parts("r1") == ["p0", "p1"]


def test_completed_parts_on_missing_table_starts_no_job(spark, tmp_path):
    ck = CheckpointTable(spark, str(tmp_path / "lineage"))
    assert _jobs_in_group(spark, lambda: ck.completed_parts("r1")) == 0
    assert ck.completed_parts("r1") == []
    # positive control: the same probe does count the jobs of a table
    # that has files
    ck.mark("r1", [("p0", 1, 0, 0.0)])
    assert _jobs_in_group(spark, lambda: ck.completed_parts("r1")) > 0


def test_drift_output_is_a_local_relation(spark):
    # histograms from a real aggregation: the scoring plan must not carry
    # their shuffle, a join or a grouped-map Python stage
    hist = spark.range(0, 100).select(
        F.lit("web").alias("source"),
        (F.col("id") % 4).cast("int").alias("bucket"),
    ).groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    out = drift(hist, hist.filter(F.col("bucket") > 0))
    _assert_local(out)
    plan = _executed_plan(out)
    for node in ("Exchange", "Join", "FlatMapGroupsInPandas"):
        assert node not in plan, plan


# ---------------------------------------------------------------------------
# drift parity on the grouped map's implicit edge cases
# ---------------------------------------------------------------------------


def _expected(base: list, cur: list) -> list[tuple]:
    """_drift_one_source per source over a hand-built outer merge, plus
    the three verdict columns drift() derives."""
    b = pd.DataFrame(base, columns=["source", "bucket", "baseline_cnt"])
    c = pd.DataFrame(cur, columns=["source", "bucket", "current_cnt"])
    merged = b.merge(c, on=["source", "bucket"], how="outer")
    out = []
    for src in sorted(set(merged["source"])):
        g = merged[merged["source"] == src].sort_values("bucket")
        row = list(_drift_one_source(g).iloc[0])
        psi_fail = bool(row[1] > PSI_FAIL)
        chi2_fail = bool(row[4] < CHI2_ALPHA)
        status = "fail" if psi_fail or chi2_fail else "pass"
        out.append((*row, psi_fail, chi2_fail, status))
    return out


def _assert_rows_match(got: list[tuple], want: list[tuple]) -> None:
    assert [r[0] for r in got] == [r[0] for r in want]
    for g, w in zip(got, want):
        assert len(g) == len(w)
        for gv, wv in zip(g, w):
            if isinstance(wv, (float, np.floating)):
                assert gv == pytest.approx(float(wv), rel=1e-12, abs=0.0), (g, w)
            else:
                assert gv == wv, (g, w)


def test_drift_source_only_in_baseline_fails_with_infinite_psi(spark):
    base = [("books", 0, 40), ("books", 1, 60), ("web", 0, 30), ("web", 1, 70)]
    cur = [("web", 0, 35), ("web", 1, 65)]
    out = drift(local_frame(spark, base, _HIST), local_frame(spark, cur, _HIST))
    got = [tuple(r) for r in out.collect()]
    _assert_rows_match(got, _expected(base, cur))
    books = got[0]
    assert books[0] == "books"
    assert books[7] == 0  # current_n
    assert math.isinf(books[1]) and books[-1] == "fail"


def test_drift_bucket_on_one_side_only(spark):
    # bucket 3 only in the baseline, bucket 7 only in the current side
    base = [("web", 0, 50), ("web", 1, 30), ("web", 3, 20)]
    cur = [("web", 0, 45), ("web", 1, 35), ("web", 7, 25)]
    out = drift(local_frame(spark, base, _HIST), local_frame(spark, cur, _HIST))
    got = [tuple(r) for r in out.collect()]
    _assert_rows_match(got, _expected(base, cur))
    assert got[0][5] == 4  # n_buckets: the union of both sides


def test_drift_several_sources_in_deterministic_order(spark):
    rng = np.random.default_rng(7)
    base, cur = [], []
    for s in ("web", "code", "books", "arxiv"):
        for i in range(6):
            base.append((s, i, int(rng.integers(10, 200))))
            cur.append((s, i + (1 if s == "code" else 0),
                        int(rng.integers(10, 200))))
    # shuffle the input rows: the output order must not depend on them
    perm_b = rng.permutation(len(base))
    perm_c = rng.permutation(len(cur))
    b1 = local_frame(spark, base, _HIST)
    c1 = local_frame(spark, cur, _HIST)
    b2 = local_frame(spark, [base[i] for i in perm_b], _HIST)
    c2 = local_frame(spark, [cur[i] for i in perm_c], _HIST)
    got1 = [tuple(r) for r in drift(b1, c1).collect()]
    got2 = [tuple(r) for r in drift(b2, c2).collect()]
    _assert_rows_match(got1, _expected(base, cur))
    assert got1 == got2
    assert [r[0] for r in got1] == ["arxiv", "books", "code", "web"]


def test_drift_accepts_spark_planned_histograms(spark):
    """Histograms from a real aggregation (not local relations) score the
    same as their collected rows."""
    from autoprepad_spark.operators.drift import ntok_histogram

    df = spark.range(0, 600).select(
        F.when(F.col("id") % 3 == 0, "web").otherwise("code").alias("source"),
        (F.col("id") % 257).cast("int").alias("n_tok"),
    )
    base = ntok_histogram(df, bucket_width=32)
    cur = ntok_histogram(df.filter(F.col("id") % 5 != 0), bucket_width=32)
    got = [tuple(r) for r in drift(base, cur).collect()]
    _assert_rows_match(
        got,
        _expected([tuple(r) for r in base.collect()],
                  [tuple(r) for r in cur.collect()]),
    )
