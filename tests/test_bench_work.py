"""bench.py's per-entry work recorder against a live SparkSession: each
entry runs under its own job group, and the stage row it records holds
that group's stages only."""
from __future__ import annotations

import importlib.util
import os
import sys

import pytest

_BENCH_PATH = os.path.join(os.path.dirname(__file__), "..", "bench.py")


@pytest.fixture(scope="module")
def bench_mod():
    spec = importlib.util.spec_from_file_location("bench_work_under_test", _BENCH_PATH)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_work_under_test"] = mod
    spec.loader.exec_module(mod)
    yield mod
    sys.modules.pop("bench_work_under_test", None)


def test_entry_records_its_own_job_group(bench_mod, spark):
    rec = bench_mod.PassRecorder(spark, 7)
    df = spark.range(20_000).selectExpr("id % 13 AS k", "id AS v")
    with rec.timed("group_collect"):
        assert len(df.groupBy("k").count().collect()) == 13
    with rec.timed("pure_python"):
        sum(range(10_000))

    spark_row = rec.work["group_collect"]
    assert spark_row["stages"] >= 1
    assert spark_row["tasks"] >= 1
    assert spark_row["executor_cpu_s"] >= 0
    assert spark_row["wall_s"] == rec.timings["group_collect"]
    assert spark_row["driver_cpu_s"] >= 0 and spark_row["jvm_cpu_s"] >= 0
    # the next entry's group sees none of the previous group's stages
    py_row = rec.work["pure_python"]
    assert py_row["stages"] == 0 and py_row["tasks"] == 0
    assert py_row["executor_cpu_s"] == 0
    # every stage field plus the two CPU fields, on both rows
    assert set(spark_row) == set(py_row) == (
        set(bench_mod.empty_stage_row()) | {"driver_cpu_s", "jvm_cpu_s"}
    )
    # the group is cleared on exit, so untimed jobs after the entry
    # never land in it
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    spark.range(10).count()
    assert spark.sparkContext.statusTracker().getJobIdsForGroup(
        "p7:pure_python"
    ) == []


def test_entry_clears_its_group_when_the_body_raises(bench_mod, spark):
    rec = bench_mod.PassRecorder(spark, 8)
    with pytest.raises(ZeroDivisionError):
        with rec.timed("boom"):
            1 / 0
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    assert rec.work["boom"]["stages"] == 0
