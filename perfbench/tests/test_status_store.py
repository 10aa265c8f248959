"""Pins the per-op Spark counters the traced run reports, for one SQL op
and one ``mapInPandas`` op, and the self-time arithmetic of the spans.

Run from the repository root: ``python3 -m pytest perfbench/tests``.
"""

from __future__ import annotations

import pytest

from perfbench import env
from perfbench.status_store import FIELDS, StageCounters, job_group
from perfbench.tracing import Tracer, layer_self_s, self_times


@pytest.fixture(scope="module")
def spark():
    workdir = env.Workdir("tests", 0)
    session = env.Session(2)
    try:
        yield session.spark
    finally:
        session.close()
        workdir.close()


def _double(batches):
    for pdf in batches:
        yield pdf.assign(id=pdf["id"] * 2)


def test_counters_for_a_sql_op_and_a_pandas_op(spark):
    sc = spark.sparkContext
    with job_group(sc, "t-sql"):
        (spark.range(20000).selectExpr("id % 7 AS k").groupBy("k").count()
         .write.format("noop").mode("overwrite").save())
    with job_group(sc, "t-pandas"):
        (spark.range(1000).mapInPandas(_double, "id long")
         .write.format("noop").mode("overwrite").save())
    spark.range(10).count()                      # untagged: not attributed

    got = StageCounters(spark).by_group()

    assert set(got) == {"t-sql", "t-pandas"}
    for counters in got.values():
        assert set(counters) == set(FIELDS)
        assert counters["jobs"] >= 1
        assert counters["tasks"] >= counters["stages"] >= 1
        assert counters["failed_tasks"] == 0
        assert counters["task_s"] > 0 and counters["jvm_cpu_s"] > 0
    sql, pandas = got["t-sql"], got["t-pandas"]
    # the aggregation shuffles between its two stages; the map does not
    assert sql["stages"] >= 2
    assert sql["shuffle_write_bytes"] > 0 and sql["shuffle_read_bytes"] > 0
    assert pandas["stages"] == 1 and pandas["shuffle_write_bytes"] == 0
    # the Python worker's time is task time that the JVM CPU clock misses
    assert pandas["task_s"] > pandas["jvm_cpu_s"]


def test_job_group_is_cleared_on_exit(spark):
    sc = spark.sparkContext
    with job_group(sc, "t-inner"):
        assert sc.getLocalProperty("spark.jobGroup.id") == "t-inner"
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_self_time_subtracts_the_union_of_child_spans():
    spans = [
        {"id": 1, "parent": None, "layer": "http_server", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "layer": "catalog", "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "layer": "serving", "start": 3.0, "end": 6.0},
        {"id": 4, "parent": 3, "layer": "serving", "start": 5.0, "end": 12.0},
    ]
    st = self_times(spans)
    assert st == {1: 5.0, 2: 3.0, 3: 2.0, 4: 7.0}   # 4 is clipped to 3 only
    assert layer_self_s(spans) == {"http_server": 5.0, "catalog": 3.0,
                                   "serving": 9.0}


def test_wrapped_calls_nest_and_restore():
    class Api:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    tracer = Tracer()
    tracer.wrap(Api, "outer", "serving")
    tracer.wrap(Api, "inner", "catalog")
    with tracer.op("op-1"):
        assert Api().outer() == 2
    tracer.restore()
    assert Api().outer() == 2 and len(tracer.spans) == 2   # no new spans
    inner, outer = sorted(tracer.spans, key=lambda s: s["start"], reverse=True)
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert {inner["op"], outer["op"]} == {"op-1"}
