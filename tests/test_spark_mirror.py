"""The pure-Python aggregate mirrors (`functions/spark_mirror.py`) against
Spark's own aggregates: bit-identical results on float64 arrays with NaN,
signed zeros, nulls, infinities and sizes 0, 1 and 2.

Each Spark reference runs on one partition (`coalesce(1)`), so its rows
reach the aggregate in list order through one partial and one final
merge: the shape of a point read of a `timeseries` store, whose cell
lives in one file."""

from __future__ import annotations

import math
import struct

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from climate_data_pipeline_spark.functions import spark_mirror as sm

PS = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]


def bits(v):
    """A float's bit pattern (NaN canonical), so -0.0 != 0.0 compares."""
    if isinstance(v, float):
        return "nan" if v != v else struct.pack("<d", v).hex()
    if isinstance(v, list):
        return [bits(x) for x in v]
    if isinstance(v, dict):
        return {k: bits(x) for k, x in v.items()}
    return v


values = st.one_of(
    st.floats(allow_nan=True, allow_infinity=True),
    st.sampled_from([0.0, -0.0, math.nan, 1.0, -1.0]),
    st.none())


def spark_aggs(spark, ys, xs, ps):
    df = spark.createDataFrame(list(zip(ys, xs)), "y double, x double")
    r = df.coalesce(1).agg(
        F.avg("y").alias("avg"),
        F.stddev_pop("y").alias("stddev_pop"),
        F.var_pop("y").alias("var_pop"),
        F.percentile("y", F.array(*[F.lit(p) for p in ps])).alias("pct"),
        F.regr_slope("y", "x").alias("slope")).first()
    return r.asDict()


def mirror_aggs(ys, xs, ps):
    return {"avg": sm.avg(ys), "stddev_pop": sm.stddev_pop(ys),
            "var_pop": sm.var_pop(ys), "pct": sm.percentile(ys, ps),
            "slope": sm.regr_slope(ys, xs)}


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pairs=st.lists(st.tuples(values, values), max_size=40),
       p=st.floats(min_value=0.0, max_value=1.0))
@example(pairs=[], p=0.5)
@example(pairs=[(1.5, 2.0)], p=0.5)
@example(pairs=[(0.0, 1.0), (-0.0, 2.0)], p=0.5)
@example(pairs=[(-0.0, 1.0), (0.0, 2.0), (0.0, 3.0)], p=0.0)
@example(pairs=[(math.nan, 1.0), (2.0, None)], p=1.0)
@example(pairs=[(None, 1.0), (None, 2.0)], p=0.5)
def test_mirrors_match_spark_aggregates(spark, pairs, p):
    ys = [y for y, _ in pairs]
    xs = [x for _, x in pairs]
    ps = PS + [p]
    assert bits(mirror_aggs(ys, xs, ps)) == bits(spark_aggs(spark, ys, xs, ps))


def test_percentile_signed_zero_order_matches_spark(spark):
    """Both zeros in one group and the median landing on the first zero
    key, at group sizes that grow Spark's count map from 64 to 1,024
    slots, for DOUBLE and FLOAT columns: the slot order of the two zero
    keys decides the sign of the answer (-0.0 first up to 512 slots
    barring collisions, 0.0 first at 1,024). One grouped job, as the
    percentiles route groups by month."""
    import random

    rng = random.Random(5)
    cases = []
    for n_neg in [1, 2, 5, 21, 22, 30, 44, 45, 60, 88, 100, 180, 200, 260] * 3:
        z = rng.randint(2, min(6, n_neg + 1))
        n_pos = n_neg + 1 - z
        vals = ([-float(rng.randint(1, 10**6)) / 8 for _ in range(n_neg)]
                + [float(rng.randint(1, 10**6)) / 8 for _ in range(n_pos)])
        zeros = [0.0, -0.0] + [rng.choice([0.0, -0.0]) for _ in range(z - 2)]
        vals += zeros
        rng.shuffle(vals)
        cases.append(vals)
    rows = [(g, v) for g, vals in enumerate(cases) for v in vals]
    for dtype, f32 in (("double", False), ("float", True)):
        df = spark.createDataFrame(rows, f"g int, v {dtype}").coalesce(1)
        want = {r["g"]: r["p"] for r in df.groupBy("g").agg(
            F.percentile("v", F.array(F.lit(0.5))).alias("p")).collect()}
        got = {g: sm.percentile(vals, [0.5], float32=f32)
               for g, vals in enumerate(cases)}
        assert all(v[0] == 0.0 for v in want.values())
        assert bits(got) == bits(want), dtype


@pytest.mark.parametrize("z", [1.959963984540054, 1.6448536269514722,
                               2.5758293035489004, 1.2815515655446004,
                               2.17009037758456])
def test_t_crit_and_std_err_match_trend_with_confidence(spark, z):
    """`t_crit`/`trend_std_err` against the column expressions of
    `trend_with_confidence`, with z**3 and z**5 from `StrictMath.pow`."""
    pw = spark.sparkContext._jvm.java.lang.StrictMath.pow
    n = 37
    vy, vx, slope = 3.25, 0.0123, 11.5
    row = spark.range(1).select(
        *[F.lit(v).alias(k) for k, v in
          (("vy", vy), ("vx", vx), ("slope", slope), ("n", n))]) \
        .selectExpr("*", "n - 2 as nu")
    z_ = F.lit(z)
    nu = F.col("nu")
    r = row.select(
        (z_ + (z_ ** 3 + z_) / (4 * nu)
         + (5 * z_ ** 5 + 16 * z_ ** 3 + 3 * z_) / (96 * nu ** 2))
        .alias("t"),
        F.sqrt((F.col("vy") / F.col("vx") - F.col("slope") ** 2) / nu)
        .alias("se")).first()
    assert bits(sm.t_crit(z, pw(z, 3.0), pw(z, 5.0), n)) == bits(r["t"])
    assert bits(sm.trend_std_err(vy, vx, slope, n)) == bits(r["se"])
