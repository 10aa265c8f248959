"""Trend queries (A8-A10). Slopes are in units per fractional year with the
reference's 365.25-day-year constant — mirrored verbatim in the oracle SQL
(SURVEY.md §7.4 calendar-math risk)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import temporal as T
from ..functions import scalars as SC
from ..operators import trends as TR
from ..registry import query
from ..sources.io import load_table

# fractional years since 1995-01-01 — identical expression both engines
_TYR_SQL = "(epoch(l_shipdate) - epoch(TIMESTAMP '1995-01-01')) / (365.25 * 86400)"


@query("a8_linear_trend", oracle=f"""
SELECT l_returnflag, l_linestatus,
       round(regr_slope(l_quantity, {_TYR_SQL}), 8) AS slope,
       round(regr_intercept(l_quantity, {_TYR_SQL}), 6) AS intercept,
       count(l_quantity) AS n
FROM lineitem
GROUP BY 1, 2
""")
def linear_trend_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — per-series OLS slope via regr_slope (reference polyfit,
    `metrics/trends.py:12-65`): single-pass co-moment aggregation, no sort,
    no UDF."""
    li = load_table(spark, sf_dir, "lineitem")
    out = TR.linear_trend(li, "l_shipdate", "l_quantity",
                          keys=["l_returnflag", "l_linestatus"], t0="1995-01-01")
    return out.select("l_returnflag", "l_linestatus",
                      F.round("slope", 8).alias("slope"),
                      F.round("intercept", 6).alias("intercept"), "n")


@query("a10_trend_confidence", oracle=f"""
WITH g AS (
  SELECT l_returnflag, l_linestatus,
         regr_slope(l_quantity, {_TYR_SQL}) AS slope,
         var_pop(l_quantity) AS vy,
         var_pop({_TYR_SQL}) AS vx,
         count(l_quantity) AS n
  FROM lineitem GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus,
       round(slope, 8) AS slope,
       round(sqrt((vy / vx - slope * slope) / (n - 2)), 8) AS std_err,
       round((1.959963984540054
              + (pow(1.959963984540054, 3) + 1.959963984540054) / (4 * (n - 2))
              + (5 * pow(1.959963984540054, 5) + 16 * pow(1.959963984540054, 3)
                 + 3 * 1.959963984540054) / (96 * (n - 2) * (n - 2)))
             * sqrt((vy / vx - slope * slope) / (n - 2)), 8) AS margin,
       n
FROM g
""")
def trend_confidence_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — slope ± 95% margin (reference scipy.linregress CI,
    `metrics/trends.py:170-244`); closed-form residual stderr + Cornish-
    Fisher t-critical, all built-in aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    out = TR.trend_with_confidence(li, "l_shipdate", "l_quantity",
                                   keys=["l_returnflag", "l_linestatus"],
                                   t0="1995-01-01", confidence=0.95)
    return out.select("l_returnflag", "l_linestatus",
                      F.round("slope", 8).alias("slope"),
                      F.round("std_err", 8).alias("std_err"),
                      F.round("margin", 8).alias("margin"), "n")


_MK_FULL_ORACLE_TMPL = """
WITH m AS (
  SELECT l_returnflag, l_linestatus,
         date_trunc('month', l_shipdate) AS mo,
         AVG(l_quantity) AS v
  FROM lineitem GROUP BY 1, 2, 3
),
pairs AS (
  SELECT a.l_returnflag, a.l_linestatus,
         CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS sgn,
         (b.v - a.v) / ((epoch(b.mo) - epoch(a.mo)) / (365.25 * 86400))
           AS slope
  FROM m a JOIN m b
    ON a.l_returnflag = b.l_returnflag AND a.l_linestatus = b.l_linestatus
   AND a.mo < b.mo
),
s AS (
  SELECT l_returnflag, l_linestatus,
         CAST(SUM(sgn) AS DOUBLE) AS s_stat,
         round(quantile_cont(slope, 0.5), 8) AS sen_slope
  FROM pairs GROUP BY 1, 2
),
ties AS (
  SELECT l_returnflag, l_linestatus, count(*) AS t
  FROM m GROUP BY l_returnflag, l_linestatus, v HAVING count(*) > 1
),
vars AS (
  SELECT m.l_returnflag, m.l_linestatus, count(*) AS n,
         (count(*) * (count(*) - 1) * (2 * count(*) + 5)
          - COALESCE((SELECT SUM(t * (t - 1) * (2 * t + 5)) FROM ties
                      WHERE ties.l_returnflag = m.l_returnflag
                        AND ties.l_linestatus = m.l_linestatus), 0)) / 18.0
         AS var_s
  FROM m GROUP BY 1, 2
),
z AS (
  SELECT s.l_returnflag, s.l_linestatus, s.s_stat, s.sen_slope,
         vars.var_s, vars.n,
         CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1) / sqrt(vars.var_s)
              WHEN s.s_stat < 0 THEN (s.s_stat + 1) / sqrt(vars.var_s)
              ELSE 0.0 END AS z
  FROM s JOIN vars USING (l_returnflag, l_linestatus)
)
SELECT l_returnflag, l_linestatus, s_stat, var_s, sen_slope, n,
       round(z, 6) AS z,
       round({p_expr}, 6) AS p_value,
       (round({p_expr}, 6) < 0.05) AS significant
FROM z
"""


@query("a9_mann_kendall",
       oracle=_MK_FULL_ORACLE_TMPL.format(
           p_expr=SC.sql_normal_sf_two_sided("z")))
def mann_kendall_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — Mann-Kendall + Sen's slope per series over *monthly-aggregated*
    values (reference `metrics/trends.py:68-167` runs per grid cell on the
    time series, not raw observations — aggregate first, then the O(n²)
    kernel sees ~80 points/series). Every output is value-checked: the
    oracle re-derives S, tie-corrected Var(S), Sen's slope, the
    continuity-corrected Z, and the shared-polynomial p — the full
    combination of the a9_mk_* component oracles."""
    li = load_table(spark, sf_dir, "lineitem")
    monthly = T.monthly_mean(li, "l_shipdate", "l_quantity",
                             keys=["l_returnflag", "l_linestatus"],
                             alias="avg_qty")
    out = TR.mann_kendall(monthly, "month_start", "avg_qty",
                          keys=["l_returnflag", "l_linestatus"], alpha=0.05)
    p_approx = F.round(SC.normal_sf_two_sided(F.col("z")), 6)
    return out.select("l_returnflag", "l_linestatus", "s_stat", "var_s",
                      F.round("sen_slope", 8).alias("sen_slope"), "n",
                      F.round("z", 6).alias("z"),
                      p_approx.alias("p_value"),
                      (p_approx < 0.05).alias("significant"))


# Mann-Kendall core statistics ARE SQL-expressible on the aggregated
# series (pairwise self-join); only the z→p step needs erfc, which SQL
# lacks. This companion query oracle-checks S, Var(S) and Sen's slope,
# upgrading A9 from a rows-only to a value-checked operator.
@query("a9_mk_s_stat", oracle="""
WITH m AS (
  SELECT l_returnflag, l_linestatus,
         date_trunc('month', l_shipdate) AS mo,
         AVG(l_quantity) AS v
  FROM lineitem GROUP BY 1, 2, 3
),
pairs AS (
  SELECT a.l_returnflag, a.l_linestatus,
         CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS sgn,
         (b.v - a.v) / ((epoch(b.mo) - epoch(a.mo)) / (365.25 * 86400)) AS slope
  FROM m a JOIN m b
    ON a.l_returnflag = b.l_returnflag AND a.l_linestatus = b.l_linestatus
   AND a.mo < b.mo
),
s AS (
  SELECT l_returnflag, l_linestatus,
         CAST(SUM(sgn) AS DOUBLE) AS s_stat,
         round(quantile_cont(slope, 0.5), 8) AS sen_slope
  FROM pairs GROUP BY 1, 2
),
ties AS (
  SELECT l_returnflag, l_linestatus, count(*) AS t
  FROM m GROUP BY l_returnflag, l_linestatus, v HAVING count(*) > 1
),
vars AS (
  SELECT m.l_returnflag, m.l_linestatus, count(*) AS n,
         (count(*) * (count(*) - 1) * (2 * count(*) + 5)
          - COALESCE((SELECT SUM(t * (t - 1) * (2 * t + 5)) FROM ties
                      WHERE ties.l_returnflag = m.l_returnflag
                        AND ties.l_linestatus = m.l_linestatus), 0)) / 18.0
         AS var_s
  FROM m GROUP BY 1, 2
)
SELECT s.l_returnflag, s.l_linestatus, s.s_stat, vars.var_s,
       s.sen_slope, vars.n
FROM s JOIN vars USING (l_returnflag, l_linestatus)
""")
def mk_s_stat_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (oracle-checked core): the same applyInPandas kernel as
    a9_mann_kendall, projected to its SQL-expressible outputs — S
    (exact integer-valued), tie-corrected Var(S) (exact rational), and
    Sen's slope (median of pairwise slopes, rounded to absorb the
    ns-vs-s epoch-arithmetic ulp)."""
    li = load_table(spark, sf_dir, "lineitem")
    monthly = T.monthly_mean(li, "l_shipdate", "l_quantity",
                             keys=["l_returnflag", "l_linestatus"],
                             alias="avg_qty")
    out = TR.mann_kendall(monthly, "month_start", "avg_qty",
                          keys=["l_returnflag", "l_linestatus"])
    return out.select("l_returnflag", "l_linestatus", "s_stat", "var_s",
                      F.round("sen_slope", 8).alias("sen_slope"), "n")


@query("a9_mk_z_p", oracle=f"""
WITH m AS (
  SELECT l_returnflag, l_linestatus,
         date_trunc('month', l_shipdate) AS mo,
         AVG(l_quantity) AS v
  FROM lineitem GROUP BY 1, 2, 3
),
pairs AS (
  SELECT a.l_returnflag, a.l_linestatus,
         CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS sgn
  FROM m a JOIN m b
    ON a.l_returnflag = b.l_returnflag AND a.l_linestatus = b.l_linestatus
   AND a.mo < b.mo
),
s AS (
  SELECT l_returnflag, l_linestatus, CAST(SUM(sgn) AS DOUBLE) AS s_stat
  FROM pairs GROUP BY 1, 2
),
ties AS (
  SELECT l_returnflag, l_linestatus, count(*) AS t
  FROM m GROUP BY l_returnflag, l_linestatus, v HAVING count(*) > 1
),
vars AS (
  SELECT m.l_returnflag, m.l_linestatus,
         (count(*) * (count(*) - 1) * (2 * count(*) + 5)
          - COALESCE((SELECT SUM(t * (t - 1) * (2 * t + 5)) FROM ties
                      WHERE ties.l_returnflag = m.l_returnflag
                        AND ties.l_linestatus = m.l_linestatus), 0)) / 18.0
         AS var_s
  FROM m GROUP BY 1, 2
),
z AS (
  SELECT s.l_returnflag, s.l_linestatus,
         CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1) / sqrt(vars.var_s)
              WHEN s.s_stat < 0 THEN (s.s_stat + 1) / sqrt(vars.var_s)
              ELSE 0.0 END AS z
  FROM s JOIN vars USING (l_returnflag, l_linestatus)
)
SELECT l_returnflag, l_linestatus, round(z, 6) AS z,
       round({SC.sql_normal_sf_two_sided('z')}, 6) AS p_value,
       (round({SC.sql_normal_sf_two_sided('z')}, 6) < 0.05) AS significant
FROM z
""")
def mk_z_p_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (z and p oracle-checked): the kernel's continuity-corrected Z is
    compared directly (exact given S and Var(S)); the z→p step runs the
    identical A&S 7.1.26 erfc polynomial in both engines (math.erfc and
    any SQL rebuild differ in final ulps; the shared closed form is
    reproducible everywhere — a unit test pins it within 1.5e-7 of
    math.erfc). With this, every Mann-Kendall output is value-checked."""
    li = load_table(spark, sf_dir, "lineitem")
    monthly = T.monthly_mean(li, "l_shipdate", "l_quantity",
                             keys=["l_returnflag", "l_linestatus"],
                             alias="avg_qty")
    out = TR.mann_kendall(monthly, "month_start", "avg_qty",
                          keys=["l_returnflag", "l_linestatus"])
    p_approx = F.round(SC.normal_sf_two_sided(F.col("z")), 6)
    return out.select("l_returnflag", "l_linestatus",
                      F.round("z", 6).alias("z"),
                      p_approx.alias("p_value"),
                      (p_approx < 0.05).alias("significant"))


@query("a9_seasonal_mann_kendall",
       oracle=f"""
WITH m AS (
  SELECT l_returnflag, CAST(month(l_shipdate) AS INTEGER) AS mon,
         date_trunc('month', l_shipdate) AS mo,
         round(SUM(CAST(round(l_quantity * 1000000) AS BIGINT)) / 1000000.0
               / count(*), 6) AS v
  FROM lineitem GROUP BY 1, 2, 3
),
pairs AS (
  SELECT a.l_returnflag, a.mon,
         CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS sgn
  FROM m a JOIN m b
    ON a.l_returnflag = b.l_returnflag AND a.mon = b.mon AND a.mo < b.mo
),
s_by_season AS (
  SELECT l_returnflag, mon, CAST(SUM(sgn) AS DOUBLE) AS s_m
  FROM pairs GROUP BY 1, 2
),
ties AS (
  SELECT l_returnflag, mon, count(*) AS t
  FROM m GROUP BY l_returnflag, mon, v HAVING count(*) > 1
),
var_by_season AS (
  SELECT m.l_returnflag, m.mon,
         (count(*) * (count(*) - 1) * (2 * count(*) + 5)
          - COALESCE((SELECT SUM(t * (t - 1) * (2 * t + 5)) FROM ties
                      WHERE ties.l_returnflag = m.l_returnflag
                        AND ties.mon = m.mon), 0)) / 18.0 AS var_m
  FROM m GROUP BY 1, 2
),
tot AS (
  SELECT s.l_returnflag,
         SUM(s.s_m) AS s_total, SUM(v.var_m) AS var_total,
         CAST(count(*) AS BIGINT) AS n_seasons
  FROM s_by_season s
  JOIN var_by_season v USING (l_returnflag, mon)
  GROUP BY 1
),
z AS (
  SELECT l_returnflag, s_total, var_total, n_seasons,
         CASE WHEN s_total > 0 THEN (s_total - 1) / sqrt(var_total)
              WHEN s_total < 0 THEN (s_total + 1) / sqrt(var_total)
              ELSE 0.0 END AS z
  FROM tot
)
SELECT l_returnflag, s_total, round(var_total, 6) AS var_total,
       n_seasons, round(z, 6) AS z,
       round({SC.sql_normal_sf_two_sided('z')}, 6) AS p_value,
       (round({SC.sql_normal_sf_two_sided('z')}, 6) < 0.05) AS significant
FROM z
""")
def seasonal_mann_kendall_lineitem(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall (Hirsch-Slack): the MK S statistic and
    variance are computed WITHIN each calendar month (so the annual
    cycle can't masquerade as trend — the hydrology-standard variant)
    and summed across seasons before the Z/p step. Pure SQL end-to-end:
    the per-season pairwise sums are bounded (n_years² per season), and
    the same pairwise-join + tie-correction machinery as a9 applies
    per (series, month)."""
    li = load_table(spark, sf_dir, "lineitem")
    # exact micro-unit digest: a raw float AVG here is partition-order
    # sensitive, and a single-ulp shift can flip a pairwise sign
    m = (li.groupBy("l_returnflag",
                    F.month("l_shipdate").cast("int").alias("mon"),
                    F.date_trunc("month", "l_shipdate").alias("mo"))
           .agg(F.round(
               F.sum(F.round(F.col("l_quantity") * 1e6).cast("long")) / 1e6
               / F.count(F.lit(1)), 6).alias("v")))
    a, b = m.alias("a"), m.alias("b")
    pairs = (a.join(b, (F.col("a.l_returnflag") == F.col("b.l_returnflag"))
                    & (F.col("a.mon") == F.col("b.mon"))
                    & (F.col("a.mo") < F.col("b.mo")))
             .select(F.col("a.l_returnflag").alias("l_returnflag"),
                     F.col("a.mon").alias("mon"),
                     F.when(F.col("b.v") > F.col("a.v"), 1)
                      .when(F.col("b.v") < F.col("a.v"), -1)
                      .otherwise(0).alias("sgn")))
    s_season = (pairs.groupBy("l_returnflag", "mon")
                .agg(F.sum("sgn").cast("double").alias("s_m")))
    nm = m.groupBy("l_returnflag", "mon").agg(F.count("*").alias("nn"))
    tie = (m.groupBy("l_returnflag", "mon", "v")
            .agg(F.count("*").alias("t")).where(F.col("t") > 1)
            .groupBy("l_returnflag", "mon")
            .agg(F.sum(F.col("t") * (F.col("t") - 1)
                       * (2 * F.col("t") + 5)).alias("tsum")))
    var_season = (nm.join(tie, ["l_returnflag", "mon"], "left")
                  .select("l_returnflag", "mon",
                          ((F.col("nn") * (F.col("nn") - 1)
                            * (2 * F.col("nn") + 5)
                            - F.coalesce("tsum", F.lit(0))) / 18.0)
                          .alias("var_m")))
    tot = (s_season.join(var_season, ["l_returnflag", "mon"])
           .groupBy("l_returnflag")
           .agg(F.sum("s_m").alias("s_total"),
                F.sum("var_m").alias("var_total"),
                F.count(F.lit(1)).alias("n_seasons")))
    z = (F.when(F.col("s_total") > 0,
                (F.col("s_total") - 1) / F.sqrt("var_total"))
          .when(F.col("s_total") < 0,
                (F.col("s_total") + 1) / F.sqrt("var_total"))
          .otherwise(0.0))
    out = tot.withColumn("z_raw", z)
    p = F.round(SC.normal_sf_two_sided(F.col("z_raw")), 6)
    # var_total sums 12 inexact rationals (…/18) — round against
    # partition-order ulps; z/p round at 6 and absorb the same ulps
    return out.select("l_returnflag", "s_total",
                      F.round("var_total", 6).alias("var_total"),
                      "n_seasons",
                      F.round("z_raw", 6).alias("z"),
                      p.alias("p_value"), (p < 0.05).alias("significant"))


@query("trend_field_significance", oracle=f"""
WITH days AS (
  SELECT user_id, date_trunc('day', ts) AS d,
         round(SUM(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0
               / count(*), 6) AS v
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.user_id,
         CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS sgn
  FROM days a JOIN days b ON a.user_id = b.user_id AND a.d < b.d
),
s AS (SELECT user_id, CAST(SUM(sgn) AS DOUBLE) AS s_stat
      FROM pairs GROUP BY 1),
ties AS (SELECT user_id, count(*) AS t FROM days
         GROUP BY user_id, v HAVING count(*) > 1),
vars AS (
  SELECT d.user_id, count(*) AS n,
         (count(*) * (count(*) - 1) * (2 * count(*) + 5)
          - COALESCE((SELECT SUM(t * (t - 1) * (2 * t + 5)) FROM ties
                      WHERE ties.user_id = d.user_id), 0)) / 18.0 AS var_s
  FROM days d GROUP BY 1
),
p AS (
  SELECT s.user_id,
         round({{p_expr}}, 6) AS p_value
  FROM (SELECT s.user_id, s.s_stat, vars.var_s,
               CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1) / sqrt(vars.var_s)
                    WHEN s.s_stat < 0 THEN (s.s_stat + 1) / sqrt(vars.var_s)
                    ELSE 0.0 END AS z
        FROM s JOIN vars USING (user_id)) s
),
ranked AS (
  SELECT user_id, p_value,
         row_number() OVER (ORDER BY p_value ASC, user_id ASC) AS rk,
         count(*) OVER () AS m
  FROM p
),
bh AS (
  SELECT *, (p_value * m <= 0.05 * rk) AS passes
  FROM ranked
),
cut AS (SELECT COALESCE(max(rk), 0) AS kmax FROM bh WHERE passes)
SELECT CAST((SELECT m FROM ranked LIMIT 1) AS BIGINT) AS n_series,
       CAST((SELECT count(*) FROM p WHERE p_value < 0.05) AS BIGINT)
         AS n_raw_significant,
       CAST((SELECT kmax FROM cut) AS BIGINT) AS n_fdr_significant,
       round((SELECT count(*) FROM p WHERE p_value < 0.05)
             / CAST((SELECT m FROM ranked LIMIT 1) AS DOUBLE), 6)
         AS raw_fraction
""".format(p_expr=SC.sql_normal_sf_two_sided("z")))
def trend_field_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field significance for a trend field: per-series Mann-Kendall
    p-values (pure-SQL pairwise form over daily digests) corrected for
    multiple testing with Benjamini-Hochberg — the count of
    FDR-surviving series is what distinguishes a real climate signal
    from 5% of cells passing by chance. Pairwise volume is bounded at
    n_days² per series; the BH step is one global ranking window over
    #series rows."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    days = (ev.groupBy("user_id", F.date_trunc("day", "ts").alias("d"))
              .agg(F.round(
                  F.sum(F.round(F.col("value") * 1e6).cast("long")) / 1e6
                  / F.count(F.lit(1)), 6).alias("v")))
    a, b = days.alias("a"), days.alias("b")
    pairs = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                    & (F.col("a.d") < F.col("b.d")))
             .select(F.col("a.user_id").alias("user_id"),
                     F.when(F.col("b.v") > F.col("a.v"), 1)
                      .when(F.col("b.v") < F.col("a.v"), -1)
                      .otherwise(0).alias("sgn")))
    s = pairs.groupBy("user_id").agg(F.sum("sgn").cast("double")
                                     .alias("s_stat"))
    nn = days.groupBy("user_id").agg(F.count("*").alias("n"))
    tie = (days.groupBy("user_id", "v").agg(F.count("*").alias("t"))
               .where(F.col("t") > 1)
               .groupBy("user_id")
               .agg(F.sum(F.col("t") * (F.col("t") - 1)
                          * (2 * F.col("t") + 5)).alias("tsum")))
    var = (nn.join(tie, "user_id", "left")
           .select("user_id",
                   ((F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                     - F.coalesce("tsum", F.lit(0))) / 18.0).alias("var_s")))
    z = (F.when(F.col("s_stat") > 0,
                (F.col("s_stat") - 1) / F.sqrt("var_s"))
          .when(F.col("s_stat") < 0,
                (F.col("s_stat") + 1) / F.sqrt("var_s"))
          .otherwise(0.0))
    p = (s.join(var, "user_id")
          .withColumn("p_value",
                      F.round(SC.normal_sf_two_sided(z), 6))
          .select("user_id", "p_value"))
    w = Window.orderBy(F.col("p_value").asc(), F.col("user_id").asc())
    ranked = (p.withColumn("rk", F.row_number().over(w))
               .withColumn("m", F.count("*").over(
                   Window.partitionBy())))
    bh = ranked.withColumn(
        "passes", F.col("p_value") * F.col("m") <= 0.05 * F.col("rk"))
    agg = bh.agg(
        F.max("m").cast("long").alias("n_series"),
        F.sum(F.when(F.col("p_value") < 0.05, 1).otherwise(0))
         .cast("long").alias("n_raw_significant"),
        F.coalesce(F.max(F.when(F.col("passes"), F.col("rk"))),
                   F.lit(0)).cast("long").alias("n_fdr_significant"))
    return agg.withColumn(
        "raw_fraction",
        F.round(F.col("n_raw_significant")
                / F.col("n_series").cast("double"), 6))
