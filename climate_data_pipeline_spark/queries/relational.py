"""Relational-completeness queries (SURVEY.md §2.3/§2.6/§2.7 + build-plan
step 6): the join family, set ops, top-k, rollup/cube, ranking windows,
sessionization, string/date/math scalars, JSON extraction.

Scale notes baked into each query: dimension tables broadcast (region,
nation ≤ 25 rows; per-group threshold tables likewise); fact-fact joins
shuffle on the join key and AQE handles skew; aggregates follow the
decimal-sum determinism discipline (registry docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import exact_sum, sql_exact_sum
from ..operators.relational import sessionize, top_k
from ..registry import query
from ..sources.io import load_table


# --- join family -----------------------------------------------------------

@query("j_equi_join_star", oracle=f"""
SELECT r.r_name AS region, n.n_name AS nation,
       {sql_exact_sum('o.o_totalprice', 2)} AS total_revenue,
       COUNT(*) AS n_orders
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
JOIN region r   ON r.r_regionkey = n.n_regionkey
GROUP BY 1, 2
""")
def equi_join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema equi-join chain: fact (orders) shuffles once on custkey;
    nation/region are broadcast (≤25 rows) so they add no shuffle."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (o.join(c, o.o_custkey == c.c_custkey)
             .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
             .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
             .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
             .agg(exact_sum("o_totalprice", 2).alias("total_revenue"),
                  F.count("*").alias("n_orders")))


@query("j_semi_join", oracle="""
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
GROUP BY 1
""")
def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI = EXISTS: customers with at least one large order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 100000)
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
             .groupBy("c_mktsegment").agg(F.count("*").alias("n_customers")))


@query("j_anti_join", oracle="""
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 300000)
GROUP BY 1
""")
def anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI = NOT EXISTS: customers who never placed a high-value
    order. The build side is filtered BEFORE the anti join (Catalyst
    pushes the predicate into the orders scan), and — unlike the bare
    "never ordered" variant, which is EMPTY on dense testdata at every
    sf, making its oracle row a vacuous empty==empty match — some
    customers always qualify, so the value-level check has teeth."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders") \
        .where(F.col("o_totalprice") > 300000)
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
             .groupBy("c_mktsegment").agg(F.count("*").alias("n_customers")))


@query("j_outer_join", oracle="""
SELECT c.c_custkey, c.c_name,
       COUNT(o.o_orderkey) AS n_orders,
       COALESCE(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)), 0) / 100.0 AS revenue
FROM customer c
LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY 1, 2
""")
def outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER with zero-filled aggregates: every customer appears,
    order-less customers get n_orders = 0."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left")
             .groupBy("c_custkey", "c_name")
             .agg(F.count("o_orderkey").alias("n_orders"),
                  (F.coalesce(F.sum(F.round(F.col("o_totalprice") * 100)
                                     .cast("long")), F.lit(0))
                    / 100.0).alias("revenue")))


@query("j_range_join", oracle=f"""
SELECT p.p_brand, COUNT(*) AS n,
       {sql_exact_sum('l.l_extendedprice', 2)} AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
           AND l.l_quantity BETWEEN p.p_size - 5 AND p.p_size + 5
GROUP BY 1
""")
def range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range (theta) join condition — Catalyst evaluates the range
    residual on the hash-join output, no nested-loop explosion."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = ((li.l_partkey == p.p_partkey)
            & li.l_quantity.between(p.p_size - 5, p.p_size + 5))
    return (li.join(p, cond)
              .groupBy("p_brand")
              .agg(F.count("*").alias("n"),
                   exact_sum("l_extendedprice", 2).alias("revenue")))


# --- set operations ---------------------------------------------------------

@query("set_ops", oracle="""
WITH c95 AS (SELECT DISTINCT o_custkey FROM orders
             WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1995-12-31'),
     c96 AS (SELECT DISTINCT o_custkey FROM orders
             WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31')
SELECT 'intersect' AS op, COUNT(*) AS n FROM (SELECT * FROM c95 INTERSECT SELECT * FROM c96)
UNION ALL
SELECT 'except' AS op, COUNT(*) AS n FROM (SELECT * FROM c95 EXCEPT SELECT * FROM c96)
UNION ALL
SELECT 'union' AS op, COUNT(*) AS n FROM (SELECT * FROM c95 UNION SELECT * FROM c96)
""")
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION (distinct semantics) on yearly customer
    cohorts — xr.concat's UNION ALL analogue (SURVEY.md §2.6) plus the set
    ops the reference lacks."""
    o = load_table(spark, sf_dir, "orders")

    def cohort(year: int) -> DataFrame:
        return (o.where(F.col("o_orderdate").between(f"{year}-01-01",
                                                     f"{year}-12-31"))
                 .select("o_custkey").distinct())

    c95, c96 = cohort(1995), cohort(1996)
    rows = [
        ("intersect", c95.intersect(c96)),
        ("except", c95.exceptAll(c96).distinct()),
        ("union", c95.union(c96).distinct()),
    ]
    out = None
    for op, df in rows:
        one = df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")
        out = one if out is None else out.unionAll(one)
    return out


# --- sorts / limits / top-k --------------------------------------------------

@query("topk_global", oracle="""
SELECT c_custkey, c_name, c_acctbal
FROM customer
ORDER BY c_acctbal DESC, c_custkey ASC
LIMIT 10
""")
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k — TakeOrderedAndProject (per-partition heads, driver
    merge), never a full sort. Unique tie-break keeps the set deterministic."""
    c = load_table(spark, sf_dir, "customer")
    return top_k(c, [F.col("c_acctbal").desc(), F.col("c_custkey").asc()], 10) \
        .select("c_custkey", "c_name", "c_acctbal")


@query("topk_per_group", oracle="""
SELECT * FROM (
  SELECT n_name AS nation, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY n_name
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
  FROM customer JOIN nation ON n_nationkey = c_nationkey
) WHERE rank <= 3
""")
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers per nation — row_number window, one shuffle."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
               .withColumnRenamed("n_name", "nation"))
    return top_k(joined, [F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
                 3, partition_keys=["nation"]) \
        .select("nation", "c_custkey", "c_acctbal", F.col("rank").cast("long").alias("rank"))


# --- grouping sets / rollup / cube -------------------------------------------

@query("rollup_agg", oracle="""
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty, COUNT(*) AS n,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING markers — subtotals + grand total in one pass
    (Spark expands to a union of grouping sets before the hash agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
              .agg(F.sum("l_quantity").alias("sum_qty"),
                   F.count("*").alias("n"),
                   F.grouping("l_returnflag").cast("int").alias("g_flag"),
                   F.grouping("l_linestatus").cast("int").alias("g_status")))


@query("cube_agg", oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       {sql_exact_sum('o_totalprice', 2)} AS revenue
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions — all 4 grouping sets in one shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return (o.cube("o_orderstatus", "o_orderpriority")
             .agg(F.count("*").alias("n"),
                  exact_sum("o_totalprice", 2).alias("revenue")))


@query("distinct_counts", oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY 1
""")
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand + two-phase agg in Spark)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
              .agg(F.countDistinct("l_partkey").alias("n_parts"),
                   F.countDistinct("l_suppkey").alias("n_suppliers"),
                   F.count("*").alias("n_rows")))


@query("approx_distinct", oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE AS approx_within_5pct
FROM lineitem GROUP BY 1
""")
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct — the 100 TB path for cardinality (HLL++,
    single pass, fixed memory). Raw sketch estimates are engine-specific
    and can't hash-match an oracle, so the contract checked instead is
    the HLL's accuracy bound: the Spark side emits
    |hll − exact| / exact ≤ 5% computed from the REAL sketch, and the
    oracle asserts that bound holds (TRUE) next to the exact counts —
    a sketch regression flips the value and the hash.

    rsd = 0.02 (≈2700 registers), not 0.01: mixing a DISTINCT
    aggregate with a non-distinct one forces Spark's expand plan, and
    a 0.01-rsd sketch's 16 KB buffer riding that expand measured 3×
    the whole query's cost — 2% precision is still 2.5× tighter than
    the 5% bound under test, in one pass over the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    approx = F.approx_count_distinct("l_partkey", 0.02)
    exact = F.countDistinct("l_partkey")
    return (li.groupBy("l_returnflag")
              .agg(exact.alias("exact_parts"),
                   (F.abs(approx - exact) / exact <= 0.05)
                   .alias("approx_within_5pct")))


# --- ranking / analytic windows + sessionization ------------------------------

@query("rank_lag_lead", oracle="""
SELECT event_id, user_id, event_type, value,
       ROW_NUMBER() OVER w AS rn,
       LAG(value) OVER w AS prev_value,
       LEAD(value) OVER w AS next_value,
       round(value - COALESCE(LAG(value) OVER w, value), 6) AS delta
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def rank_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / lag / lead per user stream — free in Spark, absent in
    the reference (SURVEY.md §2.5 note)."""
    from pyspark.sql import Window
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id", "event_type", "value",
        F.row_number().over(w).cast("long").alias("rn"),
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.round(F.col("value") - F.coalesce(F.lag("value").over(w),
                                            F.col("value")), 6).alias("delta"))


@query("sessionization", oracle="""
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800 THEN 1
              ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id, CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM sessions
GROUP BY 1
""")
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) — lag + running sum (SURVEY.md
    §2.5; the streaming analogue is session_window, see streaming/)."""
    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, "ts", "user_id", gap_minutes=30.0,
                   order_cols=["ts", "event_id"])
    return (s.groupBy("user_id")
             .agg(F.countDistinct("session_id").alias("n_sessions"),
                  F.count("*").alias("n_events")))


# --- scalar functions: string / date / math / JSON ----------------------------

@query("string_functions", oracle="""
SELECT p_partkey,
       upper(p_brand) AS brand_upper,
       length(p_name) AS name_len,
       substr(p_type, 1, 8) AS type_prefix,
       concat(p_brand, ':', CAST(p_size AS VARCHAR)) AS brand_size,
       CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INTEGER) AS brand_num,
       CASE WHEN p_type LIKE '%BRASS%' THEN TRUE ELSE FALSE END AS is_brass,
       replace(lower(p_name), ' ', '_') AS slug
FROM part
""")
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar sampler (upper/length/substr/concat/regexp/like/
    replace) — all JVM built-ins inside codegen."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_type", 1, 8).alias("type_prefix"),
        F.concat_ws(":", "p_brand", F.col("p_size").cast("string")).alias("brand_size"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).cast("int").alias("brand_num"),
        F.col("p_type").like("%BRASS%").alias("is_brass"),
        F.replace(F.lower("p_name"), F.lit(" "), F.lit("_")).alias("slug"))


@query("date_functions", oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
       CAST(month(o_orderdate) AS INTEGER) AS mo,
       CAST(dayofmonth(o_orderdate) AS INTEGER) AS dom,
       CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
       CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
       date_trunc('quarter', o_orderdate) AS quarter_start,
       CAST(o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS due_date,
       CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INTEGER) AS days_since_epoch_start
FROM orders
""")
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar scalar sampler — F1/F3 analogues (reference virtual
    groupers `metrics/temporal.py:111,147-151`) plus arithmetic. Spark
    dayofweek is 1=Sunday; DuckDB dow is 0=Sunday (shifted in oracle)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.dayofmonth("o_orderdate").cast("int").alias("dom"),
        F.dayofweek("o_orderdate").cast("int").alias("dow"),
        F.dayofyear("o_orderdate").cast("int").alias("doy"),
        F.date_trunc("quarter", "o_orderdate").alias("quarter_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
        F.datediff(F.col("o_orderdate"),
                   F.lit("1995-01-01").cast("date")).cast("int")
         .alias("days_since_epoch_start"))


@query("math_functions", oracle="""
SELECT p_partkey,
       round(sqrt(p_retailprice), 6) AS sqrt_price,
       round(ln(p_retailprice), 6) AS ln_price,
       round(pow(p_retailprice, 0.5) - sqrt(p_retailprice), 6) AS pow_sqrt_diff,
       abs(p_size - 25) AS size_dist,
       CAST(p_size % 7 AS INTEGER) AS size_mod,
       round(sin(radians(CAST(p_size AS DOUBLE))), 6) AS sin_size,
       CAST(greatest(p_size, 10) AS INTEGER) AS size_floor10,
       CAST(floor(p_retailprice / 100) AS BIGINT) AS price_bucket
FROM part
""")
def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar sampler (F7/F8 analogues). Transcendentals (sqrt/ln/sin)
    are correctly-rounded-ish but not bit-identical across libm
    implementations → rounded to 6 dp in both engines."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round(F.sqrt("p_retailprice"), 6).alias("sqrt_price"),
        F.round(F.log("p_retailprice"), 6).alias("ln_price"),
        F.round(F.pow("p_retailprice", F.lit(0.5)) - F.sqrt("p_retailprice"), 6)
         .alias("pow_sqrt_diff"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        (F.col("p_size") % 7).cast("int").alias("size_mod"),
        F.round(F.sin(F.radians(F.col("p_size").cast("double"))), 6).alias("sin_size"),
        F.greatest("p_size", F.lit(10)).alias("size_floor10"),
        F.floor(F.col("p_retailprice") / 100).cast("long").alias("price_bucket"))


@query("f9_json_extract", oracle="""
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
FROM events
""")
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over events.props (F9/extension surface,
    SURVEY.md §2.7 note) — get_json_object stays JVM-side."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k_value"))


@query("pivot_agg", oracle="""
SELECT l_returnflag,
       SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o,
       SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f
FROM lineitem
GROUP BY 1
""")
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT on linestatus — compiles to conditional aggregation, matching
    the oracle's CASE formulation exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
              .pivot("l_linestatus", ["O", "F"])
              .agg(F.sum("l_quantity"))
              .withColumnRenamed("O", "qty_o")
              .withColumnRenamed("F", "qty_f"))


@query("p4_point_select", oracle="""
SELECT event_id, user_id, ts, event_type, value
FROM events
ORDER BY abs(value - 50.0) ASC, event_id ASC
LIMIT 1
""")
def point_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — nearest-point selection (reference point query,
    `api/routes/data.py:88-127`): closest event to value 50.0."""
    ev = load_table(spark, sf_dir, "events")
    from ..operators.relational import nearest_point
    return nearest_point(ev, {"value": 50.0}, tie_break=["event_id"]) \
        .select("event_id", "user_id", "ts", "event_type", "value")


@query("s2_projected_scan", oracle="""
SELECT l_orderkey, l_partkey, l_quantity, l_shipdate
FROM lineitem
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-06-30'
  AND l_quantity >= 45
""")
def projected_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/P2/P3 — projected scan with time-range + value predicates; both
    reach the parquet reader (PushedFilters + ReadSchema pruning), the
    Spark equivalent of the reference's read-time selection
    (`ingest/netcdf_reader.py:34-77`)."""
    from ..sources.io import scan
    return scan(spark, sf_dir, "lineitem",
                columns=["l_orderkey", "l_partkey", "l_quantity", "l_shipdate"],
                predicate=F.col("l_quantity") >= 45,
                time_col="l_shipdate",
                time_range=("1996-01-01", "1996-06-30"))


@query("unpivot_melt", oracle="""
WITH wide AS (
  SELECT l_returnflag,
         SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o,
         SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, 'qty_o' AS status_col, qty_o AS qty FROM wide WHERE qty_o IS NOT NULL
UNION ALL
SELECT l_returnflag, 'qty_f' AS status_col, qty_f AS qty FROM wide WHERE qty_f IS NOT NULL
""")
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — wide pivoted aggregates back to long (the xarray
    dim↔column reshape analogue; SURVEY.md §2.6 pivot/unpivot note)."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = (li.groupBy("l_returnflag")
              .pivot("l_linestatus", ["O", "F"])
              .agg(F.sum("l_quantity"))
              .withColumnRenamed("O", "qty_o")
              .withColumnRenamed("F", "qty_f"))
    return (wide.unpivot("l_returnflag", ["qty_o", "qty_f"],
                         "status_col", "qty")
                .where(F.col("qty").isNotNull()))


@query("j_cross_join", oracle="""
SELECT n.n_name, r.r_name
FROM nation n CROSS JOIN region r
""")
def cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Cartesian product (the one join shape the rest of the
    suite deliberately avoids) — legitimate only between tiny dimension
    tables, where Catalyst plans a BroadcastNestedLoopJoin. Guard rails
    at scale: anything larger should hit
    ``spark.sql.crossJoin.enabled`` checks or be rewritten with keys."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return n.crossJoin(r).select("n_name", "r_name")


@query("s_grib2_ingest", oracle="""
WITH pay AS (
  SELECT doc_id AS msg_id, hex(encode(coalesce(text, ''))) AS hx
  FROM documents
),
pb AS (
  SELECT msg_id,
         list_transform(range(length(hx) // 2),
                        i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INT),
                                                  2)) AS INTEGER))
           AS raw
  FROM pay
),
b AS (
  SELECT msg_id, CASE WHEN len(raw) = 0 THEN [0] ELSE raw END AS bytes
  FROM pb
),
m AS (
  SELECT msg_id, msg_id % 5 AS c,
         CAST((msg_id % 121) - 60 AS DOUBLE) AS la1,
         list_transform(range(64),
                        i -> bytes[CAST(i % len(bytes) AS INT) + 1])
           AS cells
  FROM b
)
SELECT msg_id,
       CASE WHEN c = 4 THEN '5.41' ELSE '5.0' END AS template,
       CAST(CASE WHEN c = 3 THEN 32 ELSE 64 END AS BIGINT) AS n_present,
       la1,
       CASE c
         WHEN 1 THEN CAST(16 * list_sum(cells) AS DOUBLE) / 64
         WHEN 2 THEN CAST(list_sum(list_transform(cells,
                          x -> 200 + (x // 2))) AS DOUBLE) / 128
         WHEN 3 THEN CAST(list_sum(list_transform(range(32),
                          i -> cells[2*i + 1])) AS DOUBLE) / 32
         ELSE CAST(list_sum(cells) AS DOUBLE) / 64
       END AS mean_value
FROM m
""")
def grib2_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 ingest round trip, no eccodes/cfgrib: documents render
    into REAL WMO GRIB2 messages (8×8 lat/lon grids; five residue
    classes — 8-bit simple packing, 12-bit, 7-bit with reference 100 +
    binary scale −1 in exact halves, a bitmap with only even cells
    present, and PNG data-representation 5.41 decoded through the
    repo's own PNG codec; ``la1 = msg_id%121 − 60`` exercises the
    sign-and-magnitude coordinate encoding on both hemispheres) and
    decode back through ``sources/grib2.py`` into the long climate
    table, then aggregate per message. Every decoded value is an
    exact binary fraction, so sums are order-independent and the
    DuckDB oracle re-derives each message's mean, present-cell count
    and northern-edge latitude from the text bytes: a wrong bit
    width, sign-magnitude decode, bitmap walk, PNG unpack or scale
    application shifts the hash."""
    from ..sources.grib2 import grib2_long, synthesize_grib2
    docs = load_table(spark, sf_dir, "documents")
    long = grib2_long(synthesize_grib2(docs, "doc_id", "text"))
    return (long.groupBy("msg_id", "template")
            .agg(F.count("*").alias("n_present"),
                 F.max("lat").alias("la1"),
                 F.avg("value").alias("mean_value")))


@query("s_grib2_complex_ingest", oracle="""
WITH pay AS (
  SELECT doc_id AS msg_id, hex(encode(coalesce(text, ''))) AS hx
  FROM documents
),
pb AS (
  SELECT msg_id,
         list_transform(range(length(hx) // 2),
                        i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INT),
                                                  2)) AS INTEGER))
           AS raw
  FROM pay
),
b AS (
  SELECT msg_id, CASE WHEN len(raw) = 0 THEN [0] ELSE raw END AS bytes
  FROM pb
),
m AS (
  SELECT msg_id, msg_id % 4 AS c,
         CAST((msg_id % 121) - 60 AS DOUBLE) AS la1,
         list_transform(range(64),
                        i -> bytes[CAST(i % len(bytes) AS INT) + 1])
           AS cells
  FROM b
)
SELECT msg_id,
       CASE WHEN c >= 2 THEN '5.3' ELSE '5.2' END AS template,
       CAST(CASE WHEN c = 0 THEN 32 ELSE 64 END AS BIGINT) AS n_present,
       la1,
       CASE c
         WHEN 0 THEN CAST(list_sum(list_transform(range(32),
                          i -> cells[2*i + 1])) AS DOUBLE) / 32
         WHEN 1 THEN CAST(list_sum(list_transform(cells,
                          x -> 17 * x + 3)) AS DOUBLE) / 64
         WHEN 3 THEN CAST(list_sum(list_transform(cells,
                          x -> 100 + (x // 2))) AS DOUBLE) / 128
         ELSE CAST(list_sum(cells) AS DOUBLE) / 64
       END AS mean_value
FROM m
""")
def grib2_complex_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 COMPLEX-packing ingest round trip (templates 5.2/5.3 —
    what operational ECMWF/NOAA NWP archives actually use, per-group
    references/widths and first/second-order spatial differencing):
    documents render into real complex-packed messages across four
    residue classes (bitmap×groups, uneven last group, order-1 diff,
    order-2 diff with binary scale −1 in exact halves) and decode back
    through ``sources/grib2.py`` into the long climate table. The
    DuckDB oracle re-derives each message's mean, present-cell count
    and northern-edge latitude from the text bytes: a wrong group
    width, length reconstruction, sign-magnitude extra descriptor or
    difference accumulation shifts the hash."""
    from ..sources.grib2 import grib2_long, synthesize_grib2_complex
    docs = load_table(spark, sf_dir, "documents")
    long = grib2_long(synthesize_grib2_complex(docs, "doc_id", "text"))
    return (long.groupBy("msg_id", "template")
            .agg(F.count("*").alias("n_present"),
                 F.max("lat").alias("la1"),
                 F.avg("value").alias("mean_value")))


@query("s_grib2_interval_ingest", oracle="""
WITH pay AS (
  SELECT doc_id AS msg_id, hex(encode(coalesce(text, ''))) AS hx
  FROM documents
),
pb AS (
  SELECT msg_id,
         list_transform(range(length(hx) // 2),
                        i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INT),
                                                  2)) AS INTEGER))
           AS raw
  FROM pay
),
b AS (
  SELECT msg_id, CASE WHEN len(raw) = 0 THEN [0] ELSE raw END AS bytes
  FROM pb
),
m AS (
  SELECT msg_id, msg_id % 3 AS c,
         list_transform(range(64),
                        i -> bytes[CAST(i % len(bytes) AS INT) + 1])
           AS cells
  FROM b
)
SELECT msg_id,
       CAST(msg_id % 4 AS INTEGER) AS stat_process,
       CAST(1 + msg_id % 96 AS INTEGER) AS stat_hours,
       '2021-' || lpad(CAST(1 + msg_id % 12 AS VARCHAR), 2, '0')
         || '-' || lpad(CAST(1 + msg_id % 28 AS VARCHAR), 2, '0')
         || ' ' || lpad(CAST(msg_id % 24 AS VARCHAR), 2, '0')
         || ':00:00' AS interval_end,
       CASE c
         WHEN 2 THEN CAST(list_sum(list_transform(cells,
                          x -> 200 + (x // 2))) AS DOUBLE) / 128
         ELSE CAST(list_sum(cells) AS DOUBLE) / 64
       END AS mean_value
FROM m
""")
def grib2_interval_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRIB2 product template 4.8 round trip (statistics over a time
    interval — accumulated precipitation / max temperature, the
    products operational archives actually publish): documents render
    into real 4.8 messages whose statistical process, interval length
    and interval-end calendar walk derive from the id, across three
    data-representation classes (8-bit simple, complex 5.2, 7-bit
    halves with reference 100). The DuckDB oracle re-derives every
    metadata field and the field mean from id arithmetic and text
    bytes — a wrong octet offset in the 4.8 tail or a broken interval
    end shifts the hash."""
    from ..sources.grib2 import (grib2_interval_stats,
                                 synthesize_grib2_interval)
    docs = load_table(spark, sf_dir, "documents")
    return grib2_interval_stats(
        synthesize_grib2_interval(docs, "doc_id", "text"))


@query("s_grib2_reduced_ingest", oracle="""
WITH pay AS (
  SELECT doc_id AS msg_id, hex(encode(coalesce(text, ''))) AS hx
  FROM documents
),
pb AS (
  SELECT msg_id,
         list_transform(range(length(hx) // 2),
                        i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INT),
                                                  2)) AS INTEGER))
           AS raw
  FROM pay
),
b AS (
  SELECT msg_id, CASE WHEN len(raw) = 0 THEN [0] ELSE raw END AS bytes
  FROM pb
),
m AS (
  SELECT msg_id,
         list_transform(range(8), j -> 4 + CAST((msg_id + j) % 5
                                                AS BIGINT)) AS pl
  FROM b
),
n AS (
  SELECT msg_id, pl, list_sum(pl) AS np FROM m
)
SELECT n.msg_id,
       CAST(n.np AS BIGINT) AS n_points,
       list_max(list_transform(n.pl,
                k -> (k - 1) * (360.0 / k))) AS max_lon,
       CAST(list_sum(list_transform(range(CAST(n.np AS BIGINT)),
            i -> b.bytes[CAST(i % len(b.bytes) AS INT) + 1]))
            AS DOUBLE) / n.np AS mean_value
FROM n JOIN b ON b.msg_id = n.msg_id
""")
def grib2_reduced_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REDUCED Gaussian grid ingest (grid template 3.40 with Ni
    missing and a per-parallel point-count list — ERA5's native
    layout): documents render into real reduced-grid messages whose
    parallel profile ``pl[j] = 4 + (msg_id + j) % 5`` derives from the
    id (alternating simple and complex-5.3 packing), decode through
    the ragged-grid path in ``grib2_long`` (each parallel's points at
    spacing 360/pl[j]), and aggregate per message. The oracle
    re-derives the total point count, the easternmost longitude
    ``max_j (pl_j − 1)·(360/pl_j)`` — pinning the per-parallel spacing
    — and the mean from text bytes."""
    from ..sources.grib2 import grib2_long, synthesize_grib2_reduced
    docs = load_table(spark, sf_dir, "documents")
    long = grib2_long(synthesize_grib2_reduced(docs, "doc_id", "text"))
    return (long.groupBy("msg_id")
            .agg(F.count("*").alias("n_points"),
                 F.max("lon").alias("max_lon"),
                 F.avg("value").alias("mean_value")))


@query("s_grib2_missing_ingest", oracle="""
WITH pay AS (
  SELECT doc_id AS msg_id, hex(encode(coalesce(text, ''))) AS hx
  FROM documents
),
pb AS (
  SELECT msg_id,
         list_transform(range(length(hx) // 2),
                        i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INT),
                                                  2)) AS INTEGER))
           AS raw
  FROM pay
),
b AS (
  SELECT msg_id, CASE WHEN len(raw) = 0 THEN [0] ELSE raw END AS bytes
  FROM pb
),
m AS (
  SELECT msg_id, msg_id % 4 AS c,
         list_transform(range(64),
                        i -> {'i': i,
                              'v': bytes[CAST(i % len(bytes) AS INT) + 1]})
           AS cells
  FROM b
),
k AS (
  SELECT msg_id, c,
         list_filter(cells, s -> NOT ((s.v + s.i) % 7 = 0
                                      OR (c IN (1, 3)
                                          AND (s.v + s.i) % 11 = 0)))
           AS keep
  FROM m
)
SELECT msg_id,
       CASE WHEN c >= 2 THEN '5.3' ELSE '5.2' END AS template,
       CAST(len(keep) AS BIGINT) AS n_present,
       CAST(64 - len(keep) AS BIGINT) AS n_missing,
       CASE c
         WHEN 1 THEN CAST(list_sum(list_transform(keep,
                          s -> 17 * s.v + 3)) AS DOUBLE) / len(keep)
         WHEN 3 THEN CAST(list_sum(list_transform(keep,
                          s -> 100 + (s.v // 2))) AS DOUBLE)
                     / (2 * len(keep))
         ELSE CAST(list_sum(list_transform(keep, s -> s.v))
                   AS DOUBLE) / len(keep)
       END AS mean_value
FROM k
""")
def grib2_missing_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value management ingest (template 5.2/5.3 octet 23 =
    1/2 — the no-bitmap sentinel encoding accumulation products use):
    documents render into real complex-packed messages where cell i
    is embedded-missing when ``(byte_i + i) % 7 == 0`` (primary) or
    ``% 11 == 0`` (secondary, management-2 classes); the decoder must
    recognize the all-ones in-group markers (and the width-0
    reference markers), keep them OUT of the spatial-differencing
    running sums, and surface the points as absent cells. The oracle
    re-derives each message's present/missing counts and
    non-missing mean from the text bytes — a marker mis-read, a
    width not widened past the marker codes, or a missing point
    leaking into the 5.3 recurrence shifts the hash."""
    from ..sources.grib2 import grib2_long, synthesize_grib2_missing
    docs = load_table(spark, sf_dir, "documents")
    long = grib2_long(synthesize_grib2_missing(docs, "doc_id", "text"))
    return (long.groupBy("msg_id", "template")
            .agg(F.count("*").alias("n_present"),
                 F.avg("value").alias("mean_value"))
            .select("msg_id", "template", "n_present",
                    (F.lit(64) - F.col("n_present")).alias("n_missing"),
                    "mean_value"))


@query("s_grib2_lambert_ingest", oracle="""
WITH pay AS (
  SELECT doc_id AS msg_id, hex(encode(coalesce(text, ''))) AS hx
  FROM documents
),
pb AS (
  SELECT msg_id,
         list_transform(range(length(hx) // 2),
                        i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INT),
                                                  2)) AS INTEGER))
           AS raw
  FROM pay
),
b AS (
  SELECT msg_id, CASE WHEN len(raw) = 0 THEN [0] ELSE raw END AS bytes
  FROM pb
),
p AS (
  SELECT msg_id, msg_id % 3 AS c,
         list_transform(range(64),
                        i -> bytes[CAST(i % len(bytes) AS INT) + 1])
           AS cells,
         CAST(25 + msg_id % 10 AS DOUBLE) AS latin1,
         CASE WHEN msg_id % 3 = 0 THEN CAST(25 + msg_id % 10 AS DOUBLE)
              ELSE CAST(40 + msg_id % 10 AS DOUBLE) END AS latin2,
         CAST(25 + msg_id % 10 AS DOUBLE) AS lad,
         CAST(250 + msg_id % 20 AS DOUBLE) AS lov,
         CAST(18 + msg_id % 12 AS DOUBLE) AS la1,
         CAST(250 + msg_id % 20 AS DOUBLE) - 6
           + CAST(msg_id % 13 AS DOUBLE) AS lo1,
         3000.0 * (1 + msg_id % 3) AS dd
  FROM b
),
g AS (
  SELECT *,
         pi() / 180 AS rad,
         CASE WHEN latin1 = latin2 THEN sin(latin1 * (pi() / 180))
              ELSE ln(cos(latin1 * (pi() / 180))
                      / cos(latin2 * (pi() / 180)))
                   / ln(tan(pi() / 4 + latin2 * (pi() / 180) / 2)
                        / tan(pi() / 4 + latin1 * (pi() / 180) / 2))
         END AS cn
  FROM p
),
h AS (
  SELECT *,
         cos(latin1 * rad) * power(tan(pi() / 4 + latin1 * rad / 2), cn)
           / cn AS cf
  FROM g
),
q AS (
  SELECT *,
         6371229.0 * cf / power(tan(pi() / 4 + lad * rad / 2), cn)
           AS rho0,
         6371229.0 * cf / power(tan(pi() / 4 + la1 * rad / 2), cn)
           AS r1
  FROM h
),
a AS (
  SELECT *,
         r1 * sin(cn * (lo1 - lov) * rad) AS x1,
         rho0 - r1 * cos(cn * (lo1 - lov) * rad) AS y1
  FROM q
),
cellgeo AS (
  SELECT msg_id,
         list_transform(range(64), k -> struct_pack(
             x := x1 + dd * CAST(k % 8 AS DOUBLE),
             y := y1 + dd * CAST(k // 8 AS DOUBLE))) AS xy,
         rho0, cf, cn, lov, rad
  FROM a
),
geo AS (
  SELECT msg_id,
         list_transform(xy, s -> (2 * atan(power(
             6371229.0 * cf / sqrt(s.x * s.x
                                   + (rho0 - s.y) * (rho0 - s.y)),
             1.0 / cn)) - pi() / 2) / rad) AS lats,
         list_transform(xy, s -> lov
             + atan2(s.x, rho0 - s.y) / cn / rad) AS lons
  FROM cellgeo
)
SELECT p.msg_id,
       CASE p.c WHEN 0 THEN '5.0' WHEN 1 THEN '5.2' ELSE '5.3' END
         AS template,
       CAST(64 AS BIGINT) AS n_present,
       round(list_min(geo.lats), 4) AS lat_min,
       round(list_max(geo.lats), 4) AS lat_max,
       round(list_min(geo.lons), 4) AS lon_min,
       round(list_max(geo.lons), 4) AS lon_max,
       CASE WHEN p.c = 2
            THEN CAST(list_sum(list_transform(p.cells,
                               v -> 100 + (v // 2))) AS DOUBLE) / 128
            ELSE CAST(list_sum(p.cells) AS DOUBLE) / 64
       END AS mean_value
FROM p JOIN geo ON geo.msg_id = p.msg_id
""")
def grib2_lambert_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambert-conformal ingest (grid template 3.30 — the HRRR/NAM
    regional-NWP layout): documents render into real 3.30 messages
    (tangent and secant cones, integer-exact wire parameters, three
    packing classes) and decode through the spherical inverse
    projection in ``sources/grib2.lambert_latlon`` — per-cell 2-D
    lat/lon fields, scan +x+y in storage order. The oracle recomputes
    the full Snyder equation chain (conic constant, cone factor,
    anchor forward-projection, per-node inversion) in SQL and
    compares the grid's lat/lon extrema to 4 decimals plus the exact
    field mean — a wrong cone constant, mis-anchored x/y origin, or
    millimetre/microdegree mis-scale shifts every corner."""
    from ..sources.grib2 import grib2_long, synthesize_grib2_lambert
    docs = load_table(spark, sf_dir, "documents")
    long = grib2_long(synthesize_grib2_lambert(docs, "doc_id", "text"))
    return (long.groupBy("msg_id", "template")
            .agg(F.count("*").alias("n_present"),
                 F.round(F.min("lat"), 4).alias("lat_min"),
                 F.round(F.max("lat"), 4).alias("lat_max"),
                 F.round(F.min("lon"), 4).alias("lon_min"),
                 F.round(F.max("lon"), 4).alias("lon_max"),
                 F.avg("value").alias("mean_value")))


@query("s_hdf5_szip_ingest", oracle="""
WITH pay AS (
  SELECT doc_id AS msg_id, hex(encode(coalesce(text, ''))) AS hx
  FROM documents
),
pb AS (
  SELECT msg_id,
         list_transform(range(length(hx) // 2),
                        i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INT),
                                                  2)) AS INTEGER))
           AS raw
  FROM pay
),
b AS (
  SELECT msg_id, CASE WHEN len(raw) = 0 THEN [0] ELSE raw END AS bytes
  FROM pb
),
m AS (
  SELECT msg_id, msg_id % 3 AS c,
         list_transform(range(64),
                        i -> bytes[CAST(i % len(bytes) AS INT) + 1])
           AS cells
  FROM b
)
SELECT msg_id,
       CASE c WHEN 0 THEN 'uint8' WHEN 1 THEN 'int16'
              ELSE 'uint32' END AS dtype,
       CAST(64 AS BIGINT) AS n_vals,
       CASE c
         WHEN 1 THEN CAST(127 * list_sum(cells) AS DOUBLE) / 64
         WHEN 2 THEN CAST(65537 * list_sum(cells) AS DOUBLE) / 128
         ELSE CAST(list_sum(cells) AS DOUBLE) / 64
       END AS mean_value
FROM m
""")
def hdf5_szip_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Szip-compressed NetCDF4/HDF5 ingest round trip, no szlib/h5py:
    documents render into REAL HDF5 containers (8×8 variables, chunked
    layouts with uneven chunk grids, the szip filter — CCSDS 121.0
    extended-Rice through ``sources/szip.py`` — and a CF scale_factor
    class) and decode back through the pure-Python HDF5 reader inside
    one Arrow ``mapInPandas``. The DuckDB oracle re-derives each file's
    dtype, cell count and mean from the text bytes: a wrong Rice
    split, zero-block run, NN unmapping, chunk-padding slice or
    scale application shifts the hash. (Class 2's decoded field is
    byte·65537·0.5 — exact halves, so the ÷128 oracle form is exact.)"""
    from ..sources.hdf5 import hdf5_szip_stats, synthesize_hdf5_szip
    docs = load_table(spark, sf_dir, "documents")
    return hdf5_szip_stats(synthesize_hdf5_szip(docs, "doc_id", "text"))


@query("s_grib2_jpeg2000_ingest", oracle="""
WITH pay AS (
  SELECT doc_id AS msg_id, hex(encode(coalesce(text, ''))) AS hx
  FROM documents
),
pb AS (
  SELECT msg_id,
         list_transform(range(length(hx) // 2),
                        i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INT),
                                                  2)) AS INTEGER))
           AS raw
  FROM pay
),
b AS (
  SELECT msg_id, CASE WHEN len(raw) = 0 THEN [0] ELSE raw END AS bytes
  FROM pb
),
m AS (
  SELECT msg_id, msg_id % 4 AS c,
         CAST((msg_id % 121) - 60 AS DOUBLE) AS la1,
         list_transform(range(64),
                        i -> bytes[CAST(i % len(bytes) AS INT) + 1])
           AS cells
  FROM b
)
SELECT msg_id,
       '5.40' AS template,
       CAST(CASE WHEN c = 2 THEN 32 ELSE 64 END AS BIGINT) AS n_present,
       la1,
       CASE c
         WHEN 1 THEN CAST(list_sum(list_transform(cells,
                          x -> 16 * x + 7)) AS DOUBLE) / 64
         WHEN 2 THEN CAST(list_sum(list_transform(range(32),
                          i -> cells[2*i + 1])) AS DOUBLE) / 32
         WHEN 3 THEN CAST(list_sum(list_transform(cells,
                          x -> 200 + (x // 2))) AS DOUBLE) / 128
         ELSE CAST(list_sum(cells) AS DOUBLE) / 64
       END AS mean_value
FROM m
""")
def grib2_jpeg2000_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG2000-packed GRIB2 ingest (data representation template 5.40
    — the last named GRIB2 packing seam, closed in round 9): documents
    render into real messages whose section 7 is a genuine lossless
    J2K codestream produced by the from-scratch Part-1 codec in
    ``sources/j2k.py`` (MQ arithmetic coder, EBCOT tier-1/tier-2,
    reversible 5/3 wavelet), then decode back through the same
    spec-derived decoder into the long climate table. Classes cover
    2-D wavelet grids, 12-bit depths, the (1, n) bitmap layout
    g2clib emits for masked fields, and scale application on top of
    the codec. Decoded values are exact integers/halves, so sums stay
    order-independent and the oracle re-derives every mean from text
    bytes — a wrong lifting step, context model, tag tree or packet
    length would shift the hash."""
    from ..sources.grib2 import grib2_long, synthesize_grib2_jpeg2000
    docs = load_table(spark, sf_dir, "documents")
    long = grib2_long(synthesize_grib2_jpeg2000(docs, "doc_id", "text"))
    return (long.groupBy("msg_id", "template")
            .agg(F.count("*").alias("n_present"),
                 F.max("lat").alias("la1"),
                 F.avg("value").alias("mean_value")))


@query("s_grib2_aec_ingest", oracle="""
WITH pay AS (
  SELECT doc_id AS msg_id, hex(encode(coalesce(text, ''))) AS hx
  FROM documents
),
pb AS (
  SELECT msg_id,
         list_transform(range(length(hx) // 2),
                        i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INT),
                                                  2)) AS INTEGER))
           AS raw
  FROM pay
),
b AS (
  SELECT msg_id, CASE WHEN len(raw) = 0 THEN [0] ELSE raw END AS bytes
  FROM pb
),
m AS (
  SELECT msg_id, msg_id % 4 AS c,
         CAST((msg_id % 121) - 60 AS DOUBLE) AS la1,
         list_transform(range(64),
                        i -> bytes[CAST(i % len(bytes) AS INT) + 1])
           AS cells
  FROM b
)
SELECT msg_id,
       '5.42' AS template,
       CAST(64 AS BIGINT) AS n_present,
       la1,
       CASE c
         WHEN 1 THEN CAST(list_sum(list_transform(cells,
                          x -> 16 * x + 3)) AS DOUBLE) / 64
         WHEN 3 THEN CAST(list_sum(list_transform(cells,
                          x -> 200 + (x // 2))) AS DOUBLE) / 128
         ELSE CAST(list_sum(cells) AS DOUBLE) / 64
       END AS mean_value
FROM m
""")
def grib2_aec_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCSDS/AEC-packed GRIB2 ingest (data representation template
    5.42 — libaec adaptive entropy coding, the packing newer
    ECMWF/EUMETSAT disseminations carry): documents render into real
    messages whose section 7 is a genuine CCSDS 121.0-B-2 stream from
    the same pure-Python coder that closed the HDF5 szip seam
    (``sources/szip.py``), with the AEC framing — flags octet,
    B-2-only 64-sample blocks, reference-sample intervals, and the
    AEC_PAD_RSI per-interval byte alignment. The oracle re-derives
    each message's mean from text bytes: a wrong split-sample k,
    zero-block run, NN unmap or RSI pad placement shifts the hash."""
    from ..sources.grib2 import grib2_long, synthesize_grib2_aec
    docs = load_table(spark, sf_dir, "documents")
    long = grib2_long(synthesize_grib2_aec(docs, "doc_id", "text"))
    return (long.groupBy("msg_id", "template")
            .agg(F.count("*").alias("n_present"),
                 F.max("lat").alias("la1"),
                 F.avg("value").alias("mean_value")))


@query("s_grib2_spectral_ingest", oracle="""
WITH pay AS (
  SELECT doc_id AS msg_id, hex(encode(coalesce(text, ''))) AS hx
  FROM documents
),
pb AS (
  SELECT msg_id,
         list_transform(range(length(hx) // 2),
                        i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INT),
                                                  2)) AS INTEGER))
           AS raw
  FROM pay
),
b AS (
  SELECT msg_id, CASE WHEN len(raw) = 0 THEN [0] ELSE raw END AS bytes
  FROM pb
),
slots AS (
  SELECT row_number() OVER (ORDER BY mm.m, nn.n, pp.part) - 1 AS i,
         mm.m, nn.n, pp.part
  FROM range(8) mm(m)
  JOIN range(8) nn(n) ON nn.n >= mm.m
  CROSS JOIN (VALUES (0), (1)) pp(part)
),
v AS (
  SELECT b.msg_id, b.msg_id % 3 AS c, s.m, s.n, s.part,
         bytes[CAST(s.i % len(bytes) AS INT) + 1] AS x
  FROM b CROSS JOIN slots s
)
SELECT msg_id,
       CASE WHEN c = 0 THEN '5.50' ELSE '5.51' END AS template,
       CAST(m AS INTEGER) AS m, CAST(n AS INTEGER) AS n,
       CAST(part AS INTEGER) AS part,
       CASE
         WHEN c = 0 THEN CAST(x AS DOUBLE)
         WHEN c = 1 AND m <= 2 AND n <= 2
           THEN CAST(CAST(100 + x / 2.0 AS REAL) AS DOUBLE)
         WHEN c = 1
           THEN (100 + x / 2.0) / (n * (n + 1))
         WHEN m <= 3 AND n <= 3
           THEN CAST(CAST(16 * x + 5 AS REAL) AS DOUBLE)
         ELSE CAST(16 * x + 5 AS DOUBLE)
              / (CAST(n * (n + 1) AS DOUBLE) * (n * (n + 1)))
       END AS coeff
FROM v
""")
def grib2_spectral_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical-harmonic GRIB2 ingest (grid template 3.50, data
    templates 5.50 simple and 5.51 complex with Laplacian scaling —
    ECMWF's model-level archive shape): documents render into real
    T7-truncation messages and decode into one row per coefficient
    (m, n, real/imag) through ``grib2_spectral_long`` — spectral
    fields have no lat/lon until a Legendre synthesis, so the ingest
    contract is the coefficient domain. Per-row comparison (no
    cross-row float sums), and every arithmetic step is either exact
    (integers, halves, float32-representable subsets) or a single
    IEEE division with exact operands — including the integer-power
    Laplacian factors — so the DuckDB oracle reproduces each
    coefficient bit-for-bit from text bytes: a wrong sub-truncation
    mask, Ts count, Laplacian exponent or sequence order shifts the
    hash."""
    from ..sources.grib2 import (grib2_spectral_long,
                                 synthesize_grib2_spectral)
    docs = load_table(spark, sf_dir, "documents")
    return grib2_spectral_long(
        synthesize_grib2_spectral(docs, "doc_id", "text"))


@query("s_grib2_spaceview_ingest", oracle="""
WITH pay AS (
  SELECT doc_id AS msg_id, hex(encode(coalesce(text, ''))) AS hx
  FROM documents
),
pb AS (
  SELECT msg_id,
         list_transform(range(length(hx) // 2),
                        i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INT),
                                                  2)) AS INTEGER))
           AS raw
  FROM pay
),
b AS (
  SELECT msg_id, CASE WHEN len(raw) = 0 THEN [0] ELSE raw END AS bytes
  FROM pb
),
m AS (
  SELECT msg_id, msg_id % 3 AS c,
         list_transform(range(64),
                        i -> bytes[CAST(i % len(bytes) AS INT) + 1])
           AS cells,
         CASE msg_id % 3 WHEN 0 THEN 0.0 WHEN 1 THEN 140.0
              ELSE 255.0 END AS lop,
         CASE msg_id % 3 WHEN 0 THEN 6 WHEN 1 THEN 5 ELSE 7 END AS dd,
         CASE msg_id % 3 WHEN 0 THEN 3.5 WHEN 1 THEN 3.0
              ELSE 4.0 END AS pp
  FROM b
),
geo AS (
  SELECT msg_id, c, cells, lop,
         6610710 * 1e-6 * CAST(6371229 AS DOUBLE) AS hh,
         list_transform(range(64), k -> struct_pack(
             k := k,
             x := (CAST(k % 8 AS DOUBLE) - pp)
                  * (2 * asin(1e6 / 6610710) / dd),
             y := (CAST(k // 8 AS DOUBLE) - pp)
                  * (2 * asin(1e6 / 6610710) / dd))) AS ang
  FROM m
),
px AS (
  SELECT msg_id, c, cells, lop, hh,
         list_transform(ang, s -> struct_pack(
             k := s.k,
             cxy := cos(s.x) * cos(s.y),
             sinx := sin(s.x),
             cx_siny := cos(s.x) * sin(s.y))) AS tr
  FROM geo
),
hit AS (
  SELECT msg_id, c, cells, lop, hh,
         list_filter(list_transform(tr, s -> struct_pack(
             k := s.k, cxy := s.cxy, sinx := s.sinx,
             cx_siny := s.cx_siny,
             disc := hh * hh * s.cxy * s.cxy
                     - (hh * hh - CAST(6371229 AS DOUBLE) * 6371229))),
             s -> s.disc > 0) AS pts
  FROM px
),
vec AS (
  SELECT msg_id, c, cells, lop, hh,
         list_transform(pts, s -> struct_pack(
             k := s.k,
             sx := (hh * s.cxy - sqrt(s.disc)) * s.cxy,
             sy := -(hh * s.cxy - sqrt(s.disc)) * s.sinx,
             sz := (hh * s.cxy - sqrt(s.disc)) * s.cx_siny)) AS pts
  FROM hit
),
ll AS (
  SELECT msg_id, c, cells, lop,
         list_transform(pts, s -> struct_pack(
             k := s.k,
             lat := degrees(atan(s.sz
                 / sqrt((hh - s.sx) * (hh - s.sx) + s.sy * s.sy))),
             lon := lop - degrees(atan(s.sy / (hh - s.sx))))) AS lls,
         list_transform(pts, s -> cells[CAST(s.k AS INT) + 1]) AS vals
  FROM vec
)
SELECT msg_id,
       CASE WHEN c = 1 THEN '5.2' ELSE '5.0' END AS template,
       CAST(len(vals) AS BIGINT) AS n_present,
       round(list_min(list_transform(lls, s -> s.lat)), 4) AS lat_min,
       round(list_max(list_transform(lls, s -> s.lat)), 4) AS lat_max,
       round(list_min(list_transform(lls, s -> s.lon)), 4) AS lon_min,
       round(list_max(list_transform(lls, s -> s.lon)), 4) AS lon_max,
       CASE WHEN c = 2
            THEN CAST(list_sum(list_transform(vals,
                               v -> 200 + (v // 2))) AS DOUBLE)
                 / (2 * len(vals))
            ELSE CAST(list_sum(vals) AS DOUBLE) / len(vals)
       END AS mean_value
FROM ll
""")
def grib2_spaceview_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Space-view GRIB2 ingest (grid template 3.90 — EUMETSAT/GOES
    geostationary full-disk products, the last named grid seam):
    documents render into real 3.90 messages whose 8×8 grids straddle
    the limb, and decode through the normalized geostationary inverse
    (`spaceview_latlon`, the public CGMS/GOES-R equations, spherical
    case): off-disk pixels are absent cells, on-disk ones carry 2-D
    lat/lon. The oracle re-derives the full chain — scan angles,
    intersection quadratic, disk membership, per-pixel lat/lon — in
    SQL with the identical operation sequence (lat/lon extrema at
    4 dp; limb margins are ~1e-3 relative, so the on-disk set cannot
    flip on float noise) plus the exact on-disk mean."""
    from ..sources.grib2 import grib2_long, synthesize_grib2_spaceview
    docs = load_table(spark, sf_dir, "documents")
    long = grib2_long(synthesize_grib2_spaceview(docs, "doc_id",
                                                 "text"))
    return (long.groupBy("msg_id", "template")
            .agg(F.count("*").alias("n_present"),
                 F.round(F.min("lat"), 4).alias("lat_min"),
                 F.round(F.max("lat"), 4).alias("lat_max"),
                 F.round(F.min("lon"), 4).alias("lon_min"),
                 F.round(F.max("lon"), 4).alias("lon_max"),
                 F.avg("value").alias("mean_value")))


@query("s_hdf5_nbit_ingest", oracle="""
WITH pay AS (
  SELECT doc_id AS msg_id, hex(encode(coalesce(text, ''))) AS hx
  FROM documents
),
pb AS (
  SELECT msg_id,
         list_transform(range(length(hx) // 2),
                        i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INT),
                                                  2)) AS INTEGER))
           AS raw
  FROM pay
),
b AS (
  SELECT msg_id, CASE WHEN len(raw) = 0 THEN [0] ELSE raw END AS bytes
  FROM pb
),
m AS (
  SELECT msg_id, msg_id % 3 AS c,
         list_transform(range(64),
                        i -> bytes[CAST(i % len(bytes) AS INT) + 1])
           AS cells
  FROM b
)
SELECT msg_id,
       'int32' AS dtype,
       CAST(64 AS BIGINT) AS n_vals,
       CASE c
         WHEN 1 THEN CAST(4 * list_sum(cells) AS DOUBLE) / 64
         WHEN 2 THEN CAST(1000 * list_sum(cells) AS DOUBLE) / 64
                     - 50000
         ELSE CAST(list_sum(cells) AS DOUBLE) / 64
       END AS mean_value
FROM m
""")
def hdf5_nbit_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NBIT- and SCALEOFFSET-filtered NetCDF4/HDF5 ingest round trip
    (filters 5/6 — the last two named NetCDF4 filter seams, closed in
    round 9): documents render into real HDF5 containers whose chunked
    int32 variable is nbit-packed (precision 8 at offsets 0 and 2 —
    only the significant window is stored, per the datatype message's
    precision/offset) or scaleoffset-packed (per-chunk minbits/minval
    header with a NEGATIVE minval), and decode back through the
    pure-Python HDF5 reader. The oracle re-derives dtype, count and
    mean from text bytes: a wrong bit window, un-shifted offset,
    minval sign error or chunk-padding slice shifts the hash."""
    from ..sources.hdf5 import hdf5_szip_stats, synthesize_hdf5_nbit_so
    docs = load_table(spark, sf_dir, "documents")
    return hdf5_szip_stats(
        synthesize_hdf5_nbit_so(docs, "doc_id", "text"))


@query("s_hdf5_scaleoffset_f", oracle="""
WITH pay AS (
  SELECT doc_id AS msg_id, hex(encode(coalesce(text, ''))) AS hx
  FROM documents
),
pb AS (
  SELECT msg_id,
         list_transform(range(length(hx) // 2),
                        i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS INT),
                                                  2)) AS INTEGER))
           AS raw
  FROM pay
),
b AS (
  SELECT msg_id, CASE WHEN len(raw) = 0 THEN [0] ELSE raw END AS bytes
  FROM pb
),
m AS (
  SELECT msg_id, msg_id % 3 AS c,
         list_transform(range(64),
                        i -> bytes[CAST(i % len(bytes) AS INT) + 1])
           AS cells
  FROM b
)
SELECT msg_id,
       CASE c WHEN 1 THEN 'float64' ELSE 'float32' END AS dtype,
       CAST(64 AS BIGINT) AS n_vals,
       CASE c
         WHEN 0 THEN CAST(list_sum(cells) AS DOUBLE) / 256 - 10.0
         WHEN 1 THEN CAST(list_sum(cells) AS DOUBLE) / 512 + 5.0
         ELSE CAST(msg_id % 7 AS DOUBLE) * 0.25 + 1.0
       END AS mean_value
FROM m
""")
def hdf5_scaleoffset_float_ingest(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Float-D-scale SCALEOFFSET NetCDF4/HDF5 ingest round trip
    (H5Z_SO_FLOAT_DSCALE — the last named NetCDF4 filter seam, closed
    in round 10): documents render into real HDF5 containers whose
    chunked float variable is D-scale packed (encoded =
    lround((v − min)·10^D) in the dataset's own float width, minval
    header = the min float's IEEE bytes; one class per float width
    plus a minbits-0 constant class), and decode back through the
    pure-Python HDF5 reader. Fixture values are exact binary
    fractions — quarters at D=2, eighths at D=3 — whose scaled
    integers divide back exactly, so every mean the oracle re-derives
    from text bytes is bit-deterministic; a wrong reconstruction
    width, minval byte order or D factor shifts the hash."""
    from ..sources.hdf5 import hdf5_szip_stats, synthesize_hdf5_so_float
    docs = load_table(spark, sf_dir, "documents")
    return hdf5_szip_stats(
        synthesize_hdf5_so_float(docs, "doc_id", "text"))


@query("s_warc_extract", oracle="""
WITH t AS (
  SELECT doc_id, coalesce(text, '') AS text FROM documents
),
esc AS (
  SELECT doc_id, text,
         replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'),
                 '>', '&gt;') AS e
  FROM t
),
h AS (
  SELECT doc_id, text,
         '<html><head><title>Doc ' || doc_id || '</title>'
         || '<style>p { color: #000; }</style>'
         || '<script>var x = ''<p>not text</p>'';</script>'
         || '</head><!-- crawler comment ' || doc_id || ' -->'
         || '<body><h1>Doc ' || doc_id || '</h1>'
         || '<p>' || e || '</p></body></html>' AS html
  FROM esc
),
rec AS (
  SELECT doc_id, strlen(html) AS n_body_bytes,
         trim(regexp_replace(text, '[ \t\n\r\f\v]+', ' ', 'g'),
              ' ') AS ct
  FROM h
),
fin AS (
  SELECT doc_id, n_body_bytes,
         'Doc ' || doc_id || ' Doc ' || doc_id
           || CASE WHEN ct = '' THEN '' ELSE ' ' || ct END AS rt
  FROM rec
)
SELECT doc_id, 'https://example.org/doc/' || doc_id AS uri,
       CAST(CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END
            AS INTEGER) AS http_status,
       CAST(n_body_bytes AS BIGINT) AS n_body_bytes,
       CAST(length(rt) AS BIGINT) AS n_chars,
       md5(rt) AS text_md5
FROM fin
""")
def warc_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest + HTML text extraction round trip — the Common
    Crawl entry point of a web-scale text pipeline, end to end:
    documents render into REAL WARC response records (WARC/1.0
    headers, Content-Length framing, a genuine HTTP envelope, every
    odd id's archive in the member-per-record GZIP layout) whose HTML
    wraps the escaped text among script/style/comment distractors;
    ``sources/warc.py`` walks the records back out, splits the HTTP
    response, strips tags/scripts/comments, unescapes entities in a
    single pass and collapses whitespace. The oracle mirrors the
    template and the collapse in SQL and pins the recovered text by
    MD5 — a wrong record frame, gzip member walk, tag strip order,
    entity pass or whitespace class shifts the hash of every row."""
    from ..sources.warc import synthesize_warc, warc_extract
    docs = load_table(spark, sf_dir, "documents")
    return warc_extract(synthesize_warc(docs, "doc_id", "text"))


@query("crawl_robots_screen", oracle="""
WITH c AS (
  SELECT doc_id,
         doc_id % 20 AS h,
         doc_id % 5 AS cls
  FROM documents
)
SELECT doc_id,
       'h' || CAST(h AS VARCHAR) || '.example.com' AS host,
       CASE cls
         WHEN 0 THEN '/private' || CAST(h % 3 AS VARCHAR) || '/page'
                  || CAST(doc_id AS VARCHAR)
         WHEN 1 THEN '/private' || CAST(h % 3 AS VARCHAR) || '/ok/x'
         WHEN 2 THEN '/data/secret' || CAST(doc_id AS VARCHAR)
         WHEN 3 THEN '/data/pub' || CAST(doc_id AS VARCHAR)
         ELSE '/pub/' || CAST(doc_id AS VARCHAR)
       END AS path,
       NOT (h % 7 <> 3 AND ((h % 2 = 0 AND cls = 2)
                            OR (h % 2 = 1 AND cls = 0))) AS allowed
FROM c
""")
def crawl_robots_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt compliance screening (RFC 9309) for the crawl
    pipeline: documents map to 20 synthetic hosts whose robots.txt
    bodies are REAL text (a ``*`` group disallowing a /privateN/
    subtree with an /ok carve-out; even hosts add a ``trainbot`` group
    disallowing /data/ with a wildcard-$ Allow carve-out; every
    h%7==3 host has NO robots file), and five path classes per doc
    probe each rule interaction. The engine side parses the bodies
    for real (`sources/warc.parse_robots`) and evaluates
    longest-match/allow-tie/group-selection semantics
    (`robots_decision`) inside one Arrow ``mapInPandas`` after a
    broadcast join of the tiny per-host robots table; the oracle
    re-derives every verdict from the CONSTRUCTION arithmetic, so a
    wrong group choice, specificity measure, tie-break, wildcard
    handling or missing-file default flips rows."""
    from ..sources.warc import robots_screen
    # no _spread here (r11, measured): same-session A/B at sf0.1 put the
    # rebalance at 1.80 s vs 1.38 s without — the robots kernel is too
    # cheap per row for a repartition + 32-task fan-out to pay at this
    # volume (crawl_main_content, whose per-row regex work is ~10×, DOES
    # carry _spread and wins 3.7×)
    docs = load_table(spark, sf_dir, "documents")
    c = docs.select(
        "doc_id",
        (F.col("doc_id") % 20).alias("h"),
        (F.col("doc_id") % 5).alias("cls"))
    cand = c.select(
        "doc_id",
        F.concat(F.lit("h"), F.col("h").cast("string"),
                 F.lit(".example.com")).alias("host"),
        F.when(F.col("cls") == 0,
               F.concat(F.lit("/private"),
                        (F.col("h") % 3).cast("string"),
                        F.lit("/page"), F.col("doc_id").cast("string")))
         .when(F.col("cls") == 1,
               F.concat(F.lit("/private"),
                        (F.col("h") % 3).cast("string"),
                        F.lit("/ok/x")))
         .when(F.col("cls") == 2,
               F.concat(F.lit("/data/secret"),
                        F.col("doc_id").cast("string")))
         .when(F.col("cls") == 3,
               F.concat(F.lit("/data/pub"),
                        F.col("doc_id").cast("string")))
         .otherwise(F.concat(F.lit("/pub/"),
                             F.col("doc_id").cast("string")))
         .alias("path"))
    hosts = (c.select("h").distinct()
              .where(F.col("h") % 7 != 3)
              .select(
                  F.concat(F.lit("h"), F.col("h").cast("string"),
                           F.lit(".example.com")).alias("host"),
                  F.concat(
                      F.lit("# synthetic robots\nUser-agent: *\n"
                            "Disallow: /private"),
                      (F.col("h") % 3).cast("string"),
                      F.lit("/\nAllow: /private"),
                      (F.col("h") % 3).cast("string"),
                      F.lit("/ok\n"),
                      F.when(F.col("h") % 2 == 0,
                             F.lit("\nUser-agent: trainbot\n"
                                   "Disallow: /data/\n"
                                   "Allow: /data/pub*\n"
                                   "Crawl-delay: 2\n"))
                       .otherwise(F.lit("")))
                  .alias("robots_txt")))
    return robots_screen(cand, hosts, agent="trainbot")


@query("crawl_sitemap_extract", oracle="""
WITH d AS (
  SELECT doc_id, doc_id % 20 AS h,
         CASE WHEN doc_id % 11 = 0 THEN 1 ELSE doc_id % 4 END AS kmax,
         doc_id % 11 = 0 AS is_index
  FROM documents
),
e AS (
  SELECT d.doc_id, d.h, d.is_index, t.k
  FROM d CROSS JOIN generate_series(0, 3) AS t(k)
  WHERE t.k <= d.kmax
)
SELECT doc_id,
       CASE WHEN is_index THEN 'sitemapindex' ELSE 'urlset' END AS kind,
       CASE WHEN is_index
            THEN 'https://h' || CAST(h AS VARCHAR)
                 || '.example.com/sitemap' || CAST(k AS VARCHAR)
                 || '.xml'
            ELSE 'https://h' || CAST(h AS VARCHAR)
                 || '.example.com/page/' || CAST(doc_id AS VARCHAR)
                 || '/' || CAST(k AS VARCHAR)
       END AS loc,
       CASE WHEN is_index
            THEN '2024-03-0' || CAST(k + 1 AS VARCHAR)
            WHEN k % 2 = 0
            THEN '2024-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR),
                                 2, '0')
                 || '-' || lpad(CAST(k + 1 AS VARCHAR), 2, '0')
       END AS lastmod,
       CASE WHEN NOT is_index AND k % 3 = 0 THEN 'daily'
            WHEN NOT is_index AND k % 3 = 1 THEN 'weekly'
       END AS changefreq,
       CASE WHEN NOT is_index AND k % 3 <> 2
            THEN CAST('0.' || CAST((k + 1) * 2 AS VARCHAR) AS DOUBLE)
       END AS priority
FROM e
""")
def crawl_sitemap_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingest (sitemaps.org 0.9) — the crawl-frontier
    DISCOVERY step ahead of URL dedup and the robots screen: documents
    render into REAL sitemap XML (namespaced ``<urlset>`` documents
    with per-entry optional lastmod/changefreq/priority; every 11th
    doc a ``<sitemapindex>``), and `sources/warc.sitemap_extract`
    parses them back with a real XML parser in one Arrow kernel. The
    oracle re-derives every entry from the construction arithmetic —
    priorities are string-built on both sides ('0.2', '0.4', …) so the
    doubles compare bit-exactly — and a dropped optional field, a
    namespace slip or an entry-count error shifts the hash."""
    from ..sources.warc import sitemap_extract
    # no _spread (r11, measured 1.98 s vs 1.35 s without at sf0.1 —
    # see crawl_robots_screen)
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", (F.col("doc_id") % 20).alias("h"),
        F.when(F.col("doc_id") % 11 == 0, 1)
         .otherwise(F.col("doc_id") % 4).alias("kmax"),
        (F.col("doc_id") % 11 == 0).alias("is_index"))
    ns = ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'
    url_entry = F.concat(
        F.lit("<url><loc>https://h"), F.col("h").cast("string"),
        F.lit(".example.com/page/"), F.col("doc_id").cast("string"),
        F.lit("/"), F.col("k").cast("string"), F.lit("</loc>"),
        F.when(F.col("k") % 2 == 0, F.concat(
            F.lit("<lastmod>2024-"),
            F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0"),
            F.lit("-"),
            F.lpad((F.col("k") + 1).cast("string"), 2, "0"),
            F.lit("</lastmod>"))).otherwise(F.lit("")),
        F.when(F.col("k") % 3 == 0, F.lit(
            "<changefreq>daily</changefreq>"))
         .when(F.col("k") % 3 == 1, F.lit(
             "<changefreq>weekly</changefreq>"))
         .otherwise(F.lit("")),
        F.when(F.col("k") % 3 != 2, F.concat(
            F.lit("<priority>0."),
            ((F.col("k") + 1) * 2).cast("string"),
            F.lit("</priority>"))).otherwise(F.lit("")),
        F.lit("</url>"))
    idx_entry = F.concat(
        F.lit("<sitemap><loc>https://h"), F.col("h").cast("string"),
        F.lit(".example.com/sitemap"), F.col("k").cast("string"),
        F.lit(".xml</loc><lastmod>2024-03-0"),
        (F.col("k") + 1).cast("string"),
        F.lit("</lastmod></sitemap>"))
    entries = (d.withColumn("k", F.explode(F.sequence(
                   F.lit(0), F.col("kmax"))))
                .withColumn("entry", F.when(F.col("is_index"),
                                            idx_entry)
                                      .otherwise(url_entry))
                .groupBy("doc_id", "is_index")
                .agg(F.concat_ws("", F.collect_list("entry"))
                      .alias("body")))
    xml = entries.select(
        "doc_id",
        F.when(F.col("is_index"),
               F.concat(F.lit('<?xml version="1.0" encoding="UTF-8"?>'
                              "<sitemapindex" + ns + ">"),
                        F.col("body"), F.lit("</sitemapindex>")))
         .otherwise(
               F.concat(F.lit('<?xml version="1.0" encoding="UTF-8"?>'
                              "<urlset" + ns + ">"),
                        F.col("body"), F.lit("</urlset>")))
         .alias("sitemap_xml"))
    return sitemap_extract(xml, "sitemap_xml", "doc_id")
