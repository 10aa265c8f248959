"""The five one-cell routes (cold point, temporal, percentiles, trend,
anomaly) read their cell with `Catalog.read_cell` and aggregate it with
`functions.spark_mirror`. Pinned here:

- every route, over every cell of a seeded `write_parquet(layout=
  "timeseries")` grid holding NaN, signed zeros, null values and a null
  time, is bit-identical to the Spark expressions the routes ran before
  (kept below as the reference), with year ranges, `reference_*` and
  date-only, `T`-form and malformed bounds;
- a cold point-family request on parquet runs no Spark job;
- a NetCDF registration of the same grid (the frame arm) returns the
  same payloads;
- a rewritten store is re-read, also through the result cache;
- a store with small row groups is read only in the row groups whose
  lat/lon statistics admit the cell.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from climate_data_pipeline_spark.http_server import ApiError, ServingHttpServer
from climate_data_pipeline_spark.sources.catalog import Catalog
from climate_data_pipeline_spark.sources.io import write_parquet

LATS = [10.0, 20.0, 30.0]
LONS = [100.0, 110.0, 120.0]
DAYS = 1096                       # 2019-01-01 .. 2021-12-31
T0 = dt.datetime(2019, 1, 1)


def grid_rows(seed: int, special: bool):
    """(time, lat, lon, temperature) rows of a daily 3 x 3 grid; with
    `special`, one cell holds NaN, both zeros, nulls and a null time."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(DAYS):
        t = T0 + dt.timedelta(days=i)
        for la in LATS:
            for lo in LONS:
                v = float(280 + la / 10 + 8 * math.sin(i / 58.1)
                          + rng.normal(0, 2))
                rows.append((t, la, lo, v))
    if special:
        def put(i, la, lo, v):
            k = (i * len(LATS) + LATS.index(la)) * len(LONS) + LONS.index(lo)
            rows[k] = (rows[k][0], la, lo, v)
        for i in range(0, 60, 3):           # January/February 2019
            put(i, 20.0, 110.0, 0.0 if i % 2 else -0.0)
        put(400, 20.0, 110.0, float("nan"))
        for i in (5, 35, 500, 900):
            put(i, 10.0, 120.0, None)
        rows.append((None, 30.0, 100.0, 1.5))
    return rows


def bits(v):
    if isinstance(v, float):
        return "nan" if v != v else struct.pack("<d", v).hex()
    if isinstance(v, list):
        return [bits(x) for x in v]
    if isinstance(v, dict):
        return {k: bits(x) for k, x in v.items() if k != "timestamp"}
    return v


SCHEMA = "time timestamp, lat double, lon double, temperature double"


@pytest.fixture(scope="module")
def grid_store(spark, tmp_path_factory):
    df = spark.createDataFrame(grid_rows(11, special=True), SCHEMA)
    path = str(tmp_path_factory.mktemp("cells") / "grid.parquet")
    write_parquet(df, path, layout="timeseries", entity_cols=["lat", "lon"],
                  time_col="time")
    cat = Catalog(spark)
    cat.register("grid", path)
    return ServingHttpServer(cat, data_lake_path="/lake")


def call(srv, route, query):
    path = (f"/datasets/grid/{route}" if route == "point"
            else f"/api/v1/metrics/{route}/grid")
    return srv.handle("GET", path, {k: [str(v)] for k, v in query.items()},
                      None)[1]


# --- the reference: the routes as they ran on Spark before ----------------
# Each builds the route's whole payload (less "timestamp") from the Spark
# expressions and the post-processing the route used before it read cells.

def ref_slice(srv, query, start_key="start_year", end_key="end_year"):
    df, tcol, latc, lonc, var, key = srv._grid_dataset("grid", query)
    nlat, nlon = srv._nearest(key, df, latc, lonc, float(query["lat"]),
                              float(query["lon"]))
    out = df.where((F.col(latc) == nlat) & (F.col(lonc) == nlon))
    y0, y1 = query.get(start_key), query.get(end_key)
    y0, y1 = (None if y is None else int(y) for y in (y0, y1))
    if y0 is not None:
        out = out.where(F.year(tcol) >= y0)
    if y1 is not None:
        out = out.where(F.year(tcol) <= y1)
    return out, tcol, var, (nlat, nlon), (y0, y1)


def ref_point(srv, query):
    lat, lon = float(query["lat"]), float(query["lon"])
    df, tcol, latc, lonc, var, key = srv._grid_dataset("grid", query)
    nlat, nlon = srv._nearest(key, df, latc, lonc, lat, lon)
    out = df.where((F.col(latc) == nlat) & (F.col(lonc) == nlon))
    tr = srv._trange({k: [v] for k, v in query.items()})
    if tr is not None:
        out = out.where(F.col(tcol).between(*tr))
    rows = (out.select(tcol, var).orderBy(tcol)
               .limit(srv.api.MAX_TIMESTEPS).collect())
    return {"dataset": "grid",
            "location": {"lat": nlat, "lon": nlon,
                         "requested": {"lat": lat, "lon": lon}},
            "time_range": {"start": query.get("start_date"),
                           "end": query.get("end_date")},
            "variable": var,
            "data": {"times": [str(r[tcol]) for r in rows],
                     "values": [r[var] for r in rows]}}


def ref_temporal(srv, query):
    out, tcol, var, loc, (y0, y1) = ref_slice(srv, query)
    metric = query["metric"]
    if metric == "monthly":
        labels, key = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul",
                       "Aug", "Sep", "Oct", "Nov", "Dec"], F.month(tcol)
    elif metric == "seasonal":
        labels = ["DJF", "MAM", "JJA", "SON"]
        key = F.floor((F.month(tcol) % 12) / 3)
    else:
        labels, key = None, F.year(tcol)
    rows = (out.groupBy(key.alias("__k"))
               .agg(F.avg(var).alias("__m")).collect())
    if metric == "annual":
        rows.sort(key=lambda r: (r["__k"] is not None, r["__k"]))
        labels = [str(r["__k"]) for r in rows]
        values = [r["__m"] for r in rows]
    else:
        by_k = {r["__k"]: r["__m"] for r in rows}
        first = 1 if metric == "monthly" else 0
        values = [by_k.get(k) for k in range(first, first + len(labels))]
    return {"dataset": "grid", "metric": f"{metric}_mean",
            "location": {"lat": loc[0], "lon": loc[1]},
            "period": {"start_year": y0, "end_year": y1},
            "values": {"labels": labels, "values": values}}


def ref_percentiles(srv, query):
    pcts = [int(p) for p in query.get("percentiles",
                                      "10,25,50,75,90,95,99").split(",")]
    out, tcol, var, loc, (y0, y1) = ref_slice(
        srv, query, "reference_start", "reference_end")
    rows = (out.groupBy(F.month(tcol).alias("__m"))
               .agg(F.percentile(var, F.array(
                   *[F.lit(p / 100.0) for p in pcts])).alias("__p"))
               .collect())
    by_m = {r["__m"]: r["__p"] for r in rows}
    return {"dataset": "grid",
            "location": {"lat": loc[0], "lon": loc[1]},
            "reference_period": {"start": y0, "end": y1},
            "percentiles": pcts,
            "values": {"months": list(range(1, 13)),
                       **{f"p{p}": [by_m.get(m, [None] * len(pcts))[i]
                                    for m in range(1, 13)]
                          for i, p in enumerate(pcts)}}}


def ref_trend(srv, query):
    from climate_data_pipeline_spark.operators.trends import (
        trend_with_confidence,
    )
    conf = float(query.get("confidence", 0.95))
    out, tcol, var, loc, (y0, y1) = ref_slice(srv, query)
    r = trend_with_confidence(out, tcol, var, confidence=conf).first()
    if r is None or r["n"] < 3:
        raise ApiError(404, "not enough data for a trend")
    se, margin = r["std_err"], r["margin"]
    if se is None or se != se or se <= 0:
        se, margin = 0.0, 0.0
    if se == 0:
        p_value = 0.0 if r["slope"] else 1.0
    else:
        tstat = r["slope"] / se
        p_value = 2 * (1 - 0.5 * (1 + math.erf(abs(tstat) / math.sqrt(2))))
    years = ((y1 or 9999) - (y0 or 0))
    return {"dataset": "grid",
            "location": {"lat": loc[0], "lon": loc[1]},
            "period": {"start": y0, "end": y1},
            "trend": {"slope": r["slope"], "slope_units": "units per year",
                      "total_change": (r["slope"] * years
                                       if y0 and y1 else None),
                      "p_value": p_value,
                      "significant": p_value < (1 - conf),
                      "confidence_level": conf,
                      "confidence_interval": {
                          "lower": r["slope"] - margin,
                          "upper": r["slope"] + margin}},
            "method": "ordinary_least_squares", "n": r["n"]}


def ref_anomaly(srv, query):
    at = query["time"]
    kind = query.get("anomaly_type", "absolute")
    month = int(at.split("-")[1])
    out, tcol, var, loc, (y0, y1) = ref_slice(
        srv, query, "reference_start", "reference_end")
    in_month = F.when(F.month(tcol) == month, F.col(var))
    on_day = F.when(F.to_date(F.col(tcol)) == at, F.col(var))
    r = out.agg(F.avg(in_month).alias("m"),
                F.stddev_pop(in_month).alias("s"),
                F.avg(on_day).alias("v")).first()
    if r["m"] is None or r["v"] is None:
        raise ApiError(404, f"no data at {at}")
    if kind == "absolute":
        value, units, cstd = r["v"] - r["m"], "units", None
    else:
        if not r["s"]:
            raise ApiError(422, "zero climatological variance")
        value = (r["v"] - r["m"]) / r["s"]
        units, cstd = "standard deviations", r["s"]
    return {"dataset": "grid",
            "location": {"lat": loc[0], "lon": loc[1]},
            "time": at, "reference_period": {"start": y0, "end": y1},
            "anomaly": {"type": kind, "value": value, "units": units,
                        "climatology_month": month,
                        "climatological_mean": r["m"],
                        "climatological_std": cstd},
            "classification": ServingHttpServer._classify_anomaly(value,
                                                                  kind)}


REFS = {"point": ref_point, "temporal": ref_temporal,
        "percentiles": ref_percentiles, "trend": ref_trend,
        "anomaly": ref_anomaly}


def check(srv, route, query):
    """The route's payload is bit-identical to the reference's. Where
    the reference's route answered 404/422 the route does too; where
    Spark raised (ANSI CAST_INVALID_INPUT on a malformed bound, an HTTP
    500 before) the route answers 422."""
    try:
        want = REFS[route](srv, query)
    except ApiError as exc:
        with pytest.raises(ApiError) as err:
            call(srv, route, query)
        assert err.value.status == exc.status, (route, query)
        return
    except Exception as exc:
        assert "CAST_INVALID_INPUT" in str(exc), exc
        with pytest.raises(ApiError) as err:
            call(srv, route, query)
        assert err.value.status == 422, (route, query)
        return
    assert bits(call(srv, route, query)) == bits(want), (route, query)


CELLS = [(la, lo) for la in LATS for lo in LONS]


@pytest.mark.parametrize("la,lo", CELLS)
def test_routes_bit_identical_to_spark_on_every_cell(grid_store, la, lo):
    q = {"lat": la + 1.2, "lon": lo - 2.9}
    check(grid_store, "point", q)
    for metric in ("monthly", "seasonal", "annual"):
        check(grid_store, "temporal", {**q, "metric": metric})
    check(grid_store, "percentiles", q)
    check(grid_store, "trend", q)
    check(grid_store, "anomaly", {**q, "time": "2020-02-29"})
    check(grid_store, "anomaly", {**q, "time": "2019-01-04",
                                  "anomaly_type": "standardized"})


@pytest.mark.parametrize("query", [
    {"start_date": "2020-03-01", "end_date": "2020-03-09"},
    {"start_date": "2020-03-01T12:00:00", "end_date": "2020-03-09T00:00:00"},
    {"start_date": "2020-03-01 00:00:00.5", "end_date": "2020-04"},
    {"end_date": "2019-01-20"},
    {"start_date": "2021-12-25"},
    {"start_date": "2020-01-99"},
    {"start_date": "soon", "end_date": "2020-01-01"},
    {"start_date": "2020-03-09", "end_date": "2020-03-01"},
])
def test_point_bounds_match_spark(grid_store, query):
    for la, lo in ((20.0, 110.0), (30.0, 100.0)):
        check(grid_store, "point", {"lat": la, "lon": lo, **query})


@pytest.mark.parametrize("la,lo", [(20.0, 110.0), (10.0, 120.0),
                                   (30.0, 100.0)])
def test_ranges_and_parameters_match_spark(grid_store, la, lo):
    q = {"lat": la, "lon": lo}
    check(grid_store, "temporal", {**q, "metric": "monthly",
                                   "start_year": 2020})
    check(grid_store, "temporal", {**q, "metric": "annual",
                                   "start_year": 2019, "end_year": 2020})
    check(grid_store, "percentiles", {**q, "percentiles": "0,50,100",
                                      "reference_start": 2019,
                                      "reference_end": 2019})
    for conf in (0.9, 0.99, 0.8):
        check(grid_store, "trend", {**q, "start_year": 2019,
                                    "end_year": 2020, "confidence": conf})
    check(grid_store, "anomaly", {**q, "time": "2021-06-30",
                                  "reference_start": 2020})
    check(grid_store, "anomaly", {**q, "time": "2030-01-01"})   # no data
    check(grid_store, "anomaly", {**q, "time": "2020-01-99"})   # malformed
    check(grid_store, "anomaly", {**q, "time": "2020-01-05 whatever"})


def test_cold_point_family_requests_run_no_spark_job(grid_store,
                                                     spark_jobs_of):
    call(grid_store, "point", {"lat": 10, "lon": 100})   # coords cached
    for route, extra in (("point", {}), ("temporal", {"metric": "annual"}),
                         ("percentiles", {}), ("trend", {}),
                         ("anomaly", {"time": "2020-05-05"})):
        body, jobs = spark_jobs_of(lambda: call(
            grid_store, route, {"lat": 30, "lon": 120, **extra}))
        assert jobs == 0, route
        assert body["location"]["lat"] == 30.0
    assert grid_store.catalog.cell_reads["parquet"] >= 5


def test_netcdf_frame_arm_returns_the_same_payloads(spark, tmp_path):
    """The frame arm (`where` + `select` + `toArrow`) on a NetCDF
    registration of a grid serves what the parquet arm serves."""
    from climate_data_pipeline_spark.sources.netcdf import long_to_netcdf3

    df = spark.createDataFrame(grid_rows(12, special=False), SCHEMA)
    pq_path = str(tmp_path / "g.parquet")
    write_parquet(df, pq_path, layout="timeseries",
                  entity_cols=["lat", "lon"], time_col="time")
    nc_path = str(tmp_path / "g.nc")
    long_to_netcdf3(df, nc_path, dim_cols=["time", "lat", "lon"],
                    var_cols=["temperature"])
    out = {}
    for fmt, path in (("parquet", pq_path), ("frame", nc_path)):
        cat = Catalog(spark)
        cat.register("grid", path)
        srv = ServingHttpServer(cat)
        q = {"lat": 20, "lon": 120}
        out[fmt] = [bits(call(srv, r, {**q, **x})) for r, x in (
            ("point", {"start_date": "2020-02-27", "end_date": "2020-03-02"}),
            ("temporal", {"metric": "seasonal"}),
            ("percentiles", {}), ("trend", {"start_year": 2020}),
            ("anomaly", {"time": "2021-01-15",
                         "anomaly_type": "standardized"}))]
        assert cat.cell_reads == {"parquet": 5 * (fmt == "parquet"),
                                  "frame": 5 * (fmt == "frame")}
    assert out["frame"] == out["parquet"]


def test_rewritten_store_is_reread(spark, tmp_path):
    """A cached point request, an overwrite of the store with new rows,
    then the same request: the new rows, not the cached old ones."""
    path = str(tmp_path / "g.parquet")
    rows = grid_rows(13, special=False)
    spark.createDataFrame(rows, SCHEMA).write.parquet(path)
    cat = Catalog(spark)
    cat.register("grid", path)
    srv = ServingHttpServer(cat)
    q = {"lat": 10, "lon": 100, "start_date": "2019-01-01",
         "end_date": "2019-01-03"}
    first = call(srv, "point", q)["data"]["values"]
    assert call(srv, "point", q)["data"]["values"] == first     # cached
    shifted = [(t, la, lo, v + 1.0) for t, la, lo, v in rows]
    spark.createDataFrame(shifted, SCHEMA).write.mode("overwrite") \
        .parquet(path)
    again = call(srv, "point", q)["data"]["values"]
    assert again == [v + 1.0 for v in first]


def test_small_row_groups_read_only_the_cell_groups(spark, tmp_path):
    """A store written with small row groups: the row groups whose
    lat/lon statistics exclude the cell are overwritten with garbage on
    disk, and the cell still reads correctly, so they were never
    decoded."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = sorted(grid_rows(14, special=False), key=lambda r: (r[1], r[2],
                                                                r[0]))
    table = pa.table({
        "time": pa.array([r[0] for r in rows], pa.timestamp("us", "UTC")),
        "lat": [r[1] for r in rows], "lon": [r[2] for r in rows],
        "temperature": [r[3] for r in rows]})
    path = str(tmp_path / "rg.parquet")
    os.makedirs(path)
    f = os.path.join(path, "part-0.parquet")
    pq.write_table(table, f, row_group_size=500)
    md = pq.ParquetFile(f).metadata
    want_cell = (20.0, 110.0)
    admitted = 0
    with open(f, "r+b") as fh:
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = {rg.column(c).path_in_schema: rg.column(c).statistics
                  for c in range(rg.num_columns)}
            if st["lat"].min <= want_cell[0] <= st["lat"].max and \
                    st["lon"].min <= want_cell[1] <= st["lon"].max:
                admitted += 1
                continue
            for c in range(rg.num_columns):
                col = rg.column(c)
                start = col.dictionary_page_offset or col.data_page_offset
                fh.seek(start)
                fh.write(b"\xff" * col.total_compressed_size)
    assert 0 < admitted < md.num_row_groups / 3
    cat = Catalog(spark)
    cat.register("grid", path)
    cell = cat.read_cell("grid", "time", "temperature",
                         {"lat": want_cell[0], "lon": want_cell[1]})
    want = [r[3] for r in rows if (r[1], r[2]) == want_cell]
    assert cell.column(1).to_pylist() == want
    assert cell.num_rows == DAYS


@pytest.mark.parametrize("tz", ["America/New_York", "+05:30"])
def test_tz_naive_store_reads_as_wall_clock_in_session_zone(spark, tmp_path,
                                                            tz):
    """tz-naive micros (Spark: TIMESTAMP_NTZ, cast to TIMESTAMP in the
    session zone by `load_parquet`) read as the same instants by the
    pyarrow arm as by Spark, across a DST gap and an overlap, with the
    calendar fields the routes use."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    wall = [dt.datetime(2021, 3, 14, h, 30) for h in range(5)] + \
           [dt.datetime(2021, 11, 7, h, 30) for h in range(4)] + \
           [dt.datetime(2020, 12, 31, 23, 30), dt.datetime(2021, 1, 1, 2)]
    path = str(tmp_path / "naive.parquet")
    os.makedirs(path)
    pq.write_table(pa.table({
        "time": pa.array(wall, pa.timestamp("us")),
        "lat": [1.0] * len(wall), "lon": [2.0] * len(wall),
        "v": [float(i) for i in range(len(wall))]}),
        os.path.join(path, "part-0.parquet"))
    before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        cat = Catalog(spark)
        cat.register("naive", path)
        srv = ServingHttpServer(cat)
        cell = cat.read_cell("naive", "time", "v", {"lat": 1.0, "lon": 2.0})
        assert cat.cell_reads["parquet"] == 1
        want = (cat.load("naive").orderBy("time")
                .select(F.unix_micros("time").alias("us"),
                        F.month("time").alias("m"),
                        F.year("time").alias("y"),
                        F.datediff(F.to_date("time"),
                                   F.lit("1970-01-01")).alias("d"))
                .collect())
        got = srv._cell("naive", {"lat": ["1"], "lon": ["2"]})[0]
        assert cell.column(0).cast(pa.int64()).to_pylist() == \
            [r["us"] for r in want] == got.us
        assert got.month == [r["m"] for r in want]
        assert got.year == [r["y"] for r in want]
        assert got.days() == [r["d"] for r in want]
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)


def test_concurrent_cell_reads_agree_and_are_counted(grid_store):
    """Server threads read cells at once (the lazily opened dataset and
    the per-arm counter are shared), with the interpreter switching
    threads every microsecond."""
    import sys
    import threading

    cat = grid_store.catalog
    want = cat.read_cell("grid", "time", "temperature",
                         {"lat": 10.0, "lon": 100.0})
    before = cat.cell_reads["parquet"]
    got, n_threads, n_reads = [], 8, 10

    def read():
        for _ in range(n_reads):
            got.append(cat.read_cell("grid", "time", "temperature",
                                     {"lat": 10.0, "lon": 100.0}))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=read) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == n_threads * n_reads
    assert all(t.equals(want) for t in got)
    assert cat.cell_reads["parquet"] == before + n_threads * n_reads
