"""Endpoint-contract tests for the stdlib HTTP facade: status codes and
payload keys mirror the reference's FastAPI surface (api/main.py)."""

from __future__ import annotations

import json
import urllib.request
from urllib.error import HTTPError

import pytest

from climate_data_pipeline_spark.http_server import ServingHttpServer
from climate_data_pipeline_spark.sources.catalog import Catalog


@pytest.fixture(scope="module")
def server(spark, sf_small):
    cat = Catalog(spark)
    cat.register("lineitem", f"{sf_small}/lineitem.parquet",
                 title="Line items")
    cat.register("events", f"{sf_small}/events.parquet", title="Events")
    srv = ServingHttpServer(cat, data_lake_path="/lake")
    port = srv.start()
    yield f"http://127.0.0.1:{port}"
    srv.stop()


def _get(url):
    with urllib.request.urlopen(url, timeout=30) as r:
        ctype = r.headers.get("Content-Type", "")
        raw = r.read()
        return r.status, (json.loads(raw) if "json" in ctype
                          else raw.decode())


def _post(url, payload):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with urllib.request.urlopen(req, timeout=30) as r:
        return r.status, json.loads(r.read())


def test_health_and_ready(server):
    st, body = _get(f"{server}/health")
    assert st == 200
    assert body["status"] == "healthy" and "version" in body \
        and body["data_lake_path"] == "/lake"
    st, body = _get(f"{server}/ready")
    assert st == 200 and body == {"status": "ready"}


def test_datasets_list_and_detail(server):
    st, body = _get(f"{server}/datasets")
    assert st == 200 and {d["id"] for d in body} == {"lineitem", "events"}
    for d in body:
        assert {"id", "name", "description", "format",
                "variables"} <= set(d)
    st, one = _get(f"{server}/datasets/events")
    assert st == 200 and one["id"] == "events" \
        and "ts" in one["variables"]
    with pytest.raises(HTTPError) as e:
        _get(f"{server}/datasets/nope")
    assert e.value.code == 404
    assert "not found" in json.loads(e.value.read())["detail"]


def test_data_query_contract(server):
    st, body = _post(f"{server}/data/query",
                     {"dataset_id": "events", "variable": "value"})
    assert st == 200
    assert {"dataset_id", "variable", "shape", "dtype", "zarr_url",
            "access_latency_ms"} <= set(body)
    assert body["zarr_url"] == "/lake/events/value.zarr"
    # validation: missing field -> 422; bad bbox -> 422; unknown -> 404
    for payload, code in (
            ({"variable": "value"}, 422),
            ({"dataset_id": "events", "variable": "value",
              "bbox": [1, 2]}, 422),
            ({"dataset_id": "nope", "variable": "value"}, 404),
            ({"dataset_id": "events", "variable": "nope"}, 404)):
        with pytest.raises(HTTPError) as e:
            _post(f"{server}/data/query", payload)
        assert e.value.code == code


def test_variable_metadata(server):
    st, body = _get(f"{server}/data/events/value/metadata")
    assert st == 200
    assert {"dataset_id", "variable", "dimensions", "dtype",
            "compression", "compression_level"} <= set(body)
    assert body["dtype"] == "double"


def test_stac_routes(server):
    st, root = _get(f"{server}/stac")
    assert st == 200 and root["type"] == "Catalog" \
        and root["stac_version"] == "1.0.0"
    st, cols = _get(f"{server}/stac/collections")
    assert st == 200 and {c["id"] for c in cols["collections"]} == {
        "lineitem", "events"}
    st, res = _get(f"{server}/stac/search?collections=events")
    assert st == 200 and res["context"]["returned"] == 1 \
        and res["features"][0]["id"] == "events"


def test_metrics_exposition(server):
    _get(f"{server}/health")
    st, text = _get(f"{server}/metrics")
    assert st == 200
    assert "# TYPE arco_requests_total counter" in text
    assert 'arco_requests_total{method="GET",endpoint="/health",' \
           'status="200"}' in text
    assert "arco_request_latency_seconds_count" in text
    assert "# TYPE arco_request_latency_seconds histogram" in text
    health = 'method="GET",endpoint="/health"'
    buckets = [line for line in text.splitlines() if line.startswith(
        f"arco_request_latency_seconds_bucket{{{health},le=")]
    assert buckets[-1].startswith(
        f'arco_request_latency_seconds_bucket{{{health},le="+Inf"}}')
    counts = [int(line.rsplit(" ", 1)[1]) for line in buckets]
    assert len(counts) > 1 and counts == sorted(counts)   # cumulative
    count = next(line for line in text.splitlines() if line.startswith(
        f"arco_request_latency_seconds_count{{{health}}}"))
    assert counts[-1] == int(count.rsplit(" ", 1)[1]) >= 1
    for name, kind in (("arco_cache_hits_total", "counter"),
                       ("arco_cache_misses_total", "counter"),
                       ("arco_cache_entries", "gauge"),
                       ("arco_cache_evictions_total", "counter")):
        assert f"# TYPE {name} {kind}" in text
        assert any(line.startswith(f"{name} ") for line in text.splitlines())
    assert "# TYPE arco_cell_reads_total counter" in text
    for reader in ("parquet", "frame"):
        assert any(line.startswith(f'arco_cell_reads_total{{reader="{reader}"}} ')
                   for line in text.splitlines())


def test_metrics_count_cell_reads(climate_server):
    """A cold point request reads its cell with pyarrow (the parquet
    reader), counted on /metrics."""
    url, _rows = climate_server

    def value(text, prefix):
        return int(next(line for line in text.splitlines()
                        if line.startswith(prefix)).rsplit(" ", 1)[1])

    _, before = _get(f"{url}/metrics")
    _get(f"{url}/datasets/era5-like/point?lat=0&lon=110"
         "&start_date=2020-02-01")
    _, after = _get(f"{url}/metrics")
    reads = 'arco_cell_reads_total{reader="parquet"}'
    assert value(after, reads) == value(before, reads) + 1
    assert value(after, 'arco_cell_reads_total{reader="frame"}') == \
        value(before, 'arco_cell_reads_total{reader="frame"}')


# ============ climate data/metrics routes: REAL computed values =============

@pytest.fixture(scope="module")
def climate_server(spark, tmp_path_factory):
    """A (time, lat, lon, temperature, precipitation) grid dataset served
    through the facade — the routes the reference declares but stubs
    with samples (routes/data.py:125, routes/metrics.py:46)."""
    import numpy as np
    import pandas as pd

    times = pd.date_range("2020-01-01", periods=60, freq="D")
    lats, lons = [0.0, 10.0, 20.0], [100.0, 110.0]
    rows = [(t.to_pydatetime(), la, lo,
             280.0 + la / 10.0 + i * 0.1 + (lo - 100) / 100.0,
             float(i % 7))
            for i, t in enumerate(times) for la in lats for lo in lons]
    df = spark.createDataFrame(
        rows, "ts timestamp, lat double, lon double, "
              "temperature double, precipitation double")
    path = str(tmp_path_factory.mktemp("clim") / "grid.parquet")
    df.write.parquet(path)
    cat = Catalog(spark)
    cat.register("era5-like", path, title="ERA5-like grid")
    srv = ServingHttpServer(cat, data_lake_path="/lake")
    port = srv.start()
    yield f"http://127.0.0.1:{port}", rows
    srv.stop()


def test_point_route_real_series(climate_server):
    url, rows = climate_server
    st, body = _get(f"{url}/datasets/era5-like/point?lat=9&lon=104"
                    "&start_date=2020-01-05&end_date=2020-01-08")
    assert st == 200
    # nearest grid point of (9, 104) is (10, 100)
    assert body["location"]["lat"] == 10.0 \
        and body["location"]["lon"] == 100.0
    assert body["variable"] == "temperature"
    assert len(body["data"]["times"]) == 4       # 4 days
    want = [v for (t, la, lo, v, _p) in rows
            if la == 10.0 and lo == 100.0
            and "2020-01-05" <= str(t) <= "2020-01-09"]
    assert body["data"]["values"] == want
    # the reference-exact prefixed path serves the same payload
    st2, body2 = _get(f"{url}/api/v1/data/datasets/era5-like/point"
                      "?lat=9&lon=104&start_date=2020-01-05"
                      "&end_date=2020-01-08")
    assert st2 == 200 and body2["data"] == body["data"]
    with pytest.raises(HTTPError) as e:
        _get(f"{url}/datasets/era5-like/point?lon=0")
    assert e.value.code == 422


def test_cached_point_request_runs_no_spark_job(climate_server,
                                               spark_jobs_of):
    """A repeated point request is a cache hit: neither the cache lookup
    nor re-opening the unchanged store runs a Spark job."""
    url, _rows = climate_server
    q = f"{url}/datasets/era5-like/point?lat=20&lon=110"
    first = _get(q)
    again, n_jobs = spark_jobs_of(lambda: _get(q))
    assert again[0] == 200 and again[1]["data"] == first[1]["data"]
    assert n_jobs == 0


def test_region_route_pivots_grid(climate_server):
    url, rows = climate_server
    st, body = _get(f"{url}/datasets/era5-like/region?west=95&south=-5"
                    "&east=115&north=15&time=2020-01-03")
    assert st == 200
    assert body["grid"]["lats"] == [0.0, 10.0]
    assert body["grid"]["lons"] == [100.0, 110.0]
    vals = {(t.date().isoformat(), la, lo): v
            for (t, la, lo, v, _p) in rows}
    want = [[vals[("2020-01-03", la, lo)] for lo in (100.0, 110.0)]
            for la in (0.0, 10.0)]
    assert body["grid"]["values"] == want
    # default time = latest timestep
    st, body = _get(f"{url}/datasets/era5-like/region?west=95&south=-5"
                    "&east=115&north=15")
    assert st == 200 and body["time"].startswith("2020-02-29")


def test_stats_route_real_statistics(climate_server):
    url, rows = climate_server
    st, body = _get(f"{url}/datasets/era5-like/stats?west=95&south=-5"
                    "&east=115&north=25&start_date=2020-01-01"
                    "&end_date=2020-01-31")
    assert st == 200
    import statistics as st_
    sel = [v for (t, la, lo, v, _p) in rows if str(t) <= "2020-02-01"]
    assert abs(body["statistics"]["mean"] - st_.mean(sel)) < 1e-9
    assert body["statistics"]["min"] == min(sel)
    assert body["statistics"]["max"] == max(sel)
    assert body["n"] == len(sel)
    assert set(body["statistics"]) == {"mean", "std", "min", "max",
                                       "p10", "p50", "p90"}


def test_metric_temporal_monthly_real_means(climate_server):
    url, rows = climate_server
    st, body = _get(f"{url}/api/v1/metrics/temporal/era5-like"
                    "?metric=monthly&lat=0&lon=100")
    assert st == 200 and body["metric"] == "monthly_mean"
    assert body["values"]["labels"][0] == "Jan"
    jan = [v for (t, la, lo, v, _p) in rows
           if la == 0.0 and lo == 100.0 and t.month == 1]
    assert abs(body["values"]["values"][0] - sum(jan) / len(jan)) < 1e-9
    assert body["values"]["values"][3] is None    # no April data
    st, body = _get(f"{url}/api/v1/metrics/temporal/era5-like"
                    "?metric=seasonal&lat=0&lon=100")
    assert st == 200 and body["values"]["labels"] == ["DJF", "MAM",
                                                      "JJA", "SON"]
    with pytest.raises(HTTPError) as e:
        _get(f"{url}/api/v1/metrics/temporal/era5-like"
             "?metric=weekly&lat=0&lon=100")
    assert e.value.code == 422


def test_metric_percentiles_real_values(climate_server):
    url, rows = climate_server
    st, body = _get(f"{url}/api/v1/metrics/percentiles/era5-like"
                    "?lat=0&lon=100&percentiles=50")
    assert st == 200 and body["percentiles"] == [50]
    jan = sorted(v for (t, la, lo, v, _p) in rows
                 if la == 0.0 and lo == 100.0 and t.month == 1)
    import statistics as st_
    assert abs(body["values"]["p50"][0] - st_.median(jan)) < 1e-9
    assert body["values"]["months"] == list(range(1, 13))
    assert body["values"]["p50"][5] is None       # no June data


def test_metric_trend_real_slope(climate_server):
    url, rows = climate_server
    st, body = _get(f"{url}/api/v1/metrics/trend/era5-like"
                    "?lat=0&lon=100")
    assert st == 200
    tr = body["trend"]
    # the fixture is exactly linear at a fixed point: +0.1 per day ->
    # 0.1 * 365.25 per year, p = 0 in the exact-fit limit
    assert abs(tr["slope"] - 0.1 * 365.25) / (0.1 * 365.25) < 1e-6
    assert tr["significant"] is True and tr["p_value"] < 0.001
    assert tr["confidence_interval"]["lower"] <= tr["slope"] \
        <= tr["confidence_interval"]["upper"]
    assert body["method"] == "ordinary_least_squares"


def test_metric_anomaly_real_climatology(climate_server):
    url, rows = climate_server
    st, body = _get(f"{url}/api/v1/metrics/anomaly/era5-like"
                    "?lat=0&lon=100&time=2020-01-31")
    assert st == 200
    jan = [v for (t, la, lo, v, _p) in rows
           if la == 0.0 and lo == 100.0 and t.month == 1]
    obs = [v for (t, la, lo, v, _p) in rows
           if la == 0.0 and lo == 100.0
           and t.date().isoformat() == "2020-01-31"][0]
    want = obs - sum(jan) / len(jan)
    assert abs(body["anomaly"]["value"] - want) < 1e-9
    assert body["anomaly"]["climatology_month"] == 1
    assert body["classification"]["label"] == "Near normal"
    st, body = _get(f"{url}/api/v1/metrics/anomaly/era5-like"
                    "?lat=0&lon=100&time=2020-01-31"
                    "&anomaly_type=standardized")
    assert st == 200 \
        and body["anomaly"]["units"] == "standard deviations" \
        and body["anomaly"]["climatological_std"] is not None


def test_metric_anomaly_malformed_time_is_422(climate_server):
    """Regression: a non-date `time` must be a 422 validation error,
    not a 500 from int() blowing up inside the handler."""
    url, _rows = climate_server
    for bad in ("foo", "2020", "2020-xx-01", "2020-13-01"):
        with pytest.raises(HTTPError) as e:
            _get(f"{url}/api/v1/metrics/anomaly/era5-like"
                 f"?lat=0&lon=100&time={bad}")
        assert e.value.code == 422, bad


def test_cache_key_includes_variable(climate_server):
    """Regression: point/region/stats cache keys must carry the
    variable — a precipitation request right after the same-location
    temperature request must NOT be served the temperature values from
    cache."""
    url, rows = climate_server
    q = "lat=9&lon=104&start_date=2020-01-05&end_date=2020-01-08"
    _, t = _get(f"{url}/datasets/era5-like/point?{q}&variable=temperature")
    _, p = _get(f"{url}/datasets/era5-like/point"
                f"?{q}&variable=precipitation")
    want_p = [pv for (ts, la, lo, _v, pv) in rows
              if la == 10.0 and lo == 100.0
              and "2020-01-05" <= str(ts) <= "2020-01-09"]
    assert p["data"]["values"] == want_p
    assert t["data"]["values"] != p["data"]["values"]
    b = ("west=95&south=-5&east=115&north=25"
         "&start_date=2020-01-01&end_date=2020-01-31")
    _, s_t = _get(f"{url}/datasets/era5-like/stats?{b}")
    _, s_p = _get(f"{url}/datasets/era5-like/stats"
                  f"?{b}&variable=precipitation")
    assert s_t["statistics"]["mean"] != s_p["statistics"]["mean"]
    r = "west=95&south=-5&east=115&north=15&time=2020-01-03"
    _, g_t = _get(f"{url}/datasets/era5-like/region?{r}")
    _, g_p = _get(f"{url}/datasets/era5-like/region"
                  f"?{r}&variable=precipitation")
    assert g_t["grid"]["values"] != g_p["grid"]["values"]


def test_end_date_with_time_component(climate_server):
    """Regression: an end_date that already carries a time component
    must be used as-is — appending ' 23:59:59.999999' makes the cast
    NULL and silently empties the result."""
    url, _rows = climate_server
    st, body = _get(f"{url}/datasets/era5-like/point?lat=9&lon=104"
                    "&start_date=2020-01-05"
                    "&end_date=2020-01-08T00:00:00")
    assert st == 200
    assert len(body["data"]["values"]) == 4      # 05..08 inclusive
    st, body = _get(f"{url}/datasets/era5-like/stats?west=95&south=-5"
                    "&east=115&north=25&start_date=2020-01-01"
                    "&end_date=2020-01-31T12:00:00")
    assert st == 200 and body["n"] > 0


def test_stats_and_region_malformed_date_is_422(climate_server,
                                                 spark_jobs_of, capfd):
    """A malformed date bound or slice time answers 422 naming the field,
    as the point-family routes do, not a 500 from ANSI Spark's
    CAST_INVALID_INPUT — checked before the query, so no Spark job runs
    and Spark logs no CAST_INVALID_INPUT error trace."""
    url, _rows = climate_server
    box = "west=95&south=-5&east=115&north=25"
    _get(f"{url}/datasets/era5-like/stats?{box}")    # the store is loaded
    for route, q, field in (
            ("stats", "start_date=2020-01-99", "start_date"),
            ("stats", "start_date=2020-01-01&end_date=2020-01-99",
             "end_date"),
            ("region", "time=2020-01-99", "time")):
        def get():
            with pytest.raises(HTTPError) as e:
                _get(f"{url}/datasets/era5-like/{route}?{box}&{q}")
            return e
        e, n_jobs = spark_jobs_of(get)
        assert e.value.code == 422 and n_jobs == 0, (route, q, n_jobs)
        detail = json.loads(e.value.read())["detail"]
        assert field in detail and "2020-01-99" in detail, detail
    assert "CAST_INVALID_INPUT" not in capfd.readouterr().err
    # the rejected requests cached nothing: valid ones still answer
    st, body = _get(f"{url}/datasets/era5-like/stats?{box}"
                    "&start_date=2020-01-01&end_date=2020-01-31")
    assert st == 200 and body["n"] > 0


def test_dataset_format_is_the_one_the_catalog_reads(spark, tmp_path):
    """`/datasets` reports the format `Catalog._open` reads a path as:
    a Zarr store registered without the `.zarr` suffix (found by its
    `.zmetadata`) is "zarr", a parquet directory without a suffix is
    "parquet", a classic NetCDF file is "netcdf"."""
    import numpy as np

    from climate_data_pipeline_spark.sources import netcdf3, zarr2

    store = str(tmp_path / "arco_store")
    zarr2.write_zarr(store, {"x": np.array([1.0, 2.0])},
                     {"v": (["x"], np.array([3.0, 4.0]), {})})
    table = str(tmp_path / "table")
    spark.range(3).write.parquet(table)
    nc = str(tmp_path / "grid.nc")
    netcdf3.write_netcdf3(nc, {"x": 2},
                          {"x": (["x"], np.array([1.0, 2.0]), {}),
                           "v": (["x"], np.array([3.0, 4.0]), {})})
    cat = Catalog(spark)
    cat.register("z", store, title="Zarr")
    cat.register("p", table, title="Parquet")
    cat.register("n", nc, title="NetCDF")
    srv = ServingHttpServer(cat, data_lake_path="/lake")
    port = srv.start()
    try:
        st, body = _get(f"http://127.0.0.1:{port}/datasets")
    finally:
        srv.stop()
    assert st == 200
    assert {d["id"]: d["format"] for d in body} == {
        "z": "zarr", "p": "parquet", "n": "netcdf"}
    assert cat.load("z").count() == 2
