"""Stdlib HTTP facade over the serving layer — the reference's FastAPI
surface (`api/main.py:106-317`) as a dependency-free `http.server` app,
so the endpoint contract (paths, status codes, payload keys) has a live,
testable analogue without FastAPI/uvicorn in the environment.

Endpoints mirrored (reference line refs in handlers):
  GET  /health                       liveness        (main.py:106)
  GET  /ready                        readiness       (main.py:118)
  GET  /metrics                      Prometheus text (main.py:130)
  GET  /datasets[?collection=]       dataset list    (main.py:142)
  GET  /datasets/{id}                dataset info    (main.py:176, 404)
  POST /data/query                   query→store URL (main.py:196, 422)
  GET  /data/{id}/{var}/metadata     var metadata    (main.py:228)
  GET  /stac /stac/collections /stac/search          (main.py:254-317)

Queries execute through the library `ServingApi`/`Catalog`; request
counters and a latency histogram accumulate in-process and render in the
Prometheus exposition format (the reference's `arco_requests_total` /
`arco_request_latency_seconds` metrics, main.py:28-39), next to the
result cache's hit, miss, entry and eviction counts and the cell reads
per reader.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from .functions import spark_mirror as sm

VERSION = "1.0.0"


class Metrics:
    """Prometheus-style counters, rendered in exposition text format."""

    # upper bounds (seconds) of the latency histogram: the Prometheus
    # client's default buckets
    BUCKETS = (0.005, 0.01, 0.025, 0.05, 0.075, 0.1, 0.25, 0.5, 0.75,
               1.0, 2.5, 5.0, 7.5, 10.0)

    def __init__(self):
        self._lock = threading.Lock()
        self.requests: dict[tuple[str, str, str], int] = {}
        self.latency_sum: dict[tuple[str, str], float] = {}
        self.latency_count: dict[tuple[str, str], int] = {}
        # cumulative: latency_le[k][i] counts requests <= BUCKETS[i]
        self.latency_le: dict[tuple[str, str], list[int]] = {}

    def observe(self, method: str, endpoint: str, status: int,
                seconds: float) -> None:
        with self._lock:
            k = (method, endpoint, str(status))
            self.requests[k] = self.requests.get(k, 0) + 1
            lk = (method, endpoint)
            self.latency_sum[lk] = self.latency_sum.get(lk, 0.0) + seconds
            self.latency_count[lk] = self.latency_count.get(lk, 0) + 1
            le = self.latency_le.setdefault(lk, [0] * len(self.BUCKETS))
            for i, bound in enumerate(self.BUCKETS):
                if seconds <= bound:
                    le[i] += 1

    def render(self, cache_stats: dict, cell_reads: dict) -> str:
        """Exposition text; `cache_stats` is `QueryCache.stats()`,
        `cell_reads` is `Catalog.cell_reads`."""
        lines = ["# TYPE arco_requests_total counter"]
        with self._lock:
            for (m, e, s), n in sorted(self.requests.items()):
                lines.append(
                    f'arco_requests_total{{method="{m}",endpoint="{e}",'
                    f'status="{s}"}} {n}')
            lines.append("# TYPE arco_request_latency_seconds histogram")
            for (m, e), tot in sorted(self.latency_sum.items()):
                cnt = self.latency_count[(m, e)]
                labels = f'method="{m}",endpoint="{e}"'
                for bound, n in zip(self.BUCKETS, self.latency_le[(m, e)]):
                    lines.append(f'arco_request_latency_seconds_bucket'
                                 f'{{{labels},le="{bound}"}} {n}')
                lines.append(f'arco_request_latency_seconds_bucket'
                             f'{{{labels},le="+Inf"}} {cnt}')
                lines.append(
                    f'arco_request_latency_seconds_sum{{{labels}}} {tot:.6f}')
                lines.append(
                    f'arco_request_latency_seconds_count{{{labels}}} {cnt}')
        for name, kind, key in (
                ("arco_cache_hits_total", "counter", "hits"),
                ("arco_cache_misses_total", "counter", "misses"),
                ("arco_cache_entries", "gauge", "entries"),
                ("arco_cache_evictions_total", "counter", "evictions")):
            lines.append(f"# TYPE {name} {kind}")
            lines.append(f"{name} {cache_stats[key]}")
        lines.append("# TYPE arco_cell_reads_total counter")
        for reader, n in sorted(cell_reads.items()):
            lines.append(f'arco_cell_reads_total{{reader="{reader}"}} {n}')
        return "\n".join(lines) + "\n"


class ApiError(Exception):
    def __init__(self, status: int, detail: str):
        super().__init__(detail)
        self.status = status
        self.detail = detail


class ServingHttpServer:
    """Routes HTTP requests onto a `Catalog` + `ServingApi`."""

    def __init__(self, catalog, data_lake_path: str = "/data"):
        from .serving import ServingApi

        self.catalog = catalog
        self.data_lake_path = data_lake_path
        self.metrics = Metrics()
        self.api = ServingApi(catalog.spark)
        self._httpd: ThreadingHTTPServer | None = None
        self._pows: dict[float, tuple[float, float]] = {}   # `_z_powers`

    # --- route handlers (return (status, payload)) --------------------------

    def handle(self, method: str, path: str, query: dict,
               body: dict | None) -> tuple[int, object]:
        # the reference mounts its data router under /api/v1/data
        # (api/routes/data.py:9); accept both the prefixed (reference-
        # exact) and bare forms
        if path.startswith("/api/v1/data/"):
            path = path[len("/api/v1/data"):]
        if method == "GET" and path.startswith("/datasets/"):
            parts = path.split("/")
            if len(parts) == 4 and parts[3] in ("point", "region",
                                                "stats"):
                fn = {"point": self._point_route,
                      "region": self._region_route,
                      "stats": self._stats_route}[parts[3]]
                return 200, fn(parts[2], query)
        if method == "GET" and path.startswith("/api/v1/metrics/"):
            parts = path.split("/")
            if len(parts) == 6:
                fn = {"temporal": self._metric_temporal,
                      "percentiles": self._metric_percentiles,
                      "trend": self._metric_trend,
                      "anomaly": self._metric_anomaly}.get(parts[4])
                if fn is not None:
                    return 200, fn(parts[5], query)
        if method == "GET" and path == "/health":
            return 200, {"status": "healthy", "version": VERSION,
                         "data_lake_path": self.data_lake_path}
        if method == "GET" and path == "/ready":
            return 200, {"status": "ready"}
        if method == "GET" and path == "/metrics":
            return 200, self.metrics.render(      # text, not JSON
                self.api.cache.stats(), self.catalog.cell_reads)
        if method == "GET" and path == "/datasets":
            collection = (query.get("collection") or [None])[0]
            names = self.catalog.list_datasets()
            if collection:
                names = [n for n in names if collection in n]
            return 200, [self._dataset_info(n) for n in names]
        if method == "GET" and path.startswith("/datasets/"):
            name = path.split("/", 2)[2]
            if name not in self.catalog.list_datasets():
                raise ApiError(404, f"Dataset {name} not found")
            return 200, self._dataset_info(name)
        if method == "POST" and path == "/data/query":
            return 200, self._data_query(body or {})
        if method == "GET" and path.startswith("/data/"):
            parts = path.split("/")
            if len(parts) == 5 and parts[4] == "metadata":
                return 200, self._variable_metadata(parts[2], parts[3])
        if method == "GET" and path == "/stac":
            return 200, {
                "type": "Catalog", "stac_version": "1.0.0",
                "id": "arco-catalog",
                "title": "ARCO Data Catalog",
                "description": "Analysis-Ready Cloud-Optimised catalog",
                "links": [{"rel": "self", "href": "/stac"},
                          {"rel": "root", "href": "/stac"},
                          {"rel": "child", "href": "/stac/collections"}]}
        if method == "GET" and path == "/stac/collections":
            return 200, {"collections": self.catalog.to_stac_items(),
                         "links": [{"rel": "self",
                                    "href": "/stac/collections"},
                                   {"rel": "root", "href": "/stac"}]}
        if method == "GET" and path == "/stac/search":
            wanted = (query.get("collections") or [""])[0]
            ids = [c for c in wanted.split(",") if c]
            feats = [it for it in self.catalog.to_stac_items()
                     if not ids or it["id"] in ids]
            return 200, {"type": "FeatureCollection", "features": feats,
                         "links": [{"rel": "self", "href": "/stac/search"},
                                   {"rel": "root", "href": "/stac"}],
                         "context": {"returned": len(feats),
                                     "matched": len(feats)}}
        raise ApiError(404, f"No route for {method} {path}")

    def _dataset_info(self, name: str) -> dict:
        d = self.catalog.describe(name)
        return {"id": d["id"], "name": d["title"],
                "description": d["attrs"].get("description", d["title"]),
                "format": d["format"],
                "variables": sorted(d["variables"])}

    def _data_query(self, body: dict) -> dict:
        t0 = time.monotonic()
        for field in ("dataset_id", "variable"):
            if not body.get(field):
                raise ApiError(422, f"field {field!r} is required")
        bbox = body.get("bbox")
        if bbox is not None and (not isinstance(bbox, list)
                                 or len(bbox) != 4):
            raise ApiError(422, "bbox must be [west, south, east, north]")
        name = body["dataset_id"]
        if name not in self.catalog.list_datasets():
            raise ApiError(404, f"Dataset {name} not found")
        df = self.catalog.load(name)
        if body["variable"] not in df.columns:
            raise ApiError(404, f"variable {body['variable']!r} not in "
                                f"dataset {name}")
        zarr_url = f"{self.data_lake_path}/{name}/{body['variable']}.zarr"
        latency_ms = (time.monotonic() - t0) * 1000
        return {"dataset_id": name, "variable": body["variable"],
                "shape": [df.count(), 1] if body.get("compute_shape")
                         else [-1, 1],
                "dtype": dict((f.name, f.dataType.simpleString())
                              for f in df.schema.fields)[body["variable"]],
                "zarr_url": zarr_url,
                "access_latency_ms": round(latency_ms, 2)}

    def _variable_metadata(self, name: str, variable: str) -> dict:
        if name not in self.catalog.list_datasets():
            raise ApiError(404, f"Dataset {name} not found")
        d = self.catalog.describe(name)
        if variable not in d["variables"]:
            raise ApiError(404, f"variable {variable!r} not in {name}")
        return {"dataset_id": name, "variable": variable,
                "dimensions": sorted(d["variables"]),
                "dtype": d["variables"][variable]["dtype"],
                "compression": "zstd", "compression_level": 3,
                "attrs": {k: v for k, v in d["variables"][variable].items()
                          if k != "dtype"}}

    # --- climate data/metrics routes (REAL computation) ---------------------
    # The reference declares these endpoints but returns hardcoded
    # samples ("Sample data - connect to actual data store", routes/
    # data.py:125, metrics.py:46); here the same contract (paths, query
    # params, payload keys) is served from the catalog dataset. Region and
    # stats run Spark queries. The five one-cell routes (cold point,
    # temporal, percentiles, trend, anomaly) read their cell with
    # `Catalog.read_cell` (pyarrow, no Spark job, on a local parquet
    # store) and aggregate it with `functions.spark_mirror`, Spark's own
    # aggregate formulas, so each payload is bit-identical to the Spark
    # query it replaces. All reads are bounded: coordinate lists by the
    # grid resolution, a cell by its time steps, region grids by
    # ServingApi.MAX_POINTS, everything else is single-row aggregates.

    @staticmethod
    def _q(query: dict, key: str, cast=str, default=None, required=False):
        raw = (query.get(key) or [None])[0]
        if raw is None:
            if required:
                raise ApiError(422, f"query parameter {key!r} is required")
            return default
        try:
            return cast(raw)
        except (TypeError, ValueError):
            raise ApiError(422, f"invalid value for {key!r}: {raw!r}")

    def _grid_dataset(self, name: str, query: dict):
        """→ (df, time_col, lat_col, lon_col, value_col, key) or 404/422;
        `key` names the dataset in cache keys: its name plus the digest of
        the store state it was loaded at, so a rewritten store is never
        served from results of the old one."""
        if name not in self.catalog.list_datasets():
            raise ApiError(404, f"Dataset {name} not found")
        state = self.catalog.state(name)
        df = state.df
        tcol = next((f.name for f in df.schema.fields
                     if f.dataType.simpleString().startswith("timestamp")),
                    None)
        latc = next((c for c in df.columns
                     if c.lower() in ("lat", "latitude")), None)
        lonc = next((c for c in df.columns
                     if c.lower() in ("lon", "longitude")), None)
        var = self._q(query, "variable")
        if var is None:
            var = next((f.name for f in df.schema.fields
                        if f.dataType.simpleString() in ("double", "float")
                        and f.name not in (latc, lonc)), None)
        if var is not None and var not in df.columns:
            raise ApiError(404, f"variable {var!r} not in dataset {name}")
        if not all((tcol, latc, lonc, var)):
            raise ApiError(422, f"dataset {name} is not a (time, lat, "
                                "lon, value) grid")
        return df, tcol, latc, lonc, var, f"{name}@{state.digest}"

    def _nearest(self, key: str, df, latc: str, lonc: str,
                 lat: float, lon: float) -> tuple[float, float]:
        """Nearest grid coordinates (xarray .sel(method='nearest')
        semantics). The distinct coordinate lists are bounded by the
        grid resolution and cached per dataset state."""
        from .serving import cache_key

        def build():
            lats = [r[0] for r in df.select(latc).distinct().collect()]
            lons = [r[0] for r in df.select(lonc).distinct().collect()]
            return [sorted(lats), sorted(lons)]

        lats, lons = self.api.cached(cache_key("coords", dataset=key), build)
        if not lats or not lons:
            raise ApiError(404, f"dataset {key.split('@')[0]} has no data")
        return (min(lats, key=lambda v: (abs(v - lat), v)),
                min(lons, key=lambda v: (abs(v - lon), v)))

    @staticmethod
    def _trange(query: dict, start_key: str = "start_date",
                end_key: str = "end_date"):
        start = (query.get(start_key) or [None])[0]
        end = (query.get(end_key) or [None])[0]
        if start is None and end is None:
            return None
        end = end or "9999-12-31"
        if len(end) == 10:  # date-only bound is inclusive of the whole day
            end += " 23:59:59.999999"
        return (start or "0001-01-01", end)

    def _spark_cast(self, kind: str, text: str, field: str, tz: str) -> int:
        """`text` cast the way Spark casts a string compared with a
        TIMESTAMP (µs, in session time zone `tz`) or DATE (days) column;
        422 where ANSI Spark raises CAST_INVALID_INPUT."""
        jvm = self.catalog.spark.sparkContext._jvm
        utils = jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils
        utf8 = jvm.org.apache.spark.unsafe.types.UTF8String.fromString(text)
        opt = (utils.stringToTimestamp(utf8, utils.getZoneId(tz))
               if kind == "timestamp" else utils.stringToDate(utf8))
        if not opt.isDefined():
            raise ApiError(422, f"invalid value for {field!r}: {text!r}")
        return int(opt.get())

    def _cast_checked(self, run, bounds: list[tuple[str, str]]):
        """`run()`, with ANSI Spark's CAST_INVALID_INPUT answered as the
        point routes answer it: 422 naming the first of the (field,
        string) `bounds` that Spark cannot cast to a timestamp. Spark
        raises it only when a cache miss runs its query, so a cache hit
        pays nothing here."""
        from pyspark.errors import PySparkException

        try:
            return run()
        except PySparkException as exc:
            if exc.getCondition() != "CAST_INVALID_INPUT":
                raise
            tz = self.catalog.spark.conf.get("spark.sql.session.timeZone")
            for field, text in bounds:
                self._spark_cast("timestamp", text, field, tz)
            raise

    def _z_powers(self, z: float) -> tuple[float, float]:
        """(z ** 3, z ** 5) as Spark's `pow` computes them: the JVM's
        `StrictMath.pow`, which differs from C's `pow` in the last bit
        for about one z in five."""
        if z not in self._pows:
            pow_ = self.catalog.spark.sparkContext._jvm.java.lang \
                .StrictMath.pow
            self._pows[z] = (pow_(z, 3.0), pow_(z, 5.0))
        return self._pows[z]

    def _point_route(self, name: str, query: dict) -> dict:
        """`GET /datasets/{id}/point` (routes/data.py:88-127)."""
        import datetime as _dt

        from pyspark.sql.types import TimestampType

        from .serving import cache_key

        lat = self._q(query, "lat", float, required=True)
        lon = self._q(query, "lon", float, required=True)
        df, tcol, latc, lonc, var, key = self._grid_dataset(name, query)
        nlat, nlon = self._nearest(key, df, latc, lonc, lat, lon)
        tr = self._trange(query)
        keys = {latc: nlat, lonc: nlon}

        def build():
            # `orderBy(time).limit(MAX_TIMESTEPS).collect()` over the
            # cell, optionally `between` the bounds; `ts` as collect()
            # renders a TIMESTAMP (a local datetime)
            tz = self.catalog.spark.conf.get("spark.sql.session.timeZone")
            lo, hi = (None, None) if tr is None else (
                self._spark_cast("timestamp", tr[0], "start_date", tz),
                self._spark_cast("timestamp", tr[1], "end_date", tz))
            cell = _Cell(self.catalog.read_cell(name, tcol, var, keys))
            rows = []
            for t, v in zip(cell.us, cell.values):
                if tr is None or (t is not None and lo <= t <= hi):
                    rows.append({"ts": str(TimestampType().fromInternal(t)),
                                 "value": v})
                    if len(rows) == self.api.MAX_TIMESTEPS:
                        break
            return rows

        rows = self.api.cached(cache_key("point", dataset=key, var=var,
                                         keys=keys, tr=tr), build)
        return {
            "dataset": name,
            "location": {"lat": nlat, "lon": nlon,
                         "requested": {"lat": lat, "lon": lon}},
            "time_range": {"start": (query.get("start_date") or [None])[0],
                           "end": (query.get("end_date") or [None])[0]},
            "variable": var,
            "data": {"times": [r["ts"] for r in rows],
                     "values": [r["value"] for r in rows]},
            "timestamp": _dt.datetime.now(_dt.timezone.utc).isoformat(),
        }

    def _region_route(self, name: str, query: dict) -> dict:
        """`GET /datasets/{id}/region` (routes/data.py:130-171): the
        spatial field in a bbox at one time slice (default: latest),
        pivoted to the reference's lats × lons value matrix."""
        import datetime as _dt

        from .serving import cache_key

        bbox = tuple(self._q(query, k, float, required=True)
                     for k in ("west", "south", "east", "north"))
        df, tcol, latc, lonc, var, key = self._grid_dataset(name, query)
        at = (query.get("time") or [None])[0]
        if at is None:
            def latest():
                from pyspark.sql import functions as F
                return str(df.agg(F.max(tcol)).first()[0])
            at = self.api.cached(cache_key("latest", dataset=key), latest)
        sl = (at, at + (" 23:59:59.999999" if len(at) == 10 else ""))
        pts = self._cast_checked(
            lambda: self.api.region_grid(df, latc, lonc, var, bbox, at=sl,
                                         time_col=tcol,
                                         dataset=f"{key}@{at}"),
            [("time", sl[0]), ("time", sl[1])])
        lats = sorted({p["lat"] for p in pts})
        lons = sorted({p["lon"] for p in pts})
        cell = {(p["lat"], p["lon"]): p["value"] for p in pts}
        values = [[cell.get((la, lo)) for lo in lons] for la in lats]
        return {
            "dataset": name,
            "bbox": {"west": bbox[0], "south": bbox[1],
                     "east": bbox[2], "north": bbox[3]},
            "time": at, "variable": var,
            "grid": {"lats": lats, "lons": lons, "values": values},
            "timestamp": _dt.datetime.now(_dt.timezone.utc).isoformat(),
        }

    def _stats_route(self, name: str, query: dict) -> dict:
        """`GET /datasets/{id}/stats` (routes/data.py:172-214)."""
        import datetime as _dt

        from pyspark.sql import functions as F

        bbox = tuple(self._q(query, k, float, required=True)
                     for k in ("west", "south", "east", "north"))
        df, tcol, latc, lonc, var, key = self._grid_dataset(name, query)
        tr = self._trange(query)
        if tr is not None:
            df = df.where(F.col(tcol).between(*tr))
        stats = self._cast_checked(
            lambda: self.api.region_summary(
                df, latc, lonc, var, bbox,
                dataset=f"{key}@{tr[0]}:{tr[1]}" if tr else key),
            list(zip(("start_date", "end_date"), tr or ())))
        return {
            "dataset": name,
            "bbox": {"west": bbox[0], "south": bbox[1],
                     "east": bbox[2], "north": bbox[3]},
            "time_range": {"start": (query.get("start_date") or [None])[0],
                           "end": (query.get("end_date") or [None])[0]},
            "statistics": {k: stats[k] for k in
                           ("mean", "std", "min", "max", "p10", "p50",
                            "p90")},
            "n": stats["n"],
            "timestamp": _dt.datetime.now(_dt.timezone.utc).isoformat(),
        }

    def _cell(self, name: str, query: dict,
              start_key="start_year", end_key="end_year"):
        """Common metrics-route setup: the nearest cell's rows, read by
        `Catalog.read_cell`, kept where `year(time)` lies in the optional
        year range → (cell, value col, nearest, (y0, y1), session time
        zone)."""
        import pyarrow.compute as pc

        from .sources.catalog import local_micros

        lat = self._q(query, "lat", float, required=True)
        lon = self._q(query, "lon", float, required=True)
        df, tcol, latc, lonc, var, key = self._grid_dataset(name, query)
        nlat, nlon = self._nearest(key, df, latc, lonc, lat, lon)
        y0 = self._q(query, start_key, int)
        y1 = self._q(query, end_key, int)
        tz = self.catalog.spark.conf.get("spark.sql.session.timeZone")
        table = self.catalog.read_cell(name, tcol, var,
                                       {latc: nlat, lonc: nlon})
        zone = self.catalog.session_zone()
        year = pc.year(_naive(local_micros(table.column(0), zone)))
        for bound, keep in ((y0, pc.greater_equal), (y1, pc.less_equal)):
            if bound is not None:       # a null year drops, as in Spark
                mask = keep(year, bound)
                table, year = table.filter(mask), year.filter(mask)
        return _Cell(table, zone), var, (nlat, nlon), (y0, y1), tz

    def _metric_temporal(self, name: str, query: dict) -> dict:
        """`GET /api/v1/metrics/temporal/{id}` (routes/metrics.py:11-46):
        real monthly/seasonal/annual means at the nearest grid point —
        `groupBy(month | floor((month % 12) / 3) | year).agg(avg)`."""
        import datetime as _dt

        metric = self._q(query, "metric", required=True)
        if metric not in ("monthly", "seasonal", "annual"):
            raise ApiError(422, "metric must be monthly|seasonal|annual")
        cell, var, loc, (y0, y1), _ = self._cell(name, query)
        if metric == "monthly":
            labels = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul",
                      "Aug", "Sep", "Oct", "Nov", "Dec"]
            keys = cell.month
        elif metric == "seasonal":
            # DJF/MAM/JJA/SON, the reference's season labels
            # (metrics/temporal.py:73-83)
            labels = ["DJF", "MAM", "JJA", "SON"]
            keys = [None if m is None else (m % 12) // 3 for m in cell.month]
        else:
            labels = None
            keys = cell.year
        means = {k: sm.avg(vs) for k, vs in _groups(keys, cell.values)}
        if metric == "annual":
            order = sorted(means, key=lambda k: (k is not None, k))
            labels = [str(k) for k in order]
            values = [means[k] for k in order]
        else:
            first = 1 if metric == "monthly" else 0
            values = [means.get(k) for k in range(first,
                                                  first + len(labels))]
        return {
            "dataset": name, "metric": f"{metric}_mean",
            "location": {"lat": loc[0], "lon": loc[1]},
            "period": {"start_year": y0, "end_year": y1},
            "values": {"labels": labels, "values": values},
            "timestamp": _dt.datetime.now(_dt.timezone.utc).isoformat(),
        }

    def _metric_percentiles(self, name: str, query: dict) -> dict:
        """`GET /api/v1/metrics/percentiles/{id}`
        (routes/metrics.py:70-117): per-month climatological
        percentiles at the nearest grid point — `groupBy(month)
        .agg(percentile(value, array(p / 100.0, ...)))`."""
        import datetime as _dt

        raw = self._q(query, "percentiles", default="10,25,50,75,90,95,99")
        try:
            pcts = [int(p.strip()) for p in raw.split(",") if p.strip()]
        except ValueError:
            raise ApiError(422, f"invalid percentiles list: {raw!r}")
        if not pcts or not all(0 <= p <= 100 for p in pcts):
            raise ApiError(422, f"percentiles must be 0..100: {raw!r}")
        cell, var, loc, (y0, y1), _ = self._cell(
            name, query, "reference_start", "reference_end")
        ps = [p / 100.0 for p in pcts]
        by_m = {m: sm.percentile(vs, ps, cell.float32)
                for m, vs in _groups(cell.month, cell.values)}
        return {
            "dataset": name,
            "location": {"lat": loc[0], "lon": loc[1]},
            "reference_period": {"start": y0, "end": y1},
            "percentiles": pcts,
            "values": {"months": list(range(1, 13)),
                       **{f"p{p}": [(by_m.get(m) or [None] * len(pcts))[i]
                                    for m in range(1, 13)]
                          for i, p in enumerate(pcts)}},
            "timestamp": _dt.datetime.now(_dt.timezone.utc).isoformat(),
        }

    def _metric_trend(self, name: str, query: dict) -> dict:
        """`GET /api/v1/metrics/trend/{id}` (routes/metrics.py:119-162):
        OLS slope + significance at the nearest grid point, the A10
        closed-form stderr operator `trend_with_confidence`
        (scipy.linregress parity) over the cell."""
        import datetime as _dt
        import math

        from .operators.trends import _normal_quantile

        conf = self._q(query, "confidence", float, default=0.95)
        cell, var, loc, (y0, y1), tz = self._cell(name, query)
        # x = fractional_years(time, "1995-01-01"): whole seconds since t0
        # (unix_timestamp floors) over a 365.25-day year
        t0 = self._spark_cast("timestamp", "1995-01-01", "t0",
                              tz) // 1_000_000
        xs = [None if t is None else (t // 1_000_000 - t0) / 31557600.0
              for t in cell.us]
        n = sum(v is not None for v in cell.values)
        slope = sm.regr_slope(cell.values, xs)
        if n < 3 or slope is None:
            raise ApiError(404, "not enough data for a trend")
        se = sm.trend_std_err(sm.var_pop(cell.values), sm.var_pop(xs),
                              slope, n)
        z = _normal_quantile((1 + conf) / 2)
        z3, z5 = self._z_powers(z)
        margin = None if se is None else sm.t_crit(z, z3, z5, n) * se
        # two-sided p-value from the t statistic via the normal CDF
        # (n is large for climate series; documented approximation).
        # A perfectly-linear series makes the closed-form residual
        # variance a tiny negative number → NaN stderr; clamp to the
        # exact-fit limit (zero residual, p = 0).
        if se is None or se != se or se <= 0:
            se, margin = 0.0, 0.0
        if se == 0:
            p_value = 0.0 if slope else 1.0
        else:
            tstat = slope / se
            p_value = 2 * (1 - 0.5 * (1 + math.erf(abs(tstat)
                                                   / math.sqrt(2))))
        years = ((y1 or 9999) - (y0 or 0))
        return {
            "dataset": name,
            "location": {"lat": loc[0], "lon": loc[1]},
            "period": {"start": y0, "end": y1},
            "trend": {
                "slope": slope, "slope_units": "units per year",
                "total_change": (slope * years if y0 and y1 else None),
                "p_value": p_value,
                "significant": p_value < (1 - conf),
                "confidence_level": conf,
                "confidence_interval": {
                    "lower": slope - margin,
                    "upper": slope + margin},
            },
            "method": "ordinary_least_squares",
            "n": n,
            "timestamp": _dt.datetime.now(_dt.timezone.utc).isoformat(),
        }

    def _metric_anomaly(self, name: str, query: dict) -> dict:
        """`GET /api/v1/metrics/anomaly/{id}` (routes/metrics.py:164-218):
        anomaly vs the month's climatology at the nearest grid point,
        absolute or standardized, with the reference's severity
        classification (metrics.py:221-247): `avg`/`stddev_pop` of the
        month's values and `avg` of the values on `to_date(time) ==
        time`."""
        import datetime as _dt

        at = self._q(query, "time", required=True)
        kind = self._q(query, "anomaly_type", default="absolute")
        if kind not in ("absolute", "standardized"):
            raise ApiError(422, "anomaly_type must be "
                                "absolute|standardized")
        try:
            month = int(at.split("-")[1])
            if not 1 <= month <= 12:
                raise ValueError(at)
        except (IndexError, ValueError):
            raise ApiError(422, f"time must be YYYY-MM-DD, got {at!r}")
        cell, var, loc, (y0, y1), tz = self._cell(
            name, query, "reference_start", "reference_end")
        day = self._spark_cast("date", at, "time", tz)
        in_month = [v for m, v in zip(cell.month, cell.values) if m == month]
        clim, cstd = sm.avg(in_month), sm.stddev_pop(in_month)
        obs = sm.avg([v for d, v in zip(cell.days(), cell.values)
                      if d == day])
        if clim is None or obs is None:
            raise ApiError(404, f"no data at {at} for {name}")
        if kind == "absolute":
            value, units, cstd = obs - clim, "units", None
        else:
            if not cstd:
                raise ApiError(422, "zero climatological variance")
            value = (obs - clim) / cstd
            units = "standard deviations"
        return {
            "dataset": name,
            "location": {"lat": loc[0], "lon": loc[1]},
            "time": at,
            "reference_period": {"start": y0, "end": y1},
            "anomaly": {"type": kind, "value": value, "units": units,
                        "climatology_month": month,
                        "climatological_mean": clim,
                        "climatological_std": cstd},
            "classification": self._classify_anomaly(value, kind),
            "timestamp": _dt.datetime.now(_dt.timezone.utc).isoformat(),
        }

    @staticmethod
    def _classify_anomaly(value: float, anomaly_type: str) -> dict:
        """The reference's severity bands (routes/metrics.py:221-247)."""
        if anomaly_type == "standardized":
            bands = [(-2, -3, "Extremely below normal"),
                     (-1.5, -2, "Severely below normal"),
                     (-1, -1, "Moderately below normal"),
                     (1, 0, "Near normal"),
                     (1.5, 1, "Moderately above normal"),
                     (2, 2, "Severely above normal")]
            top = (3, "Extremely above normal")
        else:
            bands = [(-5, -2, "Much below normal"),
                     (-2, -1, "Below normal"),
                     (2, 0, "Near normal"),
                     (5, 1, "Above normal")]
            top = (2, "Much above normal")
        for bound, level, label in bands:
            if value < bound or (bound > 0 and value <= bound):
                return {"level": level, "label": label}
        return {"level": top[0], "label": top[1]}

    # --- plumbing -----------------------------------------------------------

    def _make_handler(server):
        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):    # silence default stderr noise
                pass

            def _run(self, method):
                t0 = time.monotonic()
                url = urlparse(self.path)
                status, payload = 500, {"detail": "Internal server error"}
                try:
                    body = None
                    if method == "POST":
                        n = int(self.headers.get("Content-Length") or 0)
                        raw = self.rfile.read(n) if n else b"{}"
                        try:
                            body = json.loads(raw or b"{}")
                        except json.JSONDecodeError:
                            raise ApiError(422, "body must be JSON")
                    status, payload = server.handle(
                        method, url.path, parse_qs(url.query), body)
                except ApiError as e:
                    status, payload = e.status, {"detail": e.detail}
                except Exception as e:          # mirror main.py:321
                    status, payload = 500, {"detail": f"Internal server "
                                                      f"error: {e}"}
                if isinstance(payload, str):
                    data = payload.encode()
                    ctype = "text/plain; version=0.0.4"
                else:
                    data = json.dumps(payload, default=str).encode()
                    ctype = "application/json"
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)
                server.metrics.observe(method, url.path, status,
                                       time.monotonic() - t0)

            def do_GET(self):
                self._run("GET")

            def do_POST(self):
                self._run("POST")

        return Handler

    def start(self, host: str = "127.0.0.1", port: int = 0) -> int:
        """Bind and serve on a daemon thread; returns the bound port."""
        self._httpd = ThreadingHTTPServer((host, port),
                                          self._make_handler())
        t = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        t.start()
        return self._httpd.server_address[1]

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None


class _Cell:
    """One grid cell's rows from `Catalog.read_cell` as Python lists: UTC
    microseconds and values and, given the session time `zone`, the
    calendar fields Spark's `year`, `month` and `to_date` read."""

    def __init__(self, table, zone=None):
        import pyarrow as pa
        import pyarrow.compute as pc

        from .sources.catalog import local_micros

        self.us = table.column(0).cast(pa.int64()).to_pylist()
        self.values = table.column(1).to_pylist()
        self.float32 = pa.types.is_float32(table.column(1).type)
        if zone is not None:
            self._wall = local_micros(table.column(0), zone)
            self.year = pc.year(_naive(self._wall)).to_pylist()
            self.month = pc.month(_naive(self._wall)).to_pylist()

    def days(self) -> list[int | None]:
        """Local dates as days since 1970-01-01."""
        return [None if w is None else w // 86_400_000_000
                for w in self._wall.to_pylist()]


def _naive(micros):
    import pyarrow as pa

    return micros.cast(pa.timestamp("us"))


def _groups(keys, values):
    """(key, values in row order) per distinct key — a `groupBy` whose
    groups keep the order rows reach the aggregate."""
    out: dict = {}
    for k, v in zip(keys, values):
        out.setdefault(k, []).append(v)
    return out.items()
