"""Serving layer (SURVEY.md §2.10 O7, §2.11): the reference's REST
capability contract as plain query functions, plus the result cache.

The reference fronts queries with FastAPI + a Redis JSON cache
(`/root/reference/src/climate_pipeline/api/cache.py`: get/set with TTL,
delete, clear_pattern, stats at lines 28-177; arg-hash keyed decorator at
206-241; in-memory fallback at 282-316). Here the cache is an in-process
TTL dict keyed by the same sha256(sorted-JSON-args)[:16] recipe
(`api/cache.py:192-203`) — swap for Redis/memcached behind the same
interface when serving over HTTP; `df.persist()` covers intra-session
plan reuse separately.

Endpoint analogues (`api/routes/data.py`, `api/routes/metrics.py`):
point time series, region grid, region stats, metrics dispatch.
"""

from __future__ import annotations

import hashlib
import json
import threading
import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.stats import region_stats
from .plans.dispatch import run_metric
from .sources.io import bbox_filter


def cache_key(prefix: str, **kwargs) -> str:
    """sha256 of sorted-JSON args, 16 hex chars — the reference's key
    recipe (`api/cache.py:192-203`)."""
    payload = json.dumps(kwargs, sort_keys=True, default=str)
    return f"{prefix}:{hashlib.sha256(payload.encode()).hexdigest()[:16]}"


class QueryCache:
    """In-memory TTL result cache — the reference's InMemoryCache
    (`api/cache.py:282-316`) with its CacheManager interface
    (get/set/delete/clear_pattern/stats)."""

    def __init__(self, default_ttl: float = 3600.0):
        self.default_ttl = default_ttl
        self._store: dict[str, tuple[float, object]] = {}
        # hits, misses, evictions (expiry drops, `delete`, `clear_pattern`);
        # bumped under a lock, as server threads share the cache
        self._counts = {"hits": 0, "misses": 0, "evictions": 0}
        self._lock = threading.Lock()

    def _count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self._counts[name] += n

    def get(self, key: str):
        entry = self._store.get(key)
        if entry is None:
            self._count("misses")
            return None
        expires, value = entry
        if time.monotonic() > expires:
            # pop, not del: another server thread may have dropped the
            # same expired entry since the lookup above
            if self._store.pop(key, None) is not None:
                self._count("evictions")
            self._count("misses")
            return None
        self._count("hits")
        return value

    def set(self, key: str, value, ttl: float | None = None) -> None:
        self._store[key] = (time.monotonic() + (ttl or self.default_ttl), value)

    def delete(self, key: str) -> bool:
        removed = self._store.pop(key, None) is not None
        self._count("evictions", removed)
        return removed

    def clear_pattern(self, prefix: str) -> int:
        """Drop every key starting with `prefix` → the number dropped. The
        key list is a snapshot (server threads insert while this runs),
        and a key another thread has dropped meanwhile is not counted."""
        removed = sum(self._store.pop(k, None) is not None
                      for k in list(self._store) if k.startswith(prefix))
        self._count("evictions", removed)
        return removed

    def stats(self) -> dict:
        with self._lock:
            return {"entries": len(self._store), **self._counts}


class ServingApi:
    """The reference's endpoint surface as cached query functions. Results
    are returned as plain dict/list payloads (what a JSON layer would
    serialize); limits mirror `api/main.py:98-102`."""

    MAX_POINTS = 10_000      # api/main.py:99
    MAX_TIMESTEPS = 8_760    # api/main.py:100

    def __init__(self, spark: SparkSession, cache: QueryCache | None = None):
        self.spark = spark
        self.cache = cache if cache is not None else QueryCache()

    def cached(self, key: str, build):
        hit = self.cache.get(key)
        if hit is not None:
            return hit
        value = build()
        self.cache.set(key, value)
        return value

    def point_timeseries(self, df: DataFrame, time_col: str, value_col: str,
                         keys: dict[str, object],
                         time_range: tuple[str, str] | None = None,
                         dataset: str = "") -> list[dict]:
        """`/datasets/{id}/point` (`api/routes/data.py:88-127`): the series
        at one entity/grid point, optionally time-sliced (P4 + P2)."""
        key = cache_key("point", dataset=dataset, var=value_col, keys=keys,
                        tr=time_range)

        def build():
            out = df
            for col, val in keys.items():
                out = out.where(F.col(col) == F.lit(val))
            if time_range is not None:
                out = out.where(F.col(time_col).between(*time_range))
            rows = (out.select(time_col, value_col)
                       .orderBy(time_col)
                       .limit(self.MAX_TIMESTEPS).collect())
            return [{"ts": str(r[time_col]), "value": r[value_col]}
                    for r in rows]

        return self.cached(key, build)

    def region_grid(self, df: DataFrame, lat_col: str, lon_col: str,
                    value_col: str,
                    bbox: tuple[float, float, float, float],
                    at: tuple[str, str] | None = None,
                    time_col: str | None = None,
                    dataset: str = "",
                    check: Callable[[], None] | None = None) -> list[dict]:
        """`/datasets/{id}/region` (`api/routes/data.py:130-169`): the
        spatial field inside a bbox, optionally at one time slice (P3+P4),
        capped at MAX_POINTS. ``check`` runs first on a cache miss, before
        any Spark work (a caller's validation of the slice bounds)."""
        key = cache_key("region", dataset=dataset, var=value_col, bbox=bbox,
                        at=at)

        def build():
            if check is not None:
                check()
            out = bbox_filter(df, lat_col, lon_col, bbox)
            if at is not None and time_col is not None:
                out = out.where(F.col(time_col).between(*at))
            rows = (out.select(lat_col, lon_col, value_col)
                       .limit(self.MAX_POINTS).collect())
            return [{"lat": r[lat_col], "lon": r[lon_col],
                     "value": r[value_col]} for r in rows]

        return self.cached(key, build)

    def region_summary(self, df: DataFrame, lat_col: str, lon_col: str,
                       value_col: str,
                       bbox: tuple[float, float, float, float],
                       time_range: tuple[str, str] | None = None,
                       time_col: str | None = None,
                       dataset: str = "",
                       check: Callable[[], None] | None = None) -> dict:
        """`/datasets/{id}/stats` (`api/routes/data.py:172-214`) → A12,
        optionally over the rows with ``time_col`` between the
        ``time_range`` bounds. ``check`` runs first on a cache miss, as in
        `region_grid`. The cache key does not carry ``time_range``: a
        caller that passes one names it in ``dataset``."""
        key = cache_key("stats", dataset=dataset, var=value_col, bbox=bbox)

        def build():
            if check is not None:
                check()
            out = df
            if time_range is not None and time_col is not None:
                out = out.where(F.col(time_col).between(*time_range))
            out = bbox_filter(out, lat_col, lon_col, bbox)
            row = region_stats(out, value_col).first()
            return {k: row[k] for k in
                    ("mean", "std", "min", "max", "n", "p10", "p50", "p90")}

        return self.cached(key, build)

    def metric(self, df: DataFrame, metric_type: str, time_col: str,
               value_col: str, keys: Sequence[str] = (),
               params: dict | None = None, dataset: str = "",
               limit: int = 10_000) -> list[dict]:
        """`/api/v1/metrics/{...}` (`api/routes/metrics.py:11-218`) → O5
        dispatcher, JSON-shaped rows."""
        key = cache_key("metric", dataset=dataset, metric=metric_type,
                        var=value_col, keys=list(keys), params=params)

        def build():
            out = run_metric(df, metric_type, time_col, value_col, keys,
                             params)
            return [r.asDict() for r in out.limit(limit).collect()]

        return self.cached(key, build)
