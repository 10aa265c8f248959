"""Tests for the serving layer: cache semantics + endpoint analogues."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from climate_data_pipeline_spark.serving import QueryCache, ServingApi, cache_key
from climate_data_pipeline_spark.sources.io import load_table
from climate_data_pipeline_spark.sources.synthetic import climate_grid


def test_cache_key_stable_and_arg_sensitive():
    a = cache_key("point", dataset="x", keys={"lat": 1})
    b = cache_key("point", keys={"lat": 1}, dataset="x")  # kwarg order
    c = cache_key("point", dataset="x", keys={"lat": 2})
    assert a == b != c
    assert a.startswith("point:") and len(a.split(":")[1]) == 16


def test_cache_ttl_and_pattern():
    cache = QueryCache(default_ttl=1000)
    cache.set("point:aa", [1]); cache.set("point:bb", [2], ttl=-1)
    cache.set("stats:cc", {"m": 3})
    assert cache.get("point:aa") == [1]
    assert cache.get("point:bb") is None           # expired
    assert cache.clear_pattern("point:") == 1      # only aa left to clear
    assert cache.get("point:aa") is None
    assert cache.get("stats:cc") == {"m": 3}
    s = cache.stats()
    assert s["entries"] == 1 and s["hits"] == 2 and s["misses"] == 2


def test_cache_get_tolerates_concurrent_expiry():
    """Two threads can read the same expired entry; the second one to drop
    it must see a miss, not a KeyError (an HTTP 500 in the server)."""
    class RacedStore(dict):
        def get(self, key, default=None):    # expired, already removed
            return (0.0, "stale")

    cache = QueryCache()
    cache._store = RacedStore()
    assert cache.get("point:aa") is None
    assert cache.stats()["misses"] == 1


def test_clear_pattern_tolerates_concurrent_set_and_expiry():
    """Server threads set and expire entries while `clear_pattern` scans.
    The scan runs Python code per key (`startswith`), where another
    thread can take the interpreter lock; here a key does what such a
    thread would: a `set` lands (the old scan raised `dictionary changed
    size during iteration`) and an expiring `get` drops a matching key
    first (the old `del` raised KeyError). Only keys actually removed
    count, as removals and as evictions."""
    cache = QueryCache()

    class Interleaved(str):
        def startswith(self, prefix, *args):
            for k in ("region:late", "stats:late"):     # two sets
                cache._store[k] = (float("inf"), "new")
            cache._store.pop("point:b", None)          # one expiry
            return str.startswith(self, prefix, *args)

    cache._store = {Interleaved("point:a"): (float("inf"), 1),
                    "point:b": (float("inf"), 2),
                    "region:c": (float("inf"), 3)}
    assert cache.clear_pattern("point:") == 1
    assert sorted(cache._store) == ["region:c", "region:late", "stats:late"]
    assert cache.stats()["evictions"] == 1


def test_cache_counts_evictions():
    cache = QueryCache(default_ttl=60)
    cache.set("a", 1)
    cache.set("b", 2, ttl=1e-9)
    cache.set("c", 3)
    import time
    time.sleep(0.001)
    assert cache.get("b") is None                  # expired: evicted
    assert cache.delete("a") and not cache.delete("a")
    assert cache.clear_pattern("c") == 1
    s = cache.stats()
    assert s["evictions"] == 3 and s["entries"] == 0


def test_cache_counts_hold_under_thread_contention():
    """Writers insert while a janitor thread clears their prefix, with
    the interpreter switching threads every microsecond: no scan fails,
    and every inserted key is counted as exactly one eviction."""
    import sys
    import threading

    cache = QueryCache()
    n_writers, n_keys = 8, 300
    done = threading.Event()
    cleared, errors = [], []

    def write(t):
        for i in range(n_keys):
            cache.set(f"k:{t}:{i}", i)
            cache.get(f"k:{t}:{i}")

    def janitor():
        try:
            while not done.is_set():
                cleared.append(cache.clear_pattern("k:"))
        except Exception as exc:               # noqa: BLE001
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        jt = threading.Thread(target=janitor)
        jt.start()
        writers = [threading.Thread(target=write, args=(t,))
                   for t in range(n_writers)]
        for w in writers:
            w.start()
        for w in writers:
            w.join(timeout=60)
        done.set()
        jt.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not jt.is_alive() and not any(w.is_alive() for w in writers)
    assert errors == []
    cleared.append(cache.clear_pattern("k:"))
    s = cache.stats()
    assert s["entries"] == 0
    assert s["evictions"] == sum(cleared) == n_writers * n_keys
    assert s["hits"] + s["misses"] == n_writers * n_keys


@pytest.fixture(scope="module")
def api(spark):
    return ServingApi(spark)


@pytest.fixture(scope="module")
def grid(spark):
    return climate_grid(spark, days=60).cache()


def test_point_timeseries_cached(api, spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = api.point_timeseries(ev, "ts", "value", keys={"user_id": 8},
                               dataset="events")
    assert out and all("ts" in r and "value" in r for r in out)
    assert [r["ts"] for r in out] == sorted(r["ts"] for r in out)
    before = api.cache.stats()["hits"]
    again = api.point_timeseries(ev, "ts", "value", keys={"user_id": 8},
                                 dataset="events")
    assert again == out
    assert api.cache.stats()["hits"] == before + 1


def test_region_grid_and_summary(api, grid):
    pts = api.region_grid(grid, "lat", "lon", "temperature",
                          bbox=(-20.0, -10.0, 20.0, 10.0),
                          at=("2020-01-01", "2020-01-01"),
                          time_col="ts", dataset="grid")
    assert 0 < len(pts) <= ServingApi.MAX_POINTS
    assert all(-10 <= p["lat"] <= 10 for p in pts)
    summary = api.region_summary(grid, "lat", "lon", "temperature",
                                 bbox=(-20.0, -10.0, 20.0, 10.0),
                                 dataset="grid")
    assert summary["min"] <= summary["p10"] <= summary["p50"] \
           <= summary["p90"] <= summary["max"]
    assert summary["n"] > 0


class _NoFrame:
    """Stands for a DataFrame that must not be touched."""

    def __getattr__(self, name):
        raise AssertionError(f"the frame was used ({name})")


def test_region_summary_time_range_on_miss_only(api, grid):
    """`region_summary` applies its time range inside the cached build,
    after `check`: the answer equals the summary of the pre-filtered
    frame, and a cache hit touches neither the frame nor `check`."""
    from pyspark.sql import functions as F

    bbox = (-20.0, -10.0, 20.0, 10.0)
    tr = ("2020-01-10", "2020-01-20 23:59:59.999999")
    want = api.region_summary(grid.where(F.col("ts").between(*tr)),
                              "lat", "lon", "temperature", bbox,
                              dataset="grid-prefiltered")
    checks = []
    got = api.region_summary(grid, "lat", "lon", "temperature", bbox,
                             time_range=tr, time_col="ts",
                             dataset="grid@tr", check=lambda: checks.append(1))
    assert got == want and checks == [1]
    again = api.region_summary(_NoFrame(), "lat", "lon", "temperature",
                               bbox, time_range=tr, time_col="ts",
                               dataset="grid@tr",
                               check=lambda: checks.append(2))
    assert again == got and checks == [1]


def test_region_check_runs_before_the_frame(api):
    """A failing `check` stops a miss before any use of the frame, and
    the failed build caches nothing."""
    def bad():
        raise ValueError("bad bound")

    for call in (
            lambda: api.region_summary(_NoFrame(), "lat", "lon", "t",
                                       (0.0, 0.0, 1.0, 1.0),
                                       dataset="never", check=bad),
            lambda: api.region_grid(_NoFrame(), "lat", "lon", "t",
                                    (0.0, 0.0, 1.0, 1.0), at=("x", "x"),
                                    time_col="ts", dataset="never",
                                    check=bad)):
        for _ in range(2):
            with pytest.raises(ValueError, match="bad bound"):
                call()


def test_metric_endpoint(api, grid):
    rows = api.metric(grid, "climatology", "ts", "temperature",
                      keys=["lat"], dataset="grid")
    assert rows and {"month", "lat", "clim_value"} <= set(rows[0])
    with pytest.raises(ValueError, match="unknown metric_type"):
        api.metric(grid, "nope", "ts", "temperature")
