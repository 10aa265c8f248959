"""Catalog.load memo: one DataFrame per registered store state."""

from __future__ import annotations

from climate_data_pipeline_spark.sources.catalog import Catalog


def _write(spark, path, ids, mode="error"):
    spark.range(*ids).selectExpr("id", "id * 2.0 AS v") \
         .write.mode(mode).parquet(path)


def test_unchanged_store_reuses_frame_without_a_job(spark, tmp_path,
                                                    spark_jobs_of):
    path = str(tmp_path / "store.parquet")
    _write(spark, path, (5,))
    cat = Catalog(spark)
    cat.register("s", path)
    first, n_first = spark_jobs_of(lambda: cat.load("s"))
    again, n_again = spark_jobs_of(lambda: cat.load("s"))
    assert n_first >= 1            # opening the store infers its schema
    assert again is first and n_again == 0


def test_rewritten_store_reloads(spark, tmp_path):
    path = str(tmp_path / "store.parquet")
    _write(spark, path, (5,))
    cat = Catalog(spark)
    cat.register("s", path)
    assert cat.load("s").count() == 5
    _write(spark, path, (100, 103), mode="overwrite")
    assert sorted(r.id for r in cat.load("s").collect()) == [100, 101, 102]


def test_reregistered_name_loads_new_path(spark, tmp_path):
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    _write(spark, a, (3,))
    _write(spark, b, (10, 12))
    cat = Catalog(spark)
    cat.register("s", a)
    assert cat.load("s").count() == 3
    cat.register("s", b)
    assert sorted(r.id for r in cat.load("s").collect()) == [10, 11]


def test_concurrent_loads_all_see_the_store(spark, tmp_path):
    """Server threads share one catalog and its memo without a lock:
    racing first loads must each return a correct frame, and later loads
    one memoized frame."""
    import sys
    import threading

    path = str(tmp_path / "store.parquet")
    _write(spark, path, (7,))
    cat = Catalog(spark)
    cat.register("s", path)
    frames, errors = [], []

    def load():
        try:
            frames.append(cat.load("s"))
        except Exception as exc:       # noqa: BLE001 - reported below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=load) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors
    assert len(frames) == 8 and all(f.count() == 7 for f in frames)
    assert cat.load("s") is cat.load("s")
