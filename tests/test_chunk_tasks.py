"""`netcdf.chunk_tasks_long`, the one chunk-per-task reader core: the
NetCDF4/HDF5 and the Zarr chunk readers return exactly the rows of the
driver decoders (`hdf5_to_grid` + `grid_to_long`, `read_zarr_long`) for
one seeded grid stored in both containers — time bounds inside a chunk,
a box across the antimeridian, a chunk never written, a non-UTC session
time zone — and building their frames runs no Spark job."""

from __future__ import annotations

import json
import os
import struct

import numpy as np
import pandas as pd
import pytest

from climate_data_pipeline_spark.sources import hdf5, zarr2
from climate_data_pipeline_spark.sources.io import bbox_filter
from climate_data_pipeline_spark.sources.netcdf import grid_to_long

DIMS = ["time", "lat", "lon"]
CHUNKS = (4, 2, 3)
LAT = np.array([-75.0, -45.0, -15.0, 15.0, 45.0, 75.0])
LON = np.array([-165.0, -105.0, -45.0, 15.0, 75.0, 135.0, 165.0])
UNITS = "days since 2020-01-01"

CASES = {
    "all": {},
    # both bounds fall inside a time chunk (steps 0-3 and 8-9)
    "time_range": {"time_range": ("2020-01-03", "2020-01-09")},
    # west > east: lat prunes the first lat chunk, lon cannot prune
    "antimeridian": {"bbox": (120.0, -20.0, -100.0, 50.0)},
    "both": {"time_range": ("2020-01-02", "2020-01-10"),
             "bbox": (120.0, -20.0, -100.0, 50.0)},
    "variable": {"variables": ["pr"], "time_range": ("2020-01-06",
                                                     "2020-01-06")},
}


def _grid():
    rng = np.random.default_rng(9)
    shape = (10, len(LAT), len(LON))
    return {"tas": rng.normal(280, 8, shape).astype("<f4"),
            "pr": rng.gamma(2.0, 1.5, shape)}


@pytest.fixture(scope="module")
def stores(tmp_path_factory):
    """(HDF5 path, Zarr path) of one grid; the last chunk of ``tas``
    (time 8-9, lat 45-75, lon 165) is never written in either."""
    tmp = tmp_path_factory.mktemp("chunk_tasks")
    grid = _grid()
    t = np.arange(10, dtype="<i4")
    h5 = hdf5.write_hdf5(
        str(tmp / "grid.nc"),
        {"time": (t, {"units": UNITS}), "lat": LAT, "lon": LON},
        {n: (DIMS, a, {}) for n, a in grid.items()},
        chunks={n: CHUNKS for n in grid}, compress=True)
    with open(h5, "rb") as fh:
        btree = hdf5.H5File(fh.read()).datasets["tas"].layout["btree"]
    with open(h5, "r+b") as fh:          # drop the B-tree's last entry
        fh.seek(btree + 6)
        (used,) = struct.unpack("<H", fh.read(2))
        fh.seek(btree + 6)
        fh.write(struct.pack("<H", used - 1))

    zp = zarr2.write_zarr(
        str(tmp / "grid.zarr"), dims={"time": t, "lat": LAT, "lon": LON},
        variables={n: (DIMS, a, {}) for n, a in grid.items()},
        chunks={n: list(CHUNKS) for n in grid})
    # CF-encode the time coordinate like xarray does
    for fname, key in (("time/.zattrs", None), (".zmetadata", "metadata")):
        with open(os.path.join(zp, fname)) as fh:
            doc = json.load(fh)
        (doc[key]["time/.zattrs"] if key else doc)["units"] = UNITS
        with open(os.path.join(zp, fname), "w") as fh:
            json.dump(doc, fh)
    os.remove(os.path.join(zp, "tas", "2.2.2"))
    return h5, zp


@pytest.fixture
def new_york(spark):
    before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield
    spark.conf.set("spark.sql.session.timeZone", before)


def _rows(df) -> pd.DataFrame:
    pdf = df.toPandas()
    cols = DIMS + sorted(c for c in pdf.columns if c not in DIMS)
    return pdf[cols].sort_values(DIMS).reset_index(drop=True)


def _hdf5_driver(spark, path, variables=None, time_range=None, bbox=None):
    with open(path, "rb") as fh:
        coords, arrays, dim_order, dims = hdf5.hdf5_to_grid(
            fh.read(), variables, time_range)
    df = grid_to_long(spark, coords, arrays, dim_order)
    return bbox_filter(df, "lat", "lon", bbox) if bbox else df


@pytest.mark.parametrize("case", sorted(CASES))
def test_chunk_readers_equal_driver_readers(spark, stores, new_york,
                                            spark_jobs_of, case):
    h5, zp = stores
    kw = CASES[case]
    h5_df, h5_jobs = spark_jobs_of(
        lambda: hdf5.read_hdf5_long_distributed(spark, h5, **kw))
    z_df, z_jobs = spark_jobs_of(
        lambda: zarr2.read_zarr_long_distributed(spark, zp, **kw))
    assert (h5_jobs, z_jobs) == (0, 0)
    plan = z_df._jdf.queryExecution().optimizedPlan().toString()
    assert not [line for line in plan.splitlines()
                if "Filter" in line and "time" in line], plan

    want = _rows(zarr2.read_zarr_long(spark, zp, **kw))
    assert len(want) > 0
    if "time_range" in kw:
        assert want["time"].min() >= pd.Timestamp(kw["time_range"][0])
        assert want["time"].max() <= pd.Timestamp(kw["time_range"][1])
    if "variables" not in kw:
        assert want["tas"].isna().any()       # the never-written chunk
    for got in (_rows(h5_df), _rows(z_df),
                _rows(_hdf5_driver(spark, h5, **kw))):
        pd.testing.assert_frame_equal(got, want, check_exact=True)
