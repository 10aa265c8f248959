"""`plans.jobs.convert_netcdf` on NetCDF4/HDF5 input: the chunk-per-task
arm writes exactly the rows the driver decoder (`hdf5_to_grid` +
`grid_to_long`) yields, the driver arm serves only the files the
chunk-per-task reader refuses at plan time, and the job count stays
pinned."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from climate_data_pipeline_spark.plans.jobs import convert_netcdf
from climate_data_pipeline_spark.sources import hdf5
from climate_data_pipeline_spark.sources.hdf5 import (
    H5Unsupported,
    read_hdf5_long_distributed,
    write_hdf5,
)
from climate_data_pipeline_spark.sources.netcdf import grid_to_long

from .test_hdf5_ingest import _compound_obs_hdf5

SHAPE = (12, 3, 4)
DIMS = {"time": (np.arange(12, dtype="<i4"),
                 {"units": "days since 2020-01-01"}),
        "lat": np.array([-10.0, 0.0, 10.0]),
        "lon": np.array([0.0, 90.0, 180.0, 270.0])}
TIME_RANGE = ("2020-01-03", "2020-01-09")
DIM_NAMES = ["time", "lat", "lon"]


def _case(name: str):
    """(variables, write_hdf5 keyword arguments) of one fixture file."""
    rng = np.random.default_rng(21)
    chunks = {"a": (5, 2, 3), "b": (5, 2, 3)}
    if name in ("chunked", "contiguous"):
        vs = {"a": rng.normal(280, 5, SHAPE).astype("<f4"),
              "b": rng.gamma(2.0, 1.5, SHAPE)}
        kw = (dict(chunks=chunks, compress=True) if name == "chunked"
              else {})
        return {k: (DIM_NAMES, v, {}) for k, v in vs.items()}, kw
    if name == "nbit":
        vs = {k: rng.integers(0, 1 << 12, SHAPE).astype("<i4")
              for k in "ab"}
        return ({k: (DIM_NAMES, v, {}) for k, v in vs.items()},
                dict(chunks=chunks, compress="nbit", nbit_spec=(12, 0)))
    if name == "scaleoffset":
        vs = {"a": (rng.integers(-500, 500, SHAPE) * 1000).astype("<i4"),
              "b": (rng.integers(-400, 400, SHAPE) * 0.25).astype("<f4")}
        return ({k: (DIM_NAMES, v, {}) for k, v in vs.items()},
                dict(chunks=chunks, compress="scaleoffset", so_dscale=2))
    assert name == "packed"
    packed = rng.integers(-300, 300, SHAPE).astype("<i2")
    packed[2, 1, 3] = packed[7, 0, 0] = -999
    return ({"a": (DIM_NAMES, packed,
                   {"_FillValue": np.int16(-999), "scale_factor": 0.5,
                    "add_offset": 100.0}),
             "b": (DIM_NAMES, rng.normal(0, 1, SHAPE), {})},
            dict(chunks=chunks, compress=True))


def _sorted(pdf: pd.DataFrame, keys) -> pd.DataFrame:
    return pdf.sort_values(list(keys)).reset_index(drop=True)


def _driver_rows(spark, path, variables=None, time_range=None):
    """The rows the driver decoder yields for ``path``."""
    with open(path, "rb") as fh:
        coords, arrays, dim_order, _ = hdf5.hdf5_to_grid(
            fh.read(), variables, time_range)
    rows = grid_to_long(spark, coords, arrays, dim_order).toPandas()
    return _sorted(rows, dim_order), dim_order


def _assert_store_equals(spark, out, want, dim_order):
    got = _sorted(spark.read.parquet(out).toPandas(), dim_order)
    pd.testing.assert_frame_equal(got[list(want.columns)], want,
                                  check_exact=True)


@pytest.mark.parametrize("name", ["chunked", "contiguous", "nbit",
                                  "scaleoffset", "packed"])
@pytest.mark.parametrize("variables,time_range",
                         [(None, None), (["a"], TIME_RANGE)],
                         ids=["all", "projected"])
def test_convert_netcdf_hdf5_rows_equal_driver_decode(
        spark, tmp_path, name, variables, time_range):
    """Every filter the chunk-per-task arm decodes in its tasks (deflate
    + shuffle, nbit, scaleoffset), contiguous row blocks, and CF
    `_FillValue`/`scale_factor` unpacking: the written store holds
    exactly the driver decoder's rows, and the header-derived row count
    verifies it."""
    variables_, kw = _case(name)
    path = write_hdf5(str(tmp_path / f"{name}.nc"), DIMS, variables_, **kw)
    want, dim_order = _driver_rows(spark, path, variables, time_range)
    out = str(tmp_path / "store")
    res = convert_netcdf(spark, path, out, variables=variables,
                         time_range=time_range)
    assert res["status"] == "completed" and res["verified"], res
    assert res["output_info"]["num_rows"] == len(want) == (
        7 * 3 * 4 if time_range else 12 * 3 * 4)
    _assert_store_equals(spark, out, want, dim_order)


def test_convert_netcdf_routes_refused_files_to_the_driver(
        spark, tmp_path, monkeypatch):
    """Both arms: a chunked file never reaches the driver decoder; a file
    whose variables sit on different chunk grids, and one with a
    compound variable, are refused by the chunk-per-task reader before
    any job and converted by the driver decoder instead, rows intact."""
    variables_, kw = _case("chunked")
    chunked = write_hdf5(str(tmp_path / "chunked.nc"), DIMS, variables_,
                         **kw)
    mixed = write_hdf5(str(tmp_path / "mixed.nc"), DIMS, variables_,
                       chunks={"a": (5, 2, 3), "b": (4, 3, 4)},
                       compress=True)
    compound = str(tmp_path / "compound.nc")
    with open(compound, "wb") as fh:
        fh.write(_compound_obs_hdf5()[0])
    wants = {p: _driver_rows(spark, p) for p in (mixed, compound)}

    def refuse(*args, **kwargs):
        raise AssertionError("chunked input reached the driver decoder")

    with monkeypatch.context() as m:
        m.setattr(hdf5, "hdf5_to_grid", refuse)
        res = convert_netcdf(spark, chunked, str(tmp_path / "s0"))
        assert res["verified"] and res["output_info"]["num_rows"] == 144

    driver_reads = []
    decode = hdf5.hdf5_to_grid

    def spy(*args, **kwargs):
        driver_reads.append(1)
        return decode(*args, **kwargs)

    monkeypatch.setattr(hdf5, "hdf5_to_grid", spy)
    for i, path in enumerate((mixed, compound)):
        with pytest.raises(H5Unsupported):
            read_hdf5_long_distributed(spark, path)
        out = str(tmp_path / f"s{i + 1}")
        res = convert_netcdf(spark, path, out)
        want, dim_order = wants[path]
        assert res["verified"] and res["output_info"]["num_rows"] \
            == len(want)
        _assert_store_equals(spark, out, want, dim_order)
    assert len(driver_reads) == 2


def test_refusal_runs_no_spark_job(spark, tmp_path, spark_jobs_of):
    """The chunk-per-task reader refuses a compound variable at plan
    time, before any Spark job."""
    path = str(tmp_path / "compound.nc")
    with open(path, "wb") as fh:
        fh.write(_compound_obs_hdf5()[0])

    def read():
        with pytest.raises(H5Unsupported, match="compound"):
            read_hdf5_long_distributed(spark, path)

    assert spark_jobs_of(read)[1] == 0


def test_convert_netcdf_chunked_job_count(spark, tmp_path, spark_jobs_of):
    """A chunked NetCDF4 convert runs at most 3 Spark jobs: the
    range-partition sample and the write (verification reads only the
    header and the written footers). The driver-decode convert with
    its `count()` and schema-inference checks ran 8."""
    variables_, kw = _case("chunked")
    path = write_hdf5(str(tmp_path / "g.nc"), DIMS, variables_, **kw)
    res, n_jobs = spark_jobs_of(
        lambda: convert_netcdf(spark, path, str(tmp_path / "store")))
    assert res["verified"]
    assert n_jobs <= 3, n_jobs
