"""Seeded inputs. Every generator takes a seed (or a generator built from
one); the same seed gives byte-identical inputs.

The climate grid is (time, lat, lon) daily temperature from 1995-01-01:
a latitude gradient, a seasonal cycle, a per-cell linear trend and
Gaussian noise, stored as float32 — the shape of the reference's
benchmark grids, small enough for a run of seconds.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

T0 = "1995-01-01"
TIME_UNITS = f"days since {T0}"
VAR = "temperature"


@dataclass(frozen=True)
class Grid:
    days: np.ndarray        # int32 days since T0
    lat: np.ndarray         # float64
    lon: np.ndarray         # float64
    values: np.ndarray      # float32 [time, lat, lon]

    @property
    def times(self) -> np.ndarray:
        return np.datetime64(T0, "ns") + self.days.astype("timedelta64[D]")

    @property
    def n_values(self) -> int:
        return int(self.values.size)


def make_grid(seed: int, n_days: int, n_lat: int, n_lon: int) -> Grid:
    rng = np.random.default_rng(seed)
    days = np.arange(n_days, dtype=np.int32)
    lat = -60.0 + np.arange(n_lat) * (120.0 / max(n_lat - 1, 1))
    lon = -180.0 + np.arange(n_lon) * (360.0 / n_lon)
    years = days / 365.25
    season = 10.0 * np.sin(2 * np.pi * (days - 80) / 365.25)
    slope = rng.uniform(-0.05, 0.08, (n_lat, n_lon))
    values = (288.0 - 30.0 * np.abs(lat)[None, :, None] / 90.0
              + season[:, None, None]
              + slope[None] * years[:, None, None]
              + rng.normal(0.0, 2.0, (n_days, n_lat, n_lon)))
    return Grid(days, lat, lon, values.astype(np.float32))


def _clamp(chunks, grid: Grid) -> tuple[int, ...]:
    return tuple(min(c, n) for c, n in zip(chunks, grid.values.shape))


def write_grid_hdf5(path: str, grid: Grid, chunks: tuple[int, int, int]) -> str:
    """NetCDF4-flavoured HDF5 file, chunked with shuffle+deflate."""
    from climate_data_pipeline_spark.sources.hdf5 import write_hdf5

    return write_hdf5(
        path, {"time": (grid.days, {"units": TIME_UNITS}),
               "lat": grid.lat, "lon": grid.lon},
        {VAR: (["time", "lat", "lon"], grid.values, {"units": "K"})},
        chunks={VAR: _clamp(chunks, grid)}, compress=True)


def write_grid_zarr(path: str, grid: Grid, chunks: tuple[int, int, int]) -> str:
    """Zarr v2 store (Blosc zstd) with a CF-encoded time axis, as xarray
    writes it."""
    from climate_data_pipeline_spark.sources.zarr2 import write_zarr

    write_zarr(path, dims={"time": grid.days, "lat": grid.lat, "lon": grid.lon},
               variables={VAR: (["time", "lat", "lon"], grid.values, {})},
               chunks={VAR: list(_clamp(chunks, grid))})
    # write_zarr takes no coordinate attrs: add the CF units the way
    # xarray would have written them
    attrs_file = os.path.join(path, "time", ".zattrs")
    with open(attrs_file) as fh:
        attrs = json.load(fh)
    attrs["units"] = TIME_UNITS
    with open(attrs_file, "w") as fh:
        json.dump(attrs, fh)
    meta_file = os.path.join(path, ".zmetadata")
    with open(meta_file) as fh:
        meta = json.load(fh)
    meta["metadata"]["time/.zattrs"]["units"] = TIME_UNITS
    with open(meta_file, "w") as fh:
        json.dump(meta, fh)
    return path


# chunking of the grid file behind the ARCO store: a year of days, the
# whole spatial field
STORE_CHUNKS = (366, 64, 64)


def convert_to_store(spark, h5_path: str) -> str:
    """The ARCO parquet store next to ``h5_path``, written by the
    program's own ingest path (chunk-per-task HDF5 read, ``timeseries``
    layout) — the path ``arco_ingest`` measures."""
    from climate_data_pipeline_spark.sources.hdf5 import (
        read_hdf5_long_distributed,
    )
    from climate_data_pipeline_spark.sources.io import write_parquet

    store = os.path.join(os.path.dirname(h5_path), "arco.parquet")
    write_parquet(read_hdf5_long_distributed(spark, h5_path), store,
                  layout="timeseries", entity_cols=["lat", "lon"],
                  time_col="time")
    return store


def read_store_sorted(path: str) -> pd.DataFrame:
    """A written store as pandas, sorted (time, lat, lon), time as int64
    nanoseconds — the order ``Grid.values.ravel()`` uses."""
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    df = table.to_pandas()
    t = df["time"]
    if pd.api.types.is_datetime64_any_dtype(t):
        df["time"] = (t.dt.tz_localize(None) if t.dt.tz is not None
                      else t).astype("datetime64[ns]").astype("int64")
    return df.sort_values(["time", "lat", "lon"], kind="stable",
                          ignore_index=True)


WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.15, 0.14, 0.14, 0.13)


def make_documents(seed: int, n_docs: int) -> pd.DataFrame:
    """The ``documents`` table shape the registry's text and media
    queries read: 10-99 words from a 30-word vocabulary, 20 sources, and
    about 5% near-duplicates (an earlier text with `` dup`` appended)."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, n)))
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
