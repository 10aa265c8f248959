"""Dataset catalog (SURVEY.md S3/S4/S6, §1.4, §2.11).

The reference keeps a small hard-coded dataset registry in its API layer
(`/root/reference/src/climate_pipeline/api/routes/data.py:12-40`) and a
STAC-style typed metadata model as the production design
(`src/stac_demo.py:142-184` cube:dimensions / cube:variables). Spark has
no column attrs, so per-dataset attrs (units, long_name, conventions)
live in a JSON sidecar dict here — metadata never blocks queries
(SURVEY.md §1.5).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..operators.stats import dataset_info, detect_time_column
from .io import TABLES, load_table


@dataclass
class DatasetEntry:
    name: str
    path: str
    title: str = ""
    attrs: dict = field(default_factory=dict)          # dataset-level attrs
    var_attrs: dict = field(default_factory=dict)      # per-column attrs


class Catalog:
    """STAC-lite registry: name → parquet path + attrs sidecar."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._entries: dict[str, DatasetEntry] = {}
        # name → (path, store signature, DataFrame); see `load`
        self._loaded: dict[str, tuple[str, tuple | None, DataFrame]] = {}

    def register(self, name: str, path: str, title: str = "",
                 attrs: dict | None = None,
                 var_attrs: dict | None = None) -> DatasetEntry:
        entry = DatasetEntry(name, path, title or name,
                             attrs or {}, var_attrs or {})
        self._entries[name] = entry
        return entry

    def register_sf_dir(self, sf_dir: str) -> "Catalog":
        """Register the driver's standard tables from one scale-factor dir."""
        for t in TABLES:
            self.register(t, f"{sf_dir}/{t}.parquet")
        return self

    def list_datasets(self) -> list[str]:
        return sorted(self._entries)

    def load(self, name: str) -> DataFrame:
        """The registered store as a lazy DataFrame, memoized per store
        state.

        A DataFrame is an analysed plan that can be reused, so a repeat
        load returns the same object and runs no Spark job (opening a
        parquet store runs a schema-inference job; NetCDF and Zarr
        stores decode on the driver). The memo is keyed on the entry's
        path and a signature of the store's files — relative path, size
        and mtime of every file under the path — recomputed on every
        call (one `os.walk`). A rewritten store, a new path from
        `register`, or a path not on the local file system loads afresh,
        so a frame whose file index points at deleted part files is
        never served. Two racing loads both build a correct frame; the
        last one is kept."""
        entry = self._require(name)
        sig = _store_signature(entry.path)
        memo = self._loaded.get(name)
        if sig is not None and memo is not None \
                and memo[:2] == (entry.path, sig):
            return memo[2]
        df = self._open(entry)
        self._loaded[name] = (entry.path, sig, df)
        return df

    def _open(self, entry: DatasetEntry) -> DataFrame:
        name = entry.name
        # format dispatch: the registry serves parquet stores, classic
        # NetCDF files and Zarr/ARCO stores through one interface (the
        # reference's dataset registry, `api/routes/data.py:12-40`)
        if entry.path.endswith(".nc"):
            from .netcdf import read_netcdf_long
            return read_netcdf_long(self.spark, entry.path)
        if entry.path.rstrip("/").endswith(".zarr") or os.path.exists(
                os.path.join(entry.path, ".zmetadata")):
            from .zarr2 import read_zarr_long
            return read_zarr_long(self.spark, entry.path)
        # reuse the nanos-aware loader for known table names
        if entry.path.endswith(f"/{name}.parquet") and name in TABLES:
            return load_table(self.spark, entry.path.rsplit("/", 1)[0], name)
        # any other parquet: footer-detected TIMESTAMP(NANOS)
        # normalization — an ALIASED registration of a nanos store must
        # not crash the vectorized reader (or, with nanosAsLong already
        # set session-wide, silently surface raw int64 nanoseconds)
        from .io import load_parquet
        return load_parquet(self.spark, entry.path)

    def describe(self, name: str, compute_extents: bool = False) -> dict:
        """Dataset info — schema, attrs, optional data extents (the
        reference's `get_dataset_info`, `ingest/netcdf_reader.py:159-210`,
        and `/datasets/{id}` endpoint)."""
        entry = self._require(name)
        df = self.load(name)
        out = {
            "id": entry.name,
            "title": entry.title,
            "path": entry.path,
            "attrs": entry.attrs,
            "variables": {
                f.name: {"dtype": f.dataType.simpleString(),
                         **entry.var_attrs.get(f.name, {})}
                for f in df.schema.fields
            },
        }
        if compute_extents:
            tcol = detect_time_column(df)
            numeric = [f.name for f in df.schema.fields
                       if f.dataType.typeName() in
                       ("double", "float", "integer", "long")][:4]
            info = dataset_info(df, time_col=tcol, extent_cols=numeric)
            out["num_rows"] = info["num_rows"]
            if tcol:
                out["time_range"] = {
                    "start": str(info["time_range"]["start"]),
                    "end": str(info["time_range"]["end"]),
                }
            out["extent"] = {c: list(v) for c, v in
                             info.get("extent", {}).items()}
        return out

    def to_stac_items(self) -> list[dict]:
        """Export registry entries as STAC-collection-shaped dicts
        (`src/stac_demo.py:82-191`)."""
        items = []
        for e in self._entries.values():
            df = self.load(e.name)
            items.append({
                "type": "Collection",
                "id": e.name,
                "title": e.title,
                "properties": e.attrs,
                "cube:variables": {
                    f.name: {"type": "data",
                             "dtype": f.dataType.simpleString(),
                             **e.var_attrs.get(f.name, {})}
                    for f in df.schema.fields
                },
            })
        return items

    def to_json(self) -> str:
        return json.dumps(self.to_stac_items(), indent=2, default=str)

    def _require(self, name: str) -> DatasetEntry:
        if name not in self._entries:
            raise KeyError(f"dataset {name!r} not registered; "
                           f"known: {self.list_datasets()}")
        return self._entries[name]


def _store_signature(path: str) -> tuple | None:
    """(relative path, size, st_mtime_ns) of every file under `path` (of
    `path` itself for a single file), or None when `path` is not on the
    local file system."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((".", st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(path):
        return None
    sig = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            sig.append((os.path.relpath(full, path), st.st_size,
                        st.st_mtime_ns))
    return tuple(sorted(sig))
