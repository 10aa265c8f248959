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

import functools
import hashlib
import json
import operator
import os
import threading
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


@dataclass
class StoreState:
    """A registered store as loaded: its frame and the path and file
    signature it was loaded at (see `Catalog.load`)."""
    path: str
    sig: tuple | None
    df: DataFrame
    # (pyarrow dataset, its INT96 columns) of a local parquet store,
    # opened on the first `Catalog.read_cell`
    cells: tuple | None = None

    @property
    def digest(self) -> str:
        """12 hex chars that change whenever the store's files do."""
        return hashlib.sha256(repr((self.path, self.sig)).encode()) \
            .hexdigest()[:12]


class Catalog:
    """STAC-lite registry: name → parquet path + attrs sidecar."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._entries: dict[str, DatasetEntry] = {}
        self._loaded: dict[str, StoreState] = {}     # see `load`
        self._lock = threading.Lock()
        self.cell_reads = {"parquet": 0, "frame": 0}  # see `read_cell`
        self._zones: dict = {}                        # see `session_zone`

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
                and (memo.path, memo.sig) == (entry.path, sig):
            return memo.df
        state = StoreState(entry.path, sig, self._open(entry))
        self._loaded[name] = state
        return state.df

    def state(self, name: str) -> StoreState:
        """The memoized `StoreState` behind `load` (refreshed by it); its
        `digest` keys results computed from this state of the store."""
        self.load(name)
        return self._loaded[name]

    def read_cell(self, name: str, time_col: str, value_col: str,
                  keys: dict[str, float]):
        """The rows of one grid cell (`keys`: column → value, equality) as
        a pyarrow Table of (`time_col` as timestamp[us, UTC],
        `value_col`), stable-sorted by time, nulls first — the order in
        which Spark aggregates a cell of a `timeseries` store.

        A local parquet store is read with pyarrow, no Spark job: a
        `pyarrow.dataset` (hive partitioning, as Spark discovers it)
        memoized on the same path and file signature as `load`, scanned
        for two columns under the cell filter, so row-group min/max
        statistics skip the groups that cannot hold the cell. Every other
        store (NetCDF, Zarr, a path not on the local file system) reads
        the same cell from the memoized frame in one Spark job. Counted
        per arm in `cell_reads`."""
        import pyarrow as pa
        import pyarrow.compute as pc

        state = self.state(name)
        if state.sig is not None and _format(state.path) == "parquet":
            arm, table = "parquet", self._parquet_cell(
                state, time_col, value_col, keys)
        else:
            from pyspark.sql import functions as F
            cond = functools.reduce(operator.and_, (
                F.col(c) == F.lit(v) for c, v in keys.items()))
            arm, table = "frame", (state.df.where(cond)
                                   .select(time_col, value_col).toArrow())
        with self._lock:
            self.cell_reads[arm] += 1
        utc = pa.timestamp("us", tz="UTC")
        table = table.set_column(0, time_col, table.column(0).cast(utc))
        return table.take(pc.sort_indices(
            table, [(time_col, "ascending")], null_placement="at_start"))

    def _parquet_cell(self, state: StoreState, time_col: str,
                      value_col: str, keys: dict[str, float]):
        import pyarrow as pa
        import pyarrow.dataset as ds

        if state.cells is None:
            fmt = ds.ParquetFileFormat(read_options=ds.ParquetReadOptions(
                coerce_int96_timestamp_unit="us"))
            dataset = ds.dataset(state.path, format=fmt,
                                 partitioning="hive")
            state.cells = (dataset, _int96_columns(dataset))
        dataset, int96 = state.cells
        cond = functools.reduce(operator.and_, (
            ds.field(c) == v for c, v in keys.items()))
        table = dataset.to_table(columns=[time_col, value_col], filter=cond)
        t = table.column(0)
        if t.type.tz is None and t.type.unit in ("ms", "us") \
                and time_col not in int96:
            # tz-naive micros/millis: Spark reads TIMESTAMP_NTZ, which
            # `load_parquet` casts to TIMESTAMP as wall-clock time in the
            # session time zone. (INT96 and tz-naive NANOS, read as
            # int64 and converted by `load_parquet`, are UTC instants.)
            t = _wall_clock_to_utc(t, self.session_zone())
        else:
            t = t.cast(pa.timestamp("us", tz="UTC"), safe=False)
        return table.set_column(0, time_col, t)

    def session_zone(self):
        """`spark.sql.session.timeZone` as Spark resolves it
        (`DateTimeUtils.getZoneId`, normalized): a fixed
        `datetime.timezone` for an offset ("+05:30", "GMT+8", "UTC"),
        else a `ZoneInfo`."""
        import datetime as dt
        from zoneinfo import ZoneInfo

        tz = self.spark.conf.get("spark.sql.session.timeZone")
        zone = self._zones.get(tz)
        if zone is None:
            utils = self.spark.sparkContext._jvm.org.apache.spark.sql \
                .catalyst.util.DateTimeUtils
            zid = utils.getZoneId(tz).normalized().getId()
            if zid == "Z":
                zone = dt.timezone.utc
            elif zid[0] in "+-":
                h, m, sec = (zid[1:].split(":") + ["0", "0"])[:3]
                off = dt.timedelta(hours=int(h), minutes=int(m),
                                   seconds=int(sec))
                zone = dt.timezone(-off if zid[0] == "-" else off)
            else:
                zone = ZoneInfo(zid)
            self._zones[tz] = zone
        return zone

    def _open(self, entry: DatasetEntry) -> DataFrame:
        name = entry.name
        # format dispatch: the registry serves parquet stores, classic
        # NetCDF files and Zarr/ARCO stores through one interface (the
        # reference's dataset registry, `api/routes/data.py:12-40`)
        fmt = _format(entry.path)
        if fmt == "netcdf":
            from .netcdf import read_netcdf_long
            return read_netcdf_long(self.spark, entry.path)
        if fmt == "zarr":
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
        """Dataset info — schema, attrs, the format `_open` reads the
        path as, optional data extents (the
        reference's `get_dataset_info`, `ingest/netcdf_reader.py:159-210`,
        and `/datasets/{id}` endpoint)."""
        entry = self._require(name)
        df = self.load(name)
        out = {
            "id": entry.name,
            "title": entry.title,
            "path": entry.path,
            "format": _format(entry.path),
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


def _format(path: str) -> str:
    """"netcdf", "zarr" or "parquet": how `Catalog._open` reads `path`."""
    if path.endswith(".nc"):
        return "netcdf"
    if path.rstrip("/").endswith(".zarr") or os.path.exists(
            os.path.join(path, ".zmetadata")):
        return "zarr"
    return "parquet"


def _int96_columns(dataset) -> frozenset:
    """Columns stored as INT96 (Spark's default timestamp encoding, which
    pyarrow reads as tz-naive), from the first file's footer."""
    frag = next(iter(dataset.get_fragments()), None)
    if frag is None:
        return frozenset()
    schema = frag.metadata.schema
    return frozenset(schema.column(i).name for i in range(len(schema))
                     if schema.column(i).physical_type == "INT96")


def local_micros(t, zone):
    """UTC instants (a timestamp or int64 µs pyarrow array) → the wall
    clock in `zone` as int64 µs: the local date-time Spark's `year`,
    `month` and `to_date` read in the session time zone."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(zone, dt.timezone):
        off = zone.utcoffset(None) // dt.timedelta(microseconds=1)
        return pc.add(t.cast(pa.int64()), off)
    return pc.local_timestamp(t.cast(pa.timestamp("us", tz=zone.key))) \
        .cast(pa.int64())


def _wall_clock_to_utc(t, zone):
    """tz-naive wall-clock timestamps → UTC instants in `zone`, as Java
    resolves a local date-time: a time in a gap moves forward by the
    gap, an ambiguous one takes the earlier offset (zoneinfo's fold=0
    does both)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.compute as pc

    wall = t.cast(pa.timestamp("us")).cast(pa.int64())
    if isinstance(zone, dt.timezone):
        off = zone.utcoffset(None) // dt.timedelta(microseconds=1)
        return pc.subtract(wall, off).cast(pa.timestamp("us", tz="UTC"))
    epoch = dt.datetime(1970, 1, 1)
    out = []
    for us in wall.to_pylist():
        if us is None:
            out.append(None)
            continue
        local = (epoch + dt.timedelta(microseconds=us)).replace(tzinfo=zone)
        out.append(us - local.utcoffset() // dt.timedelta(microseconds=1))
    return pa.array(out, pa.int64()).cast(pa.timestamp("us", tz="UTC"))


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
