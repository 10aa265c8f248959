"""NetCDF ingest (SURVEY.md S1/S2): dense labeled N-D grids → the engine's
long/tall row model.

The conversion core (``grid_to_long``) is real and tested: it takes
coordinate vectors + dense numpy variable arrays (exactly what
``xr.open_dataset`` exposes) and produces the long DataFrame, chunked
along the leading (time) axis so each chunk becomes one Arrow batch —
the ingest never materializes the full cross product driver-side.

The file-format seam (``read_netcdf_long``) is REAL for classic
NetCDF3 files (CDF-1/CDF-2): ``sources/netcdf3.py`` is a pure-numpy
parser/writer of the publicly documented format, so no external
libraries are needed for the reference's primary input path.
``read_netcdf3_many`` scales it horizontally (one task per file via
``binaryFile`` + ``mapInPandas``). NetCDF4/HDF5 containers go through
the pure-numpy HDF5 parser in ``sources/hdf5.py``; a file using an HDF5
feature it does not cover raises ``NotImplementedError``. Dimension
detection mirrors the reference's heuristics
(`ingest/netcdf_reader.py:80-111`): name patterns first, dtype fallback.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

TIME_NAMES = ("time", "t", "date", "datetime")          # ref :80-90
LAT_NAMES = ("lat", "latitude", "y")                     # ref :93-111
LON_NAMES = ("lon", "longitude", "long", "x")


def detect_dims(dim_names: Sequence[str],
                dtypes: dict[str, str] | None = None) -> dict[str, str | None]:
    """Name-pattern dimension detection with datetime-dtype fallback —
    the reference's `_detect_time_dim` / `_detect_lat_lon_dims`."""
    lower = {d.lower(): d for d in dim_names}

    def find(cands):
        for c in cands:
            if c in lower:
                return lower[c]
        return None

    time_dim = find(TIME_NAMES)
    if time_dim is None and dtypes:
        for d in dim_names:
            if "datetime" in str(dtypes.get(d, "")):
                time_dim = d
                break
    return {"time": time_dim, "lat": find(LAT_NAMES), "lon": find(LON_NAMES)}


def grid_to_long(spark: SparkSession,
                 coords: dict[str, np.ndarray],
                 variables: dict[str, np.ndarray],
                 dim_order: Sequence[str],
                 time_chunk: int = 64) -> DataFrame:
    """Dense (d1, d2, ..., dk) grids → long DataFrame with one row per
    cell and one column per variable (the §1.5 mapping decision).

    Chunked along the leading dimension: each chunk is flattened and
    Arrow-encoded separately, then unioned — this avoids holding a
    SECOND full long-table pandas copy next to the dense grid (the old
    single pd.concat doubled peak driver memory). The dense grid itself
    is driver-resident by this function's contract; for stores too big
    for that, use the distributed readers (`read_netcdf3_many`,
    `hdf5.read_hdf5_long_distributed`, `zarr2.read_zarr_long_distributed`)
    whose executors decode their own chunks. (With xarray present, pass
    ``ds[v].values`` per chunk — identical code path.)
    """
    out = None
    for chunk in _chunk_frames(coords, variables, dim_order, time_chunk):
        part = spark.createDataFrame(chunk)
        out = part if out is None else out.unionByName(part)
    if out is None:
        # zero-length leading dimension: build an empty frame with the
        # expected schema instead of silently returning None
        cols = {d: pd.Series(coords[d][:0]) for d in dim_order}
        cols.update({v: pd.Series(a.ravel()[:0]) for v, a in variables.items()})
        out = spark.createDataFrame(pd.DataFrame(cols))
    return out


def _chunk_frames(coords: dict[str, np.ndarray],
                  variables: dict[str, np.ndarray],
                  dim_order: Sequence[str],
                  time_chunk: int = 64):
    """Yield the long-form pandas frames for a dense grid, one per
    leading-dimension chunk (shared by the driver-side and the
    `mapInPandas` distributed ingest paths)."""
    dims = list(dim_order)
    sizes = [len(coords[d]) for d in dims]
    for v, arr in variables.items():
        if list(arr.shape) != sizes:
            raise ValueError(f"variable {v!r} shape {arr.shape} != dims {sizes}")

    mesh_tail = np.meshgrid(*[coords[d] for d in dims[1:]], indexing="ij") \
        if len(dims) > 1 else []
    tail_cols = {d: m.ravel() for d, m in zip(dims[1:], mesh_tail)}
    tail_n = int(np.prod(sizes[1:])) if len(dims) > 1 else 1

    lead = coords[dims[0]]
    for start in range(0, sizes[0], time_chunk):
        stop = min(start + time_chunk, sizes[0])
        n = (stop - start) * tail_n
        data = {dims[0]: np.repeat(lead[start:stop], tail_n)}
        for d in dims[1:]:
            data[d] = np.tile(tail_cols[d], stop - start)
        for v, arr in variables.items():
            data[v] = arr[start:stop].reshape(n)
        yield pd.DataFrame(data)


def _grid_from_nc3(buf: bytes,
                   variables: Sequence[str] | None = None,
                   time_range: tuple[str, str] | None = None,
                   ) -> tuple[dict, dict, list[str], dict]:
    """Parse classic-NetCDF bytes → (coords, data vars, dim_order,
    detected dims), with variable validation, CF time decode, and
    read-time time slicing (the reference's `read_netcdf_lazy`
    projection/predicate behavior, `ingest/netcdf_reader.py:34-77`)."""
    from . import netcdf3

    f = netcdf3.parse_netcdf3(buf)
    dim_names = [d for d, _ in f.dims]
    coord_vars = {n for n in f.variables if n in dim_names}
    data_names = [n for n in f.variables if n not in coord_vars]
    if variables:
        missing = [v for v in variables if v not in data_names]
        if missing:
            raise ValueError(f"variables not found: {missing}")
        data_names = list(variables)
    if not data_names:
        raise ValueError("no data variables in file")

    dim_order = [dim_names[i] for i in f.variables[data_names[0]].dim_ids]
    coords: dict[str, np.ndarray] = {}
    for d in dim_order:
        if d in coord_vars:
            vals = netcdf3.read_var(buf, f, d)
            units = f.variables[d].attrs.get("units", "")
            if isinstance(units, str) and " since " in units:
                vals = netcdf3.decode_cf_time(vals, units)
            coords[d] = vals
        else:
            size = dict(f.dims)[d] or f.numrecs
            coords[d] = np.arange(size)
    arrays = {n: netcdf3.read_var(buf, f, n) for n in data_names}

    dims = detect_dims(dim_order,
                       {d: str(coords[d].dtype) for d in dim_order})
    if time_range and dims["time"]:
        t = coords[dims["time"]]
        lo = np.datetime64(time_range[0]) if np.issubdtype(
            t.dtype, np.datetime64) else float(time_range[0])
        hi = np.datetime64(time_range[1]) if np.issubdtype(
            t.dtype, np.datetime64) else float(time_range[1])
        keep = np.where((t >= lo) & (t <= hi))[0]
        axis = dim_order.index(dims["time"])
        coords[dims["time"]] = t[keep]
        arrays = {n: np.take(a, keep, axis=axis) for n, a in arrays.items()}
    return coords, arrays, dim_order, dims


def read_netcdf_long(spark: SparkSession, path: str,
                     variables: Sequence[str] | None = None,
                     time_range: tuple[str, str] | None = None,
                     bbox: tuple[float, float, float, float] | None = None
                     ) -> DataFrame:
    """Open a NetCDF file and convert to the long row model with
    read-time projection/predicates (the reference's `read_netcdf_lazy`,
    `ingest/netcdf_reader.py:34-77`).

    Classic-format files (CDF-1/CDF-2) are read by the built-in
    pure-numpy parser (`sources/netcdf3.py`); NetCDF4/HDF5 containers by
    the built-in HDF5 parser (`sources/hdf5.py` — the libnetcdf
    'earliest' profile: v0 superblock, contiguous/chunked+deflate
    layouts, DIMENSION_LIST semantics). Files using HDF5 features
    outside that profile raise a ``NotImplementedError`` that names the
    feature — no external libraries are used."""
    with open(path, "rb") as fh:
        buf = fh.read()
    if buf[:4] == b"\x89HDF":
        from .hdf5 import H5Unsupported, hdf5_to_grid
        try:
            coords, arrays, dim_order, dims = hdf5_to_grid(
                buf, variables, time_range)
        except H5Unsupported as unsupported:
            raise NotImplementedError(
                f"NetCDF4/HDF5 file uses an unsupported feature "
                f"({unsupported})") from unsupported
    else:
        coords, arrays, dim_order, dims = _grid_from_nc3(
            buf, variables, time_range)
    df = grid_to_long(spark, coords, arrays, dim_order=dim_order)
    if bbox and dims["lat"] and dims["lon"]:
        from .io import bbox_filter
        df = bbox_filter(df, dims["lat"], dims["lon"], bbox)
    return df


def _grid_from_bytes(buf: bytes, variables=None, time_range=None):
    """Container-agnostic grid load: sniff the magic and route to the
    classic (CDF-1/2) or HDF5/NetCDF-4 parser."""
    if buf[:4] == b"\x89HDF":
        from .hdf5 import hdf5_to_grid
        return hdf5_to_grid(buf, variables, time_range)
    return _grid_from_nc3(buf, variables, time_range)


def read_netcdf3_many(spark: SparkSession, path_glob: str,
                      variables: Sequence[str] | None = None,
                      ) -> DataFrame:
    """Distributed multi-file ingest: one task per NetCDF file (classic
    CDF-1/2 or NetCDF4/HDF5 container — sniffed per file).

    `binaryFile` ships each file's bytes to an executor; `mapInPandas`
    parses and emits the long rows in leading-dimension chunks (Arrow
    batches), so no grid ever materializes whole — the Spark shape of
    the reference's per-file open loop, scaled horizontally. Schema is
    inferred from one file driver-side; all files must share it (the
    multi-file datasets the reference targets are homogeneous time
    shards)."""
    import pandas as pd

    first = (spark.read.format("binaryFile").load(path_glob)
             .select("content").head())
    if first is None:
        raise ValueError(f"no files match {path_glob}")
    coords, arrays, dim_order, _ = _grid_from_bytes(
        bytes(first["content"]), variables)
    probe = _chunk_frames(coords, arrays, dim_order, time_chunk=1)
    schema_df = spark.createDataFrame(next(probe))
    schema = schema_df.schema

    want = list(variables) if variables else None

    def gen(batches):
        for pdf in batches:
            for raw in pdf["content"]:
                c, a, order, _ = _grid_from_bytes(bytes(raw), want)
                yield from _chunk_frames(c, a, order)

    files = spark.read.format("binaryFile").load(path_glob) \
        .select("content")
    return files.mapInPandas(gen, schema=schema)


def long_to_netcdf3(df: DataFrame, path: str,
                    dim_cols: Sequence[str] = ("time", "lat", "lon"),
                    var_cols: Sequence[str] | None = None,
                    attrs: dict | None = None) -> str:
    """Export long rows back to a classic NetCDF3 file — the inverse of
    `read_netcdf_long`, closing the reference's format round trip
    (NetCDF in → engine → NetCDF out).

    Driver-side by design: the export targets small *derived products*
    (climatologies, monthly means, region extracts — the things the
    reference serves to users), not raw facts. The dense grid is the
    cross product of observed coordinate values; missing cells become
    NaN. A datetime64 leading dimension is CF-encoded as
    'hours since <min>'."""
    coords, variables = _long_to_grid(df, dim_cols, var_cols)
    nc_dims: dict[str, int | None] = {list(dim_cols)[0]: None}
    for d in list(dim_cols)[1:]:
        nc_dims[d] = len(coords[d][1])

    from . import netcdf3
    return netcdf3.write_netcdf3(
        path,
        nc_dims,
        {**{d: ([d], vals, vattrs) for d, (vattrs, vals) in coords.items()},
         **variables},
        attrs=attrs or {})


def long_to_hdf5(df: DataFrame, path: str,
                 dim_cols: Sequence[str] = ("time", "lat", "lon"),
                 var_cols: Sequence[str] | None = None,
                 attrs: dict | None = None,
                 chunks: dict[str, tuple[int, ...]] | None = None,
                 compress: bool = False) -> str:
    """Export long rows to a NetCDF4/HDF5 file (the modern container the
    reference's users actually exchange) — same derived-product scope
    as `long_to_netcdf3`, writing DIMENSION_SCALE/DIMENSION_LIST
    markers so any netCDF-4 reader maps dimensions correctly."""
    coords, variables = _long_to_grid(df, dim_cols, var_cols)
    from .hdf5 import write_hdf5
    return write_hdf5(
        path,
        {d: (vals, vattrs) for d, (vattrs, vals) in coords.items()},
        dict(variables),
        attrs=attrs or {}, chunks=chunks, compress=compress)


# Single-file export is inherently driver-side; fail LOUDLY above this
# rather than letting `.toPandas()` OOM the driver raw (the serving
# layer's MAX_POINTS pattern, serving.py:85). Large results belong in
# the distributed parquet/zarr sinks.
MAX_EXPORT_BYTES = 4 << 30


def _long_to_grid(df: DataFrame, dim_cols: Sequence[str],
                  var_cols: Sequence[str] | None,
                  max_bytes: int = MAX_EXPORT_BYTES):
    """Collect long rows and densify to coordinate vectors + N-D arrays
    (shared by the NetCDF and Zarr exporters). Returns
    (``{dim: (attrs, values)}``, ``{var: (dims, array, attrs)}``); a
    datetime64 dimension is CF-encoded as 'hours since <min>'.

    Estimates the collected size (rows × schema bytes/row) FIRST and
    raises above ``max_bytes`` — a single-file export is driver-side
    by contract (see module docstring), so an oversized one must fail
    with a named limit, not an opaque driver OOM."""
    import pandas as pd

    from .io import estimate_row_bytes

    dim_cols = list(dim_cols)
    if var_cols is None:
        var_cols = [c for c in df.columns if c not in dim_cols]
    # localCheckpoint BEFORE the guard count: the count and the
    # subsequent toPandas otherwise each execute the full upstream
    # pipeline (twice the work for uncached inputs); after the
    # checkpoint both actions read materialized blocks
    proj = df.select(*dim_cols, *var_cols).localCheckpoint()
    n_rows = proj.count()
    est = n_rows * estimate_row_bytes(proj)
    if est > max_bytes:
        raise ValueError(
            f"single-file export would collect ~{est / 2**30:.1f} GiB "
            f"({n_rows:,} rows) to the driver, above the "
            f"{max_bytes / 2**30:.1f} GiB cap — write the distributed "
            "parquet/zarr sinks instead, or export a slice")
    pdf = proj.toPandas()

    raw: dict[str, np.ndarray] = {}
    for d in dim_cols:
        raw[d] = np.sort(pd.unique(pdf[d].to_numpy()))
    sizes = [len(raw[d]) for d in dim_cols]
    idx = [np.searchsorted(raw[d], pdf[d].to_numpy()) for d in dim_cols]

    coords: dict[str, tuple[dict, np.ndarray]] = {}
    for d in dim_cols:
        vals = raw[d]
        vattrs: dict = {}
        if np.issubdtype(vals.dtype, np.datetime64):
            epoch = vals.min()
            # CF-encode at the coarsest resolution that divides every
            # offset EXACTLY — a fixed 'hours since' floor-divide would
            # silently truncate sub-hour timestamps and collapse
            # distinct coordinates on re-read.
            off_ns = (vals - epoch).astype("timedelta64[ns]").astype(np.int64)
            for unit, nanos in (("hours", 3_600_000_000_000),
                                ("minutes", 60_000_000_000),
                                ("seconds", 1_000_000_000),
                                ("milliseconds", 1_000_000),
                                ("microseconds", 1_000)):
                if not (off_ns % nanos).any():
                    break
            else:
                raise ValueError(
                    f"dimension {d!r} has sub-microsecond timestamps; "
                    "not representable in CF integer time units")
            epoch_unit = ("s" if epoch == epoch.astype("datetime64[s]")
                          .astype(epoch.dtype) else "us")
            units = (f"{unit} since "
                     f"{np.datetime_as_string(epoch, unit=epoch_unit).replace('T', ' ')}")
            off = off_ns // nanos
            # classic NetCDF has no 64-bit int: spill to exact float64
            # when fine-resolution offsets overflow int32
            vals = (off.astype(np.int32) if off.max(initial=0) <= 2**31 - 1
                    else off.astype(np.float64))
            vattrs["units"] = units
        elif vals.dtype == object:
            raise ValueError(f"dimension {d!r} is not numeric/datetime")
        else:
            vals = vals.astype(np.float64)
        coords[d] = (vattrs, vals)

    variables: dict[str, tuple[list[str], np.ndarray, dict]] = {}
    for v in var_cols:
        arr = np.full(sizes, np.nan, dtype=np.float64)
        arr[tuple(idx)] = pdf[v].to_numpy().astype(np.float64)
        variables[v] = (dim_cols, arr, {})
    return coords, variables


def long_to_zarr(df: DataFrame, path: str,
                 dim_cols: Sequence[str] = ("time", "lat", "lon"),
                 var_cols: Sequence[str] | None = None,
                 chunks: dict[str, list[int]] | None = None,
                 attrs: dict | None = None) -> str:
    """Export long rows to an ARCO Zarr v2 store (blosc-zstd chunks) —
    the engine-side `convert_to_zarr` sink
    (`ingest/arco_converter.py:110-160`), same driver-side derived-
    product scope as `long_to_netcdf3`."""
    from . import zarr2

    coords, variables = _long_to_grid(df, dim_cols, var_cols)
    store = zarr2.write_zarr(
        path,
        dims={d: vals for d, (vattrs, vals) in coords.items()},
        variables=variables,
        chunks=chunks,
        attrs=attrs or {})
    # re-attach CF units on encoded time coords (write_zarr sets only
    # _ARRAY_DIMENSIONS for dims)
    import json
    import os
    for d, (vattrs, _) in coords.items():
        if vattrs:
            p = os.path.join(path, d, ".zattrs")
            with open(p) as fh:
                z = json.load(fh)
            z.update(vattrs)
            with open(p, "w") as fh:
                json.dump(z, fh)
            mp = os.path.join(path, ".zmetadata")
            with open(mp) as fh:
                m = json.load(fh)
            m["metadata"][f"{d}/.zattrs"].update(vattrs)
            with open(mp, "w") as fh:
                json.dump(m, fh)
    return store
