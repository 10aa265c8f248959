"""NetCDF ingest (SURVEY.md S1/S2): dense labeled N-D grids → the engine's
long/tall row model, with no external NetCDF libraries.

Two ways turn a grid into rows, shared by every container:

- `chunk_tasks_long`, the chunk-per-task reader core: one stored chunk
  becomes one Spark task that decodes its own bytes. The containers
  bring their coordinate model and a chunk decoder
  (`hdf5.open_hdf5_long`, `zarr2.read_zarr_long_distributed`); the
  core prunes chunks, runs the tasks and filters the rows.
- `grid_to_long`, for grids decoded whole on the driver.

`read_netcdf_long` (and `open_netcdf_long`, which also returns the
header-derived cell count `plans.jobs.convert_netcdf` verifies against)
routes NetCDF4/HDF5 files to `hdf5.open_hdf5_long`. Files that reader
refuses at plan time (compound or string variables, variables on
different chunk grids, compact layouts) and classic CDF-1/CDF-2 files
(`sources/netcdf3.py`, a pure-numpy parser of the public format) are
decoded whole on the driver and handed to `grid_to_long`.

`read_netcdf3_many` scales the driver decoder horizontally (one task
per file via ``binaryFile`` + ``mapInPandas``). A file using a feature
no reader covers raises ``NotImplementedError``. Dimension detection
mirrors the reference's heuristics (`ingest/netcdf_reader.py:80-111`):
name patterns first, dtype fallback; every reader cuts ``time_range``
with the same inclusive mask (`time_mask`).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence
from itertools import product as iproduct

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


def time_mask(t: np.ndarray, time_range: tuple[str, str]) -> np.ndarray:
    """Which values of time coordinate ``t`` lie inside the inclusive
    ``time_range`` — bounds parsed as datetime64 on a datetime axis,
    as floats otherwise. The one read-time time predicate of the
    driver and chunk-per-task readers."""
    conv = (np.datetime64 if np.issubdtype(t.dtype, np.datetime64)
            else float)
    return (t >= conv(time_range[0])) & (t <= conv(time_range[1]))


def slice_time(coords: dict, arrays: dict, dim_order: Sequence[str],
               dims: dict, time_range: tuple[str, str] | None):
    """(coords, arrays) cut to the time steps `time_mask` keeps; unchanged
    without a ``time_range`` or a detected time dimension."""
    if not (time_range and dims["time"]):
        return coords, arrays
    tdim = dims["time"]
    keep = np.flatnonzero(time_mask(coords[tdim], time_range))
    axis = list(dim_order).index(tdim)
    return ({**coords, tdim: coords[tdim][keep]},
            {n: np.take(a, keep, axis=axis) for n, a in arrays.items()})


def grid_to_long(spark: SparkSession,
                 coords: dict[str, np.ndarray],
                 variables: dict[str, np.ndarray],
                 dim_order: Sequence[str],
                 time_chunk: int = 64) -> DataFrame:
    """Dense (d1, d2, ..., dk) grids → long DataFrame with one row per
    cell and one column per variable (the §1.5 mapping decision).

    Chunked along the leading dimension: each chunk is flattened and
    Arrow-encoded separately, then unioned, so no second full long-table
    pandas copy sits next to the dense grid. The dense grid itself is
    driver-resident by this function's contract: it serves the driver
    decoders (classic NetCDF, the NetCDF4/HDF5 files the chunk-per-task
    reader refuses, `zarr2.read_zarr_long`). Large inputs belong in
    `chunk_tasks_long` (behind `hdf5.read_hdf5_long_distributed` and
    `zarr2.read_zarr_long_distributed`) or `read_netcdf3_many`, whose
    executors decode their own chunks or files.
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


def chunk_tasks_long(spark: SparkSession,
                     coords: dict[str, np.ndarray],
                     dim_order: Sequence[str],
                     dims: dict[str, str | None],
                     shape: Sequence[int],
                     chunks: Sequence[int],
                     dtypes: dict[str, np.dtype],
                     decode: Callable[[list[tuple[int, ...]]],
                                      Iterable[dict[str, np.ndarray]]],
                     time_range: tuple[str, str] | None = None,
                     bbox: tuple[float, float, float, float] | None = None,
                     ) -> tuple[DataFrame, int]:
    """Chunk ↔ task: the one chunk-per-task reader core — the Spark shape
    of the reference's lazy Dask chunk graph (`processing/chunking.py`).
    Every stored chunk the predicates keep becomes one Spark task that
    decodes its own bytes, so no data variable is decoded on the driver.

    The container brings its coordinate model — ``coords`` (CF time
    decoded), ``dim_order``, detected ``dims``, the variables' common
    ``shape`` and ``chunks``, and each variable's output dtype in
    ``dtypes`` — and ``decode``, a picklable callable that a task calls
    once with the element offsets of its chunks. It yields, per offset
    in order, ``{variable: array}`` at full chunk shape (an edge block
    may already stop at the array's extent), with the fill value for a
    chunk that was never written. One call per task lets a container
    open its file once per task, not once per chunk.

    The core does the rest, the same way for every container:

    - ``time_range`` keeps time steps by `time_mask`, the predicate of
      the driver readers, so the rows equal theirs by construction;
    - a chunk is read only if it holds a kept time step and its lat/lon
      span meets ``bbox`` (a box that crosses the antimeridian prunes
      on latitude only);
    - a task crops each chunk to the array's extent, cuts it to the
      kept time steps and emits rows through `_chunk_frames`;
    - the exact ``bbox`` applies after decode (`io.bbox_filter`).

    Returns (frame, grid cells selected by ``time_range``) — the frame's
    row count when ``bbox`` is None, taken from the coordinates alone."""
    dim_order = list(dim_order)
    tdim = dims["time"] if time_range else None
    keep = time_mask(coords[tdim], time_range) if tdim else None
    n_cells = int(np.prod([int(keep.sum()) if d == tdim else len(coords[d])
                           for d in dim_order]))

    intervals: dict[str, tuple] = {}
    if bbox and dims["lat"] and dims["lon"]:
        west, south, east, north = bbox
        intervals[dims["lat"]] = (south, north)
        if west <= east:
            intervals[dims["lon"]] = (west, east)

    def chunk_ok(offs) -> bool:
        for axis, d in enumerate(dim_order):
            span = slice(offs[axis], offs[axis] + chunks[axis])
            if d == tdim and not keep[span].any():
                return False
            if d in intervals:
                lo, hi = intervals[d]
                vals = coords[d][span]
                if len(vals) == 0 or vals.max() < lo or vals.min() > hi:
                    return False
        return True

    grid = [range(0, s, c) for s, c in zip(shape, chunks)]
    keys_df = spark.createDataFrame(
        pd.DataFrame({"cid": [",".join(map(str, offs))
                              for offs in iproduct(*grid)
                              if chunk_ok(offs)]}),
        schema="cid string")
    taxis = dim_order.index(tdim) if tdim else None

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        offsets = [tuple(int(x) for x in cid.split(","))
                   for pdf in batches for cid in pdf["cid"]]
        for offs, arrays in zip(offsets, decode(offsets)):
            sel = tuple(slice(o, min(o + c, s))
                        for o, c, s in zip(offs, chunks, shape))
            crop = tuple(slice(0, sl.stop - sl.start) for sl in sel)
            local = {d: coords[d][sl] for d, sl in zip(dim_order, sel)}
            arrays = {n: a[crop] for n, a in arrays.items()}
            if keep is not None:
                k = keep[sel[taxis]]
                local[tdim] = local[tdim][k]
                arrays = {n: np.compress(k, a, axis=taxis)
                          for n, a in arrays.items()}
            yield from _chunk_frames(local, arrays, dim_order,
                                     time_chunk=chunks[0])

    sample = _chunk_frames({d: coords[d][:1] for d in dim_order},
                           {n: np.zeros([1] * len(dim_order), dtype=dt)
                            for n, dt in dtypes.items()}, dim_order)
    out = keys_df.mapInPandas(
        gen, schema=spark.createDataFrame(next(sample)).schema)
    if bbox and dims["lat"] and dims["lon"]:
        from .io import bbox_filter
        out = bbox_filter(out, dims["lat"], dims["lon"], bbox)
    return out, n_cells


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
    coords, arrays = slice_time(coords, arrays, dim_order, dims, time_range)
    return coords, arrays, dim_order, dims


def read_netcdf_long(spark: SparkSession, path: str,
                     variables: Sequence[str] | None = None,
                     time_range: tuple[str, str] | None = None,
                     bbox: tuple[float, float, float, float] | None = None
                     ) -> DataFrame:
    """Open a NetCDF file and convert to the long row model with
    read-time projection/predicates (the reference's `read_netcdf_lazy`,
    `ingest/netcdf_reader.py:34-77`) — `open_netcdf_long`'s frame."""
    return open_netcdf_long(spark, path, variables, time_range, bbox)[0]


def open_netcdf_long(spark: SparkSession, path: str,
                     variables: Sequence[str] | None = None,
                     time_range: tuple[str, str] | None = None,
                     bbox: tuple[float, float, float, float] | None = None
                     ) -> tuple[DataFrame, int]:
    """(long frame, grid cells selected by ``variables`` and
    ``time_range``) — the cell count is the frame's row count when
    ``bbox`` is None, taken from the coordinates, never from a pass over
    the frame.

    NetCDF4/HDF5 containers are read chunk-per-task by
    `hdf5.open_hdf5_long` (the libnetcdf 'earliest' and the 1.10+
    'latest' profiles: contiguous/chunked layouts, deflate, shuffle,
    szip, nbit, scaleoffset, DIMENSION_LIST semantics). Where it refuses
    at plan time (`hdf5.H5Unsupported`), the file is decoded whole on
    the driver by `hdf5.hdf5_to_grid`; classic CDF-1/CDF-2 files always
    are, by `sources/netcdf3.py`. A feature neither HDF5 reader covers
    raises a ``NotImplementedError`` that names it."""
    with open(path, "rb") as fh:
        is_hdf5 = fh.read(4) == b"\x89HDF"
    if is_hdf5:
        from .hdf5 import H5Unsupported, hdf5_to_grid, open_hdf5_long
        try:
            return open_hdf5_long(spark, path, variables, time_range, bbox)
        except H5Unsupported:
            pass                    # decoded on the driver below
    with open(path, "rb") as fh:
        buf = fh.read()
    if is_hdf5:
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
    return df, int(np.prod([len(coords[d]) for d in dim_order]))


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
