"""Pure-numpy NetCDF3 "classic" reader/writer — no xarray/netCDF4
needed.

The reference's entire ingest path starts at NetCDF files
(`ingest/netcdf_reader.py:13-77`). The classic format (magic
``CDF\\x01``, and ``CDF\\x02`` with 64-bit offsets) is a simple,
publicly documented big-endian binary layout (NetCDF Users Guide,
"File Format Specification"):

    header = magic · numrecs · dim_list · gatt_list · var_list
    data   = fixed-size variables at their header offsets,
             then per-record interleaved record-variable slabs

so a complete reader is a few hundred lines of numpy — which makes the
engine's S1/S2 operators REAL for the format the reference actually
consumes. NetCDF4/HDF5 files (magic ``\\x89HDF``) still require the
external libraries and raise a clear error.

Also implements the minimal CF time decode ("<unit> since <epoch>"
attrs → datetime64) the reference relies on for its time axis, and a
writer (fixed + record variables) used by the round-trip tests and by
`convert`-style jobs that must emit the reference's input format.
"""

from __future__ import annotations

import re
import struct
from dataclasses import dataclass, field

import numpy as np

_MAGIC1, _MAGIC2 = b"CDF\x01", b"CDF\x02"
_NC_DIMENSION, _NC_VARIABLE, _NC_ATTRIBUTE = 0x0A, 0x0B, 0x0C

# nc_type → (numpy big-endian dtype, size)
_TYPES = {1: ">i1", 2: "S1", 3: ">i2", 4: ">i4", 5: ">f4", 6: ">f8"}
_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 4, 6: 8}
_REV_TYPES = {"int8": 1, "|S1": 2, "int16": 3, "int32": 4,
              "float32": 5, "float64": 6}

_CF_UNITS = {"second": "s", "seconds": "s", "minute": "m", "minutes": "m",
             "hour": "h", "hours": "h", "day": "D", "days": "D",
             "millisecond": "ms", "milliseconds": "ms",
             "microsecond": "us", "microseconds": "us"}


@dataclass
class NC3Var:
    name: str
    dim_ids: list[int]
    attrs: dict
    nc_type: int
    vsize: int
    begin: int


@dataclass
class NC3File:
    numrecs: int
    dims: list[tuple[str, int]]          # (name, size); 0 = record dim
    attrs: dict
    variables: dict[str, NC3Var] = field(default_factory=dict)

    def shape(self, v: NC3Var) -> tuple[int, ...]:
        out = []
        for i in v.dim_ids:
            name, size = self.dims[i]
            out.append(self.numrecs if size == 0 else size)
        return tuple(out)

    def is_record(self, v: NC3Var) -> bool:
        return bool(v.dim_ids) and self.dims[v.dim_ids[0]][1] == 0


class _Cursor:
    def __init__(self, buf: bytes):
        self.buf, self.off = buf, 0

    def u32(self) -> int:
        (v,) = struct.unpack_from(">I", self.buf, self.off)
        self.off += 4
        return v

    def u64(self) -> int:
        (v,) = struct.unpack_from(">Q", self.buf, self.off)
        self.off += 8
        return v

    def name(self) -> str:
        n = self.u32()
        s = self.buf[self.off:self.off + n].decode("utf-8")
        self.off += (n + 3) & ~3          # names pad to 4-byte boundary
        return s

    def values(self, nc_type: int, n: int):
        nbytes = _SIZES[nc_type] * n
        raw = self.buf[self.off:self.off + nbytes]
        self.off += (nbytes + 3) & ~3     # attr values pad to 4
        if nc_type == 2:
            return raw.decode("utf-8", errors="replace")
        return np.frombuffer(raw, dtype=_TYPES[nc_type], count=n)


def _read_attrs(c: _Cursor) -> dict:
    tag, n = c.u32(), c.u32()
    if tag == 0 and n == 0:
        return {}
    if tag != _NC_ATTRIBUTE:
        raise ValueError(f"bad attribute list tag {tag:#x}")
    out = {}
    for _ in range(n):
        name = c.name()
        nc_type, nelems = c.u32(), c.u32()
        v = c.values(nc_type, nelems)
        if isinstance(v, np.ndarray) and v.size == 1:
            v = v[0].item()
        out[name] = v
    return out


def parse_netcdf3(buf: bytes) -> NC3File:
    """Parse a classic-format header. Raises NotImplementedError for
    NetCDF4/HDF5 containers (read by ``sources/hdf5.py``), ValueError
    for anything that isn't NetCDF at all."""
    if buf[:4] == b"\x89HDF":
        raise NotImplementedError(
            "NetCDF4/HDF5 container: read it with sources/hdf5.py "
            "(hdf5_to_grid); this parser covers classic CDF-1/CDF-2 "
            "files.")
    if buf[:4] not in (_MAGIC1, _MAGIC2):
        raise ValueError("not a NetCDF file (bad magic)")
    wide = buf[:4] == _MAGIC2
    c = _Cursor(buf)
    c.off = 4
    numrecs = c.u32()

    tag, n = c.u32(), c.u32()
    dims: list[tuple[str, int]] = []
    if tag == _NC_DIMENSION:
        dims = [(c.name(), c.u32()) for _ in range(n)]
    elif not (tag == 0 and n == 0):
        raise ValueError(f"bad dimension list tag {tag:#x}")

    gattrs = _read_attrs(c)

    tag, n = c.u32(), c.u32()
    f = NC3File(numrecs=numrecs, dims=dims, attrs=gattrs)
    if tag == _NC_VARIABLE:
        for _ in range(n):
            name = c.name()
            ndims = c.u32()
            dim_ids = [c.u32() for _ in range(ndims)]
            vattrs = _read_attrs(c)
            nc_type = c.u32()
            vsize = c.u32()
            begin = c.u64() if wide else c.u32()
            f.variables[name] = NC3Var(name, dim_ids, vattrs, nc_type,
                                       vsize, begin)
    elif not (tag == 0 and n == 0):
        raise ValueError(f"bad variable list tag {tag:#x}")
    return f


def read_var(buf: bytes, f: NC3File, name: str) -> np.ndarray:
    """Materialize one variable as a native-endian numpy array."""
    v = f.variables[name]
    shape = f.shape(v)
    dt = _TYPES[v.nc_type]
    if not f.is_record(v):
        n = int(np.prod(shape)) if shape else 1
        arr = np.frombuffer(buf, dtype=dt, count=n, offset=v.begin)
        return arr.reshape(shape).astype(arr.dtype.newbyteorder("="))
    # record variable: one slab per record, interleaved across all
    # record variables. vsize is the padded slab size; the record stride
    # is the sum over record variables — except the special case of a
    # single record variable, where slabs may be written unpadded.
    rec_vars = [rv for rv in f.variables.values() if f.is_record(rv)]
    slab_shape = shape[1:]
    slab_elems = int(np.prod(slab_shape)) if slab_shape else 1
    if len(rec_vars) == 1:
        stride = slab_elems * _SIZES[v.nc_type]
    else:
        stride = sum(rv.vsize for rv in rec_vars)
    out = np.empty(shape, dtype=np.dtype(dt).newbyteorder("="))
    for r in range(f.numrecs):
        rec = np.frombuffer(buf, dtype=dt, count=slab_elems,
                            offset=v.begin + r * stride)
        out[r] = rec.reshape(slab_shape)
    return out


def decode_cf_time(values: np.ndarray, units: str) -> np.ndarray:
    """Minimal CF time decode: '<unit> since <iso-date[ time]>' →
    datetime64[ns] (the convention the reference's time axes use)."""
    m = re.match(r"\s*(\w+)\s+since\s+(.+)", units or "")
    if not m or m.group(1).lower() not in _CF_UNITS:
        raise ValueError(f"unsupported CF time units: {units!r}")
    code = _CF_UNITS[m.group(1).lower()]
    epoch = np.datetime64(m.group(2).strip().replace(" ", "T"), "ns")
    step_ns = np.timedelta64(1, code).astype("timedelta64[ns]") \
                .astype("int64")
    vals = np.asarray(values)
    if vals.dtype.kind == "f":
        # fractional CF coordinates ('0.5 days since ...') are legal
        # and common — scale in float64, round to the nearest ns
        # (truncating via int64 would floor every timestamp by up to
        # one whole unit)
        ns = np.round(vals.astype(np.float64) * step_ns).astype("int64")
    else:
        ns = vals.astype("int64") * step_ns
    return epoch + ns.astype("timedelta64[ns]")


# --- writer -----------------------------------------------------------------

def _pad4(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 4)


def _w_name(s: str) -> bytes:
    raw = s.encode("utf-8")
    return struct.pack(">I", len(raw)) + _pad4(raw)


def _w_attrs(attrs: dict) -> bytes:
    if not attrs:
        return struct.pack(">II", 0, 0)
    out = [struct.pack(">II", _NC_ATTRIBUTE, len(attrs))]
    for k, v in attrs.items():
        out.append(_w_name(k))
        if isinstance(v, str):
            raw = v.encode("utf-8")
            out.append(struct.pack(">II", 2, len(raw)) + _pad4(raw))
        else:
            arr = np.atleast_1d(np.asarray(v))
            if str(arr.dtype) not in _REV_TYPES and arr.dtype.kind == "i":
                # plain python ints arrive as int64; classic netCDF has
                # no 64-bit attribute type — downcast when lossless
                as32 = arr.astype("int32")
                if not np.array_equal(as32.astype(arr.dtype), arr):
                    raise ValueError(
                        f"attribute {k!r} exceeds the classic-format "
                        f"int32 range: {v!r}")
                arr = as32
            nc_type = _REV_TYPES.get(str(arr.dtype))
            if nc_type is None:
                raise ValueError(f"unsupported attribute dtype "
                                 f"{arr.dtype} for {k!r}")
            be = arr.astype(arr.dtype.newbyteorder(">"))
            out.append(struct.pack(">II", nc_type, arr.size)
                       + _pad4(be.tobytes()))
    return b"".join(out)


def write_netcdf3(path: str, dims: dict[str, int | None],
                  variables: dict[str, tuple[list[str], np.ndarray, dict]],
                  attrs: dict | None = None, version: int = 1) -> str:
    """Write a classic CDF-1 file (``version=2`` → CDF-2, 64-bit data
    offsets — required once fixed-section data passes 2 GiB; same
    layout otherwise). ``dims`` maps name → size (None for the record
    dimension); ``variables`` maps name → (dim names, array, attrs).
    Record variables put the record dim first. Used by tests and by
    jobs that must emit the reference's input format."""
    if version not in (1, 2):
        raise ValueError("version must be 1 (CDF-1) or 2 (CDF-2)")
    magic = _MAGIC1 if version == 1 else _MAGIC2
    begin_fmt = ">I" if version == 1 else ">Q"
    dim_names = list(dims)
    dim_ids = {d: i for i, d in enumerate(dim_names)}
    rec_dim = next((d for d, s in dims.items() if s is None), None)

    numrecs = 0
    for _, (vdims, arr, _) in variables.items():
        if vdims and vdims[0] == rec_dim:
            numrecs = max(numrecs, arr.shape[0])
    n_rec_vars = sum(1 for vdims, _, _ in variables.values()
                     if vdims and vdims[0] == rec_dim)

    # header with placeholder offsets first, to learn its length
    def header(begins: dict[str, int]) -> bytes:
        out = [magic, struct.pack(">I", numrecs),
               struct.pack(">II", _NC_DIMENSION, len(dims))]
        for d in dim_names:
            out.append(_w_name(d)
                       + struct.pack(">I", 0 if dims[d] is None else dims[d]))
        out.append(_w_attrs(attrs or {}))
        out.append(struct.pack(">II", _NC_VARIABLE, len(variables)))
        for name, (vdims, arr, vattrs) in variables.items():
            nc_type = _REV_TYPES[str(arr.dtype)]
            is_rec = bool(vdims and vdims[0] == rec_dim)
            slab = arr.shape[1:] if is_rec else arr.shape
            vsize = int(np.prod(slab, dtype=np.int64)) * _SIZES[nc_type] \
                if slab else _SIZES[nc_type]
            # classic-spec exception (same rule scipy.io.netcdf uses):
            # a SOLE record variable's vsize is the UNPADDED slab size —
            # records are written back-to-back, and external readers
            # stride by header vsize
            if not (is_rec and n_rec_vars == 1):
                vsize = (vsize + 3) & ~3
            out.append(_w_name(name) + struct.pack(">I", len(vdims)))
            out.extend(struct.pack(">I", dim_ids[d]) for d in vdims)
            out.append(_w_attrs(vattrs))
            out.append(struct.pack(">II", nc_type, vsize)
                       + struct.pack(begin_fmt, begins.get(name, 0)))
        return b"".join(out)

    hlen = len(header({}))
    fixed = [(n, v) for n, v in variables.items()
             if not (v[0] and v[0][0] == rec_dim)]
    record = [(n, v) for n, v in variables.items()
              if v[0] and v[0][0] == rec_dim]

    begins: dict[str, int] = {}
    off = hlen
    for name, (vdims, arr, _) in fixed:
        begins[name] = off
        nbytes = arr.nbytes
        off += (nbytes + 3) & ~3
    rec_begin = off
    rec_slabs = []
    for name, (vdims, arr, _) in record:
        begins[name] = off
        slab = int(np.prod(arr.shape[1:], dtype=np.int64)) * arr.dtype.itemsize \
            if arr.ndim > 1 else arr.dtype.itemsize
        padded = slab if len(record) == 1 else (slab + 3) & ~3
        rec_slabs.append((name, arr, slab, padded))
        off += padded

    with open(path, "wb") as fh:
        fh.write(header(begins))
        for name, (vdims, arr, _) in fixed:
            be = arr.astype(arr.dtype.newbyteorder(">"))
            fh.write(_pad4(be.tobytes()))
        for r in range(numrecs):
            for name, arr, slab, padded in rec_slabs:
                # asarray: a 1-D record var's arr[r] is a numpy SCALAR,
                # and scalar astype silently drops the byte-order flag
                be = np.asarray(arr[r]).astype(arr.dtype.newbyteorder(">"))
                raw = be.tobytes()
                fh.write(raw + b"\x00" * (padded - slab))
    return path
