"""Pure-python HDF5 / NetCDF-4 container reader+writer — the same
no-external-libs approach as ``netcdf3.py`` (classic format) and
``zarr2.py`` (ARCO stores), built from the public *HDF5 File Format
Specification* (version 0 superblock, v1 object headers).

Closes the S1 gap: the reference's primary ingest is
``xr.open_dataset(..., engine="netcdf4")``
(`src/climate_pipeline/ingest/netcdf_reader.py`), and real ERA5/CMIP
archives are overwhelmingly NetCDF4/HDF5. libnetcdf writes the
"earliest" HDF5 profile — superblock v0, v1 object headers, symbol-table
groups, contiguous or chunked(+deflate/shuffle) dataset layouts — which
is fully implemented here. The 1.10+ "latest" profile (h5py with
``libver='latest'``/track-order features) is also read: superblock
v2/v3, 'OHDR' v2 object headers with 'OCHK' continuations, compact
LINK-message groups, layout-v4 chunk indexes (Single Chunk, Implicit,
Fixed Array, Extensible Array for appendable unlimited-dimension
datasets, v2 B-tree), dense link AND attribute storage (fractal
heap + name v2 B-trees), and compound datatypes (numpy structured
arrays; one long-model variable per member). Features beyond that
(filtered fractal heaps, float-scaled scaleoffset, ...) raise a
crisp ``NotImplementedError`` naming the feature. Fractal heaps walk
arbitrarily deep indirect-block trees (multi-level) since round 9. Array datatypes
(class 10, and v1 compound members' inline dimensionality) map to
numpy subarray dtypes — the per-member wind-vector/level-profile
station-obs shape. Szip (CCSDS 121.0 extended-Rice, the filter CMIP/ERA5
archive files frequently carry) decodes for real through
``sources/szip.py``; nbit (filter 5) and integer scaleoffset
(filter 6) decode natively since round 9 (``_nbit_decode`` /
``_scaleoffset_decode``).

Reader semantics (the netCDF-4 data model):
- dimension order per variable from the ``DIMENSION_LIST`` attribute
  (vlen object references, dereferenced through the global heap); falls
  back to matching 1-D coordinate sizes when absent,
- CF time decode (``units = '<u> since <epoch>'``) via
  `netcdf3.decode_cf_time`,
- ``scale_factor`` / ``add_offset`` / ``_FillValue`` unpacking.

The writer emits the same profile (used for fixtures and as a derived-
product sink) including DIMENSION_SCALE/DIMENSION_LIST markers, so a
round trip through real netCDF-4 conventions is testable without h5py.
"""

from __future__ import annotations

import struct
import zlib
from itertools import product as iproduct

import numpy as np

MAGIC = b"\x89HDF\r\n\x1a\n"
UNDEF = 0xFFFFFFFFFFFFFFFF

# message type ids
MSG_NIL = 0x0000
MSG_DATASPACE = 0x0001
MSG_LINK_INFO = 0x0002
MSG_DATATYPE = 0x0003
MSG_FILL_OLD = 0x0004
MSG_FILL = 0x0005
MSG_LINK = 0x0006
MSG_LAYOUT = 0x0008
MSG_GROUP_INFO = 0x000A
MSG_FILTERS = 0x000B
MSG_ATTRIBUTE = 0x000C
MSG_CONTINUATION = 0x0010
MSG_SYMBOL_TABLE = 0x0011
MSG_ATTR_INFO = 0x0015

FILTER_DEFLATE = 1
FILTER_SHUFFLE = 2
FILTER_FLETCHER32 = 3
FILTER_SZIP = 4
FILTER_NBIT = 5
FILTER_SCALEOFFSET = 6


def _unpack_msb(buf: bytes, width: int, count: int) -> np.ndarray:
    """``count`` ``width``-bit big-endian (MSB-first) integers from a
    continuous bitstream — the packing convention both H5Znbit and
    H5Zscaleoffset use (their per-byte walks emit each value's
    significant bits most-significant-first)."""
    bits = np.unpackbits(np.frombuffer(buf, np.uint8),
                         count=width * count)
    weights = (1 << np.arange(width - 1, -1, -1)).astype(np.uint64)
    return bits.reshape(count, width).astype(np.uint64) @ weights


def _pack_msb(vals: np.ndarray, width: int) -> bytes:
    v = np.asarray(vals, np.uint64)
    bits = ((v[:, None] >> np.arange(width - 1, -1, -1)
             .astype(np.uint64)) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.reshape(-1)).tobytes()


def _nbit_decode(raw: bytes, info: dict, n_elems: int | None) -> bytes:
    """H5Z_FILTER_NBIT (id 5, public H5Znbit.c format): the stream is
    each element's [bit_offset, bit_offset + precision) field packed
    MSB-first; the datatype message carries precision/offset (that is
    where the library's set-local reads them too). Full-precision
    datatypes pass through (the library's need-not-compress flag)."""
    size = info.get("size")
    if info.get("kind") != "int" or not size or n_elems is None:
        raise H5Unsupported(
            "HDF5 nbit filter on a non-fixed-point datatype")
    prec = info.get("precision", size * 8)
    off = info.get("bit_offset", 0)
    if off == 0 and prec >= size * 8:
        return raw                      # need-not-compress passthrough
    field = _unpack_msb(raw, prec, n_elems) << np.uint64(off)
    order = ">" if info["dtype"].byteorder == ">" else "<"
    return field.astype(np.dtype(f"{order}u{size}")).tobytes()


def _scaleoffset_decode(raw: bytes, cd_values, info: dict,
                        n_elems: int | None) -> bytes:
    """H5Z_FILTER_SCALEOFFSET (id 6, public H5Zscaleoffset.c format):
    a 4-byte little-endian ``minbits`` + 8-byte little-endian
    ``minval`` header, then each element's ``(value − minval)``
    packed MSB-first in ``minbits`` bits; minbits 0 means the chunk is
    the constant ``minval``. Integer scaling (H5Z_SO_INT == 2) and
    float D-scaling (H5Z_SO_FLOAT_DSCALE == 0: encoded =
    lround((v − min)·10^D), minval = the min FLOAT's IEEE bits,
    reconstruction v = int/10^D + min in the dataset's own float
    width — H5Zscaleoffset.c's postdecompress macros verbatim).
    E-scaling (1) is unimplemented in the library itself and stays
    loud by name."""
    size = info.get("size")
    stype = int(cd_values[0]) if cd_values else 2
    if stype == 1:
        raise H5Unsupported(
            "HDF5 scaleoffset float E-scaling (H5Z_SO_FLOAT_ESCALE — "
            "unimplemented in libhdf5 as well)")
    if stype == 0:
        return _scaleoffset_decode_fd(raw, cd_values, info, n_elems)
    if info.get("kind") != "int" or not size or n_elems is None:
        raise H5Unsupported(
            "HDF5 scaleoffset H5Z_SO_INT filter on a non-fixed-point "
            "datatype")
    if stype != 2:
        raise H5Unsupported(
            f"HDF5 scaleoffset scale type {stype} "
            "(H5Z_SO_INT / H5Z_SO_FLOAT_DSCALE only)")
    minbits = int.from_bytes(raw[0:4], "little")
    minval = int.from_bytes(raw[4:12], "little")
    if minbits >= size * 8:
        # library stores the chunk uncompressed after the header
        vals = np.frombuffer(raw[12:], info["dtype"],
                             count=n_elems)
        return vals.tobytes()
    if minbits == 0:
        out = np.full(n_elems, minval, np.uint64)
    else:
        out = _unpack_msb(raw[12:], minbits, n_elems) \
            + np.uint64(minval)
    out &= np.uint64((1 << (size * 8)) - 1) if size < 8 \
        else np.uint64(0xFFFFFFFFFFFFFFFF)
    order = ">" if info["dtype"].byteorder == ">" else "<"
    return out.astype(np.dtype(f"{order}u{size}")).tobytes()


def _scaleoffset_decode_fd(raw: bytes, cd_values, info: dict,
                           n_elems: int | None) -> bytes:
    """H5Z_SO_FLOAT_DSCALE decode: cd_values[1] is the decimal scale
    factor D; the 8-byte minval header holds the chunk-minimum FLOAT's
    IEEE bytes (little-endian, low bytes for f4); each packed integer
    i reconstructs as ``(ftype)(i / 10^D + min)`` with the divide and
    add in the dataset's own float width (float32 arithmetic for f4 —
    C promotes int/powf(10,D)+min to float, never double). A
    full-width minbits stores the ORIGINAL float values after the
    header (the library's incompressible-chunk path)."""
    size = info.get("size")
    if info.get("kind") != "float" or size not in (4, 8) \
            or n_elems is None:
        raise H5Unsupported(
            "HDF5 scaleoffset D-scale filter on a non-float datatype")
    ftype = np.float32 if size == 4 else np.float64
    d_val = int(cd_values[1]) if len(cd_values) > 1 else 0
    minbits = int.from_bytes(raw[0:4], "little")
    if minbits >= size * 8:
        # incompressible chunk: original float values follow the header
        vals = np.frombuffer(raw[12:], np.dtype(f"<f{size}"),
                             count=n_elems)
        order = ">" if info["dtype"].byteorder == ">" else "<"
        return vals.astype(np.dtype(f"{order}f{size}")).tobytes()
    minval = np.frombuffer(raw[4:4 + size], f"<f{size}")[0]
    if minbits == 0:
        ints = np.zeros(n_elems, np.uint64)
    else:
        ints = _unpack_msb(raw[12:], minbits, n_elems)
    pow10 = ftype(10) ** ftype(d_val)
    vals = (ints.astype(ftype) / pow10 + ftype(minval)).astype(ftype)
    order = ">" if info["dtype"].byteorder == ">" else "<"
    return vals.astype(np.dtype(f"{order}f{size}")).tobytes()


def _defilter(raw: bytes, filters, typesize: int, mask: int = 0,
              dtype_info: dict | None = None,
              n_elems: int | None = None) -> bytes:
    """Undo a filter pipeline in reverse — the one defilter of the driver
    reader, the fractal heap and the executor tasks of
    `read_hdf5_long_distributed` (module-level, so it pickles into task
    closures). ``mask`` is the chunk's filter mask: bit i set = pipeline
    filter i was SKIPPED for this chunk (spec IV.A.2.l) — e.g. an
    optional deflate that didn't shrink an incompressible chunk — so only
    unmasked filters are undone. ``dtype_info``/``n_elems`` feed the
    nbit/scaleoffset decoders (datatype-message precision/offset and
    chunk element count)."""
    from .zarr2 import _unshuffle
    for i in reversed(range(len(filters))):
        if mask & (1 << i):
            continue
        fid, vals = filters[i]
        if fid == FILTER_FLETCHER32:
            raw = raw[:-4]
        elif fid == FILTER_DEFLATE:
            raw = zlib.decompress(raw)
        elif fid == FILTER_SHUFFLE:
            raw = _unshuffle(raw, typesize)
        elif fid == FILTER_SZIP:
            from .szip import h5_szip_decode
            raw = h5_szip_decode(raw, vals)
        elif fid == FILTER_NBIT:
            raw = _nbit_decode(raw, dtype_info or {}, n_elems)
        elif fid == FILTER_SCALEOFFSET:
            raw = _scaleoffset_decode(raw, vals, dtype_info or {},
                                      n_elems)
        else:
            raise H5Unsupported(
                f"HDF5 filter {fid} not supported; re-write with "
                "deflate/shuffle")
    return raw


def _decode_chunk(raw: bytes, dtype: np.dtype, shape, filters=(),
                  mask: int = 0, dtype_info: dict | None = None
                  ) -> np.ndarray:
    """One stored chunk's bytes → a native-byte-order array of ``shape``:
    defilter, ``frombuffer``, byte order, reshape — the chunk decode of
    both `H5File._read_chunked` and the chunk-per-task reader."""
    n_elems = int(np.prod(shape))
    if filters:
        raw = _defilter(raw, filters, dtype.itemsize, mask, dtype_info,
                        n_elems)
    return (np.frombuffer(raw, dtype=dtype, count=n_elems)
            .astype(dtype.newbyteorder("=")).reshape(shape))


class H5Unsupported(NotImplementedError):
    """An HDF5 feature outside the libnetcdf 'earliest' profile."""


def _pad8(n: int) -> int:
    return (n + 7) & ~7


# =========================== reader =========================================

class H5Dataset:
    """One dataset: shape/dtype/attrs + enough layout info to read."""

    def __init__(self, name: str, addr: int):
        self.name = name
        self.addr = addr                      # object header address
        self.shape: tuple[int, ...] = ()
        self.dtype: np.dtype | None = None
        self.dtype_info: dict = {}
        self.attrs: dict = {}
        self.layout: dict = {}                # class/addr/size/chunks
        self.filters: list[tuple[int, tuple]] = []


class H5File:
    def __init__(self, buf: bytes):
        self.buf = buf
        if buf[:8] != MAGIC:
            raise ValueError("not an HDF5 file (bad signature)")
        self._parse_superblock()
        self.datasets: dict[str, H5Dataset] = {}
        self.addr_to_name: dict[int, str] = {}
        if self.sb_version >= 2:
            self._walk_group_links(self.root_oh_addr, prefix="")
        else:
            self._walk_group(self.root_btree, self.root_heap, prefix="")

    # --- superblock ---------------------------------------------------------

    def _parse_superblock(self):
        b = self.buf
        version = b[8]
        self.sb_version = version
        if version in (2, 3):
            # v2/v3 superblock (spec II.A.2): version(1), size-of-
            # offsets(1), size-of-lengths(1), flags(1), base addr(8),
            # superblock-extension addr(8), EOF addr(8), root group
            # object header addr(8), checksum(4). v3 only redefines the
            # flags byte (SWMR bits); the layout is identical.
            self.off_size, self.len_size = b[9], b[10]
            if self.off_size != 8 or self.len_size != 8:
                raise H5Unsupported(
                    f"size-of-offsets {self.off_size} / size-of-lengths "
                    f"{self.len_size}; only 8/8 supported")
            _base, _ext, _eof, self.root_oh_addr = struct.unpack_from(
                "<QQQQ", b, 12)
            return
        if version not in (0, 1):
            raise H5Unsupported(
                f"HDF5 superblock version {version}; only v0/v1 "
                "(libnetcdf 'earliest') and v2/v3 (1.10+ 'latest') are "
                "supported")
        self.off_size = b[13]
        self.len_size = b[14]
        if self.off_size != 8 or self.len_size != 8:
            raise H5Unsupported(
                f"size-of-offsets {self.off_size} / size-of-lengths "
                f"{self.len_size}; only 8/8 supported")
        # v1 inserts a 2-byte indexed-storage k + 2 reserved before the
        # file addresses; entry layout after the addresses is identical
        pos = (24 if version == 0 else 28) + 4 * 8
        # root group symbol table entry:
        # name-offset(8) oh-addr(8) cache-type(4) reserved(4) scratch(16)
        (self.root_name_off, self.root_oh_addr, cache_type) = \
            struct.unpack_from("<QQI", b, pos)
        scratch = pos + 24
        if cache_type == 1:
            self.root_btree, self.root_heap = struct.unpack_from(
                "<QQ", b, scratch)
        else:
            # no cached btree/heap: read from the root object header
            msgs = self._object_header(self.root_oh_addr)
            st = [m for t, m in msgs if t == MSG_SYMBOL_TABLE]
            if not st:
                raise H5Unsupported("root group without symbol table "
                                    "(link-message group; v2 profile)")
            self.root_btree, self.root_heap = struct.unpack_from(
                "<QQ", st[0], 0)

    # --- group traversal ----------------------------------------------------

    def _heap_name(self, heap_addr: int, offset: int) -> str:
        b = self.buf
        if b[heap_addr:heap_addr + 4] != b"HEAP":
            raise ValueError("bad local heap signature")
        (data_addr,) = struct.unpack_from("<Q", b, heap_addr + 24)
        end = b.find(b"\x00", data_addr + offset)   # mmap has no .index
        return bytes(b[data_addr + offset:end]).decode()

    def _walk_group(self, btree_addr: int, heap_addr: int, prefix: str):
        for snod in self._btree_group_leaves(btree_addr):
            b = self.buf
            if b[snod:snod + 4] != b"SNOD":
                raise ValueError("bad symbol table node signature")
            (nsym,) = struct.unpack_from("<H", b, snod + 6)
            pos = snod + 8
            for _ in range(nsym):
                name_off, oh_addr, cache_type = struct.unpack_from(
                    "<QQI", b, pos)
                name = prefix + self._heap_name(heap_addr, name_off)
                scratch = pos + 24
                pos += 40
                msgs = self._object_header(oh_addr)
                st = [m for t, m in msgs if t == MSG_SYMBOL_TABLE]
                if st or cache_type == 1:
                    if st:
                        cb, ch = struct.unpack_from("<QQ", st[0], 0)
                    else:
                        cb, ch = struct.unpack_from("<QQ", b, scratch)
                    self._walk_group(cb, ch, prefix=name + "/")
                else:
                    self._load_dataset(name, oh_addr, msgs)

    def _btree_group_leaves(self, addr: int):
        """Yield SNOD addresses under a v1 group B-tree."""
        b = self.buf
        if b[addr:addr + 4] != b"TREE":
            raise ValueError("bad v1 B-tree signature")
        node_type, level = b[addr + 4], b[addr + 5]
        (nused,) = struct.unpack_from("<H", b, addr + 6)
        if node_type != 0:
            raise ValueError("expected group B-tree (type 0)")
        pos = addr + 8 + 16                   # skip siblings
        children = []
        pos += 8                              # key 0
        for _ in range(nused):
            (child,) = struct.unpack_from("<Q", b, pos)
            children.append(child)
            pos += 16                         # child + next key
        for child in children:
            if level == 0:
                yield child
            else:
                yield from self._btree_group_leaves(child)

    # --- link-message (v2 'latest') group traversal --------------------------

    def _walk_group_links(self, oh_addr: int, prefix: str):
        """Traverse a 1.10+ 'latest'-format group: children are compact
        LINK messages in the v2 object header (spec IV.A.2.g), or —
        once a group outgrows the compact-message limit — DENSE link
        storage: link messages as fractal-heap objects, indexed by a
        name v2 B-tree whose records carry (name hash, heap ID)
        (spec III.A.2 record type 5 + III.F)."""
        msgs = self._object_header(oh_addr)
        link_bodies = [body for t, body in msgs if t == MSG_LINK]
        for t, body in msgs:
            if t == MSG_LINK_INFO:
                # version(1), flags(1), [max corder(8) if flags bit0],
                # fractal heap addr(8), name-index v2 B-tree addr(8)
                flags = body[1]
                pos = 2 + (8 if flags & 0x1 else 0)
                (fheap_addr, name_bt) = struct.unpack_from(
                    "<QQ", body, pos)
                if fheap_addr != UNDEF:
                    heap = self._fractal_heap(fheap_addr)
                    link_bodies.extend(
                        self._fheap_object(heap, rec[4:])
                        for rec in self._v2btree_leaf_records(name_bt))
        for name, child_addr in (self._parse_link(body)
                                 for body in link_bodies):
            if child_addr is None:
                continue                       # soft/external link
            child = prefix + name
            cmsgs = self._object_header(child_addr)
            if any(t == MSG_DATASPACE for t, _ in cmsgs):
                self._load_dataset(child, child_addr, cmsgs)
            else:
                self._walk_group_links(child_addr, prefix=child + "/")

    # --- fractal heap + generic v2 B-tree (dense link storage) ---------------

    def _fractal_heap(self, addr: int) -> dict:
        """Parse a fractal heap header (spec III.F) far enough to
        resolve MANAGED heap IDs. Supported shapes: single-direct-block
        roots, multi-level indirect roots, and I/O-FILTERED heaps —
        when the header carries filter information (spec: a Filter
        Pipeline message body), every direct block is stored through
        that pipeline; the header holds the filtered root direct
        block's stored size + filter mask, and indirect blocks carry a
        (stored size, filter mask) pair per child direct block."""
        b = self.buf
        if b[addr:addr + 4] != b"FRHP":
            raise ValueError("bad fractal heap signature")
        (heap_id_len,) = struct.unpack_from("<H", b, addr + 5)
        (filter_len,) = struct.unpack_from("<H", b, addr + 7)
        flags = b[addr + 9]
        # fixed-width middle section: max managed size(4), next huge
        # id(8), huge btree(8), free space(8), fs manager(8), managed
        # space(8), alloc managed(8), iterator offset(8), n managed(8),
        # huge size(8), n huge(8), tiny size(8), n tiny(8)
        pos = addr + 10 + 4 + 12 * 8
        (table_width,) = struct.unpack_from("<H", b, pos)
        (start_block, max_direct) = struct.unpack_from("<QQ", b, pos + 2)
        (max_heap_bits,) = struct.unpack_from("<H", b, pos + 18)
        (start_rows,) = struct.unpack_from("<H", b, pos + 20)
        (root_block,) = struct.unpack_from("<Q", b, pos + 22)
        (cur_rows,) = struct.unpack_from("<H", b, pos + 30)
        filters = None
        root_stored = root_mask = None
        if filter_len:
            # filtered heap: size of filtered root direct block (8,
            # lengths), I/O filter mask (4), then the pipeline message
            fpos = pos + 32
            (root_stored,) = struct.unpack_from("<Q", b, fpos)
            (root_mask,) = struct.unpack_from("<I", b, fpos + 8)
            filters = self._parse_filters(
                bytes(b[fpos + 12:fpos + 12 + filter_len]))
        off_size = -(-max_heap_bits // 8)
        if cur_rows == 0:
            # root IS a single direct block covering [0, start_block)
            return {"heap_id_len": heap_id_len, "off_size": off_size,
                    "flags": flags, "filters": filters,
                    "blocks": [(0, start_block, root_block,
                                root_stored, root_mask)]}
        # root is an INDIRECT block: the doubling table says rows 0
        # and 1 hold table_width direct blocks of start_block bytes,
        # row i>=2 holds table_width blocks of start_block·2^(i-1);
        # rows past the max-direct size hold child INDIRECT blocks —
        # each covering its row's span, with its own row count
        # rows(span) = log2(span) − log2(start) − log2(width) + 1
        # (libhdf5's H5HF dtable size→rows relation). Recursing makes
        # arbitrarily deep (multi-level) heaps readable — groups with
        # very many dense links land here.
        max_direct_rows = (max_direct.bit_length()
                           - start_block.bit_length()) + 2
        blocks: list[tuple] = []

        def walk_indirect(iaddr: int, nrows: int, base_off: int) -> None:
            if b[iaddr:iaddr + 4] != b"FHIB":
                raise ValueError(
                    "bad fractal heap indirect block signature")
            pos = iaddr + 4 + 1 + 8 + off_size
            heap_off = base_off
            for row in range(nrows):
                size = start_block * (1 << max(row - 1, 0))
                for _ in range(table_width):
                    (daddr,) = struct.unpack_from("<Q", b, pos)
                    pos += 8
                    stored = mask = None
                    if filters is not None and row < max_direct_rows:
                        # filtered child DIRECT entries carry stored
                        # size (lengths) + filter mask; child indirect
                        # entries are address-only
                        (stored,) = struct.unpack_from("<Q", b, pos)
                        (mask,) = struct.unpack_from("<I", b, pos + 8)
                        pos += 12
                    if daddr != UNDEF:
                        if row < max_direct_rows:
                            blocks.append((heap_off, size, daddr,
                                           stored, mask))
                        else:
                            child_rows = (size.bit_length()
                                          - start_block.bit_length()
                                          - table_width.bit_length()
                                          + 2)
                            walk_indirect(daddr, child_rows, heap_off)
                    heap_off += size

        walk_indirect(root_block, cur_rows, 0)
        return {"heap_id_len": heap_id_len, "off_size": off_size,
                "flags": flags, "filters": filters, "blocks": blocks}

    def _fheap_object(self, heap: dict, heap_id: bytes) -> bytes:
        """Resolve a managed heap ID → object bytes. ID layout:
        version/type byte, heap offset (off_size bytes), object length
        (the remaining ID bytes)."""
        vt = heap_id[0]
        if (vt >> 4) & 0x3 != 0:
            raise H5Unsupported(
                f"non-managed fractal heap object (type {(vt >> 4) & 0x3})")
        off_size = heap["off_size"]
        off = int.from_bytes(heap_id[1:1 + off_size], "little")
        length = int.from_bytes(heap_id[1 + off_size:], "little")
        b = self.buf
        # heap offsets address the managed space INCLUDING block
        # headers; each direct block covers [block_off, block_off +
        # size), so the object sits at daddr + (off − block_off)
        for block_off, size, daddr, stored, mask in heap["blocks"]:
            if block_off <= off < block_off + size:
                if heap.get("filters") is not None:
                    # filtered heap: the WHOLE direct block (header
                    # included) went through the pipeline — undo the
                    # unmasked filters, then index the plain block
                    blk = _defilter(
                        bytes(b[daddr:daddr + stored]),
                        heap["filters"], 1, mask or 0)
                    if blk[:4] != b"FHDB":
                        raise ValueError(
                            "bad fractal heap direct block signature "
                            "(after defilter)")
                    return blk[off - block_off:off - block_off + length]
                if b[daddr:daddr + 4] != b"FHDB":
                    raise ValueError(
                        "bad fractal heap direct block signature")
                return b[daddr + off - block_off:
                         daddr + off - block_off + length]
        raise ValueError(
            f"fractal heap offset {off} outside every allocated "
            "direct block")

    @staticmethod
    def _v2btree_node_info(node_size: int, rec_size: int, depth: int):
        """Per-depth (max records, cumulative-total enc size) table
        plus the tree-wide #records field width, the header math
        libhdf5 derives child-pointer widths from: every child pointer
        is address(8) + #records (enc of the LEAF capacity — one width
        for the whole tree, H5B2's max_nrec_size) + total #records
        below (enc of the child depth's cumulative max; present only
        for internal children). enc(x) = floor(log2 x)/8 + 1 bytes."""
        def enc(x: int) -> int:
            return (max(x, 1).bit_length() - 1) // 8 + 1

        leaf_max = (node_size - 10) // rec_size
        nrec_len = enc(leaf_max)
        info = [(leaf_max, enc(leaf_max))]      # index = depth
        cum = leaf_max
        for d in range(1, depth + 1):
            _, ccum = info[d - 1]
            ptr = 8 + nrec_len + (ccum if d - 1 > 0 else 0)
            imax = (node_size - (10 + ptr)) // (rec_size + ptr)
            cum = imax + (imax + 1) * cum
            info.append((imax, enc(cum)))
        return info, nrec_len

    def _v2btree_leaf_records(self, addr: int):
        """Yield a v2 B-tree's raw records in key order, any depth —
        the generic walk shared by the chunk indexes and the
        dense-link/attribute name indexes. Internal nodes store ALL
        records first, then the child pointers (spec III.A.2 /
        H5B2cache deserialization order — NOT interleaved)."""
        b = self.buf
        if b[addr:addr + 4] != b"BTHD":
            raise ValueError("bad v2 B-tree header signature")
        (node_size,) = struct.unpack_from("<I", b, addr + 6)
        (rec_size,) = struct.unpack_from("<H", b, addr + 10)
        (depth,) = struct.unpack_from("<H", b, addr + 12)
        (root, root_nrec) = struct.unpack_from("<QH", b, addr + 16)
        if root == UNDEF:
            return
        info, nrec_len = self._v2btree_node_info(node_size, rec_size,
                                                 depth)

        def walk(naddr: int, nrec: int, d: int):
            if d == 0:
                if b[naddr:naddr + 4] != b"BTLF":
                    raise ValueError("bad v2 B-tree leaf signature")
                pos = naddr + 6
                for i in range(nrec):
                    yield b[pos + i * rec_size:pos + (i + 1) * rec_size]
                return
            if b[naddr:naddr + 4] != b"BTIN":
                raise ValueError("bad v2 B-tree internal node signature")
            _, ccum = info[d - 1]
            ptr = 8 + nrec_len + (ccum if d - 1 > 0 else 0)
            rec_pos = naddr + 6
            ptr_pos = rec_pos + nrec * rec_size
            children = []
            for i in range(nrec + 1):
                p = ptr_pos + i * ptr
                (caddr,) = struct.unpack_from("<Q", b, p)
                cnrec = int.from_bytes(b[p + 8:p + 8 + nrec_len],
                                       "little")
                children.append((caddr, cnrec))
            for i in range(nrec):
                yield from walk(*children[i], d - 1)
                yield b[rec_pos + i * rec_size:
                        rec_pos + (i + 1) * rec_size]
            yield from walk(*children[nrec], d - 1)

        yield from walk(root, root_nrec, depth)

    @staticmethod
    def _parse_link(body: bytes) -> tuple[str, int | None]:
        """LINK message (spec IV.A.2.g): → (name, object header addr)
        for hard links, (name, None) otherwise."""
        version, flags = body[0], body[1]
        if version != 1:
            raise H5Unsupported(f"link message version {version}")
        pos = 2
        ltype = 0
        if flags & 0x08:
            ltype = body[pos]; pos += 1
        if flags & 0x04:                       # creation order
            pos += 8
        if flags & 0x10:                       # charset
            pos += 1
        nlen_size = 1 << (flags & 0x03)
        nlen = int.from_bytes(body[pos:pos + nlen_size], "little")
        pos += nlen_size
        name = body[pos:pos + nlen].decode()
        pos += nlen
        if ltype == 0:                         # hard link
            (addr,) = struct.unpack_from("<Q", body, pos)
            return name, addr
        return name, None

    # --- object headers -----------------------------------------------------

    def _object_header(self, addr: int) -> list[tuple[int, bytes]]:
        b = self.buf
        version = b[addr]
        if version != 1:
            if b[addr:addr + 4] == b"OHDR":
                return self._object_header_v2(addr)
            raise ValueError(f"bad object header version {version}")
        (nmsgs,) = struct.unpack_from("<H", b, addr + 2)
        (hdr_size,) = struct.unpack_from("<I", b, addr + 8)
        msgs: list[tuple[int, bytes]] = []
        blocks = [(addr + 16, hdr_size)]
        while blocks and len(msgs) < nmsgs:
            start, size = blocks.pop(0)
            pos, end = start, start + size
            while pos + 8 <= end and len(msgs) < nmsgs:
                mtype, msize = struct.unpack_from("<HH", b, pos)
                body = b[pos + 8:pos + 8 + msize]
                pos += 8 + msize
                if mtype == MSG_CONTINUATION:
                    c_off, c_len = struct.unpack_from("<QQ", body, 0)
                    blocks.append((c_off, c_len))
                elif mtype != MSG_NIL:
                    msgs.append((mtype, body))
        return msgs

    def _object_header_v2(self, addr: int) -> list[tuple[int, bytes]]:
        """v2 ('OHDR') object header (spec IV.A.1.b): variable-width
        chunk-0 size, optional times/phase-change fields, 1-byte
        message type + 2-byte size + 1-byte flags (+2 creation order
        when tracked), Jenkins checksum per chunk (not verified),
        'OCHK'-signed continuation blocks."""
        b = self.buf
        if b[addr:addr + 4] != b"OHDR":
            raise ValueError("bad v2 object header signature")
        version, flags = b[addr + 4], b[addr + 5]
        if version != 2:
            raise H5Unsupported(f"object header v2 sub-version {version}")
        pos = addr + 6
        if flags & 0x20:                       # times stored
            pos += 16
        if flags & 0x10:                       # phase-change values
            pos += 4
        c0_width = 1 << (flags & 0x03)
        chunk0 = int.from_bytes(b[pos:pos + c0_width], "little")
        pos += c0_width
        corder = 2 if flags & 0x04 else 0      # per-message creation order
        msgs: list[tuple[int, bytes]] = []
        blocks = [(pos, chunk0)]               # size excludes checksum
        while blocks:
            start, size = blocks.pop(0)
            p, end = start, start + size
            # stop when fewer bytes than a message header remain (gap)
            while p + 4 + corder <= end:
                mtype = b[p]
                (msize,) = struct.unpack_from("<H", b, p + 1)
                p += 4 + corder
                body = b[p:p + msize]
                p += msize
                if mtype == MSG_CONTINUATION:
                    c_off, c_len = struct.unpack_from("<QQ", body, 0)
                    if b[c_off:c_off + 4] != b"OCHK":
                        raise ValueError("bad OCHK continuation signature")
                    # length spans signature + messages + checksum
                    blocks.append((c_off + 4, c_len - 8))
                elif mtype == MSG_ATTR_INFO:
                    # dense attribute storage (spec IV.A.2.w): past the
                    # compact-message limit (or under track_order),
                    # ATTRIBUTE messages live as fractal-heap objects
                    # indexed by a name v2 B-tree whose type-8 records
                    # lead with the 8-byte heap ID
                    pos_ai = 2 + (2 if body[1] & 0x1 else 0)
                    fheap, name_bt = struct.unpack_from(
                        "<QQ", body, pos_ai)
                    if fheap != UNDEF:
                        heap = self._fractal_heap(fheap)
                        msgs.extend(
                            (MSG_ATTRIBUTE,
                             self._fheap_object(heap, rec[:8]))
                            for rec in
                            self._v2btree_leaf_records(name_bt))
                elif mtype != MSG_NIL:
                    msgs.append((mtype, body))
        return msgs

    # --- message parsing ----------------------------------------------------

    @staticmethod
    def _parse_dataspace(body: bytes) -> tuple[int, ...]:
        version = body[0]
        rank = body[1]
        if version == 1:
            pos = 8
        elif version == 2:
            pos = 4
        else:
            raise H5Unsupported(f"dataspace version {version}")
        return tuple(struct.unpack_from(f"<{rank}Q", body, pos)) \
            if rank else ()

    @staticmethod
    def _parse_datatype(body: bytes, pos: int = 0) -> tuple[dict, int]:
        """→ (info, bytes consumed). info: {kind, size, dtype?, base?}"""
        cls_ver = body[pos]
        cls, version = cls_ver & 0x0F, cls_ver >> 4
        bits = body[pos + 1:pos + 4]
        (size,) = struct.unpack_from("<I", body, pos + 4)
        if cls == 0:                          # fixed point
            signed = bool(bits[0] & 0x08)
            be = bool(bits[0] & 0x01)
            code = f"{'>' if be else '<'}{'i' if signed else 'u'}{size}"
            # bit offset + precision (properties): full-width for
            # ordinary types; the nbit filter stores ONLY these bits,
            # so the datatype message is the decode contract
            boff, bprec = struct.unpack_from("<HH", body, pos + 8)
            return ({"kind": "int", "size": size,
                     "dtype": np.dtype(code), "bit_offset": boff,
                     "precision": bprec or size * 8}, 8 + 4)
        if cls == 1:                          # IEEE float
            be = bool(bits[0] & 0x01)
            return ({"kind": "float", "size": size,
                     "dtype": np.dtype(f"{'>' if be else '<'}f{size}")},
                    8 + 12)
        if cls == 3:                          # fixed-length string
            return ({"kind": "string", "size": size}, 8)
        if cls == 7:                          # reference
            return ({"kind": "reference", "size": size}, 8)
        if cls == 6:                          # compound (spec IV.A.2.d)
            nmembers = bits[0] | (bits[1] << 8)
            fields, p = [], pos + 8
            for _ in range(nmembers):
                if version == 3:
                    # v3: bare NUL-terminated name, then a byte offset
                    # sized by libhdf5's H5VM_limit_enc_size — the bytes
                    # needed to encode the compound SIZE itself, not
                    # size-1 (they differ exactly at size == 256**k: a
                    # 256-byte compound carries 2-byte member offsets)
                    end = body.index(0, p)
                    name = body[p:end].decode()
                    p = end + 1
                    osz = (size.bit_length() - 1) // 8 + 1
                    off = int.from_bytes(body[p:p + osz], "little")
                    p += osz
                elif version in (1, 2):
                    # v1/v2: name NUL-terminated, padded to 8; 4-byte
                    # offset; v1 additionally carries dimensionality/
                    # permutation/reserved/dims (unsupported unless 0)
                    end = body.index(0, p)
                    name = body[p:end].decode()
                    p += ((end - p) // 8 + 1) * 8
                    (off,) = struct.unpack_from("<I", body, p)
                    p += 4
                    mdims = ()
                    if version == 1:
                        # v1 members carry inline dimensionality: the
                        # 4 dim slots are always present; ndims of
                        # them are real — an array-valued member
                        ndims = body[p]
                        if ndims > 4:
                            raise ValueError(
                                "HDF5 v1 compound member with more "
                                "than 4 dimensions")
                        dims4 = struct.unpack_from("<4I", body,
                                                   p + 12)
                        mdims = tuple(int(d) for d in dims4[:ndims])
                        p += 1 + 3 + 4 + 4 + 16
                else:
                    raise H5Unsupported(
                        f"compound datatype version {version}")
                member, used = H5File._parse_datatype(body, p)
                if member.get("dtype") is None:
                    raise H5Unsupported(
                        f"compound member {name!r} of kind "
                        f"{member['kind']!r} not supported")
                p += used
                mdt = member["dtype"]
                if version == 1 and mdims:
                    mdt = np.dtype((mdt, mdims))
                fields.append((name, off, mdt))
            dt = np.dtype({"names": [f[0] for f in fields],
                           "formats": [f[2] for f in fields],
                           "offsets": [f[1] for f in fields],
                           "itemsize": size})
            return ({"kind": "compound", "size": size, "dtype": dt},
                    p - pos)
        if cls == 10:                         # array (spec IV.A.2.h)
            p = pos + 8
            ndims = body[p]
            p += 1
            if version == 2:
                p += 3                        # reserved
            elif version != 3:
                raise H5Unsupported(
                    f"array datatype version {version}")
            adims = struct.unpack_from(f"<{ndims}I", body, p)
            p += 4 * ndims
            if version == 2:
                p += 4 * ndims                # permutation (identity)
            base, used = H5File._parse_datatype(body, p)
            if base.get("dtype") is None:
                raise H5Unsupported(
                    f"array datatype over {base['kind']!r} base not "
                    "supported")
            p += used
            return ({"kind": "array", "size": size,
                     "dtype": np.dtype((base["dtype"],
                                        tuple(int(d) for d in adims)))},
                    p - pos)
        if cls == 9:                          # variable length
            vtype = bits[0] & 0x0F
            base, used = H5File._parse_datatype(body, pos + 8)
            return ({"kind": "vlen_string" if vtype == 1 else "vlen",
                     "size": size, "base": base}, 8 + used)
        names = {2: "time", 4: "bitfield", 5: "opaque", 8: "enum"}
        raise H5Unsupported(
            f"HDF5 datatype class {cls} ({names.get(cls, '?')}) not "
            "supported (outside the netCDF-4 classic-model profile)")

    def _parse_attribute(self, body: bytes) -> tuple[str, object]:
        version = body[0]
        if version == 1:
            name_size, dt_size, ds_size = struct.unpack_from("<HHH", body, 2)
            pos = 8
            name = body[pos:pos + name_size].split(b"\x00")[0].decode()
            pos += _pad8(name_size)
            dt, _ = self._parse_datatype(body, pos)
            dt_block = body[pos:pos + dt_size]
            pos += _pad8(dt_size)
            shape = self._parse_dataspace(body[pos:pos + ds_size])
            pos += _pad8(ds_size)
        elif version == 3:
            name_size, dt_size, ds_size = struct.unpack_from("<HHH", body, 2)
            pos = 9
            name = body[pos:pos + name_size].split(b"\x00")[0].decode()
            pos += name_size
            dt, _ = self._parse_datatype(body, pos)
            dt_block = body[pos:pos + dt_size]
            pos += dt_size
            shape = self._parse_dataspace(body[pos:pos + ds_size])
            pos += ds_size
        else:
            raise H5Unsupported(f"attribute message version {version}")
        del dt_block
        value = self._read_typed(body[pos:], dt, shape)
        return name, value

    def _read_typed(self, raw: bytes, dt: dict, shape: tuple[int, ...]):
        n = int(np.prod(shape)) if shape else 1
        if dt["kind"] in ("int", "float"):
            arr = np.frombuffer(raw, dtype=dt["dtype"], count=n)
            arr = arr.astype(arr.dtype.newbyteorder("="))
            if not shape:
                return arr[0].item()
            return arr.reshape(shape)
        if dt["kind"] == "string":
            vals = [raw[i * dt["size"]:(i + 1) * dt["size"]]
                    .split(b"\x00")[0].decode("utf-8", "replace")
                    for i in range(n)]
            return vals[0] if not shape else vals
        if dt["kind"] == "vlen_string":
            vals = [self._vlen_bytes(raw, i * 16)
                    .decode("utf-8", "replace") for i in range(n)]
            return vals[0] if not shape else vals
        if dt["kind"] == "vlen":
            base = dt["base"]
            out = []
            for i in range(n):
                (cnt,) = struct.unpack_from("<I", raw, i * 16)
                data = self._vlen_bytes(raw, i * 16, count_hint=cnt)
                if base["kind"] == "reference":
                    out.append(list(struct.unpack_from(f"<{cnt}Q", data, 0)))
                else:
                    out.append(self._read_typed(data, base, (cnt,)))
            return out[0] if not shape else out
        if dt["kind"] == "reference":
            refs = list(struct.unpack_from(f"<{n}Q", raw, 0))
            return refs[0] if not shape else refs
        raise H5Unsupported(f"attribute datatype {dt['kind']}")

    def _vlen_bytes(self, raw: bytes, pos: int, count_hint: int | None = None
                    ) -> bytes:
        """Dereference one 16-byte vlen descriptor via the global heap."""
        length, gcol_addr, index = struct.unpack_from("<IQI", raw, pos)
        b = self.buf
        if b[gcol_addr:gcol_addr + 4] != b"GCOL":
            raise ValueError("bad global heap signature")
        pos2 = gcol_addr + 8 + self.len_size
        (gcol_size,) = struct.unpack_from("<Q", b, gcol_addr + 8)
        end = gcol_addr + gcol_size
        while pos2 + 16 <= end:
            idx, _refc = struct.unpack_from("<HH", b, pos2)
            (osize,) = struct.unpack_from("<Q", b, pos2 + 8)
            if idx == index:
                return b[pos2 + 16:pos2 + 16 + osize]
            if idx == 0:
                break
            pos2 += 16 + _pad8(osize)
        raise ValueError(f"global heap object {index} not found")

    # --- datasets -----------------------------------------------------------

    def _load_dataset(self, name: str, addr: int,
                      msgs: list[tuple[int, bytes]]):
        ds = H5Dataset(name, addr)
        for mtype, body in msgs:
            if mtype == MSG_DATASPACE:
                ds.shape = self._parse_dataspace(body)
            elif mtype == MSG_DATATYPE:
                ds.dtype_info, _ = self._parse_datatype(body)
                ds.dtype = ds.dtype_info.get("dtype")
            elif mtype == MSG_LAYOUT:
                ds.layout = self._parse_layout(body)
            elif mtype == MSG_FILTERS:
                ds.filters = self._parse_filters(body)
            elif mtype == MSG_ATTRIBUTE:
                k, v = self._parse_attribute(body)
                ds.attrs[k] = v
        self.datasets[name] = ds
        self.addr_to_name[addr] = name

    @staticmethod
    def _parse_layout(body: bytes) -> dict:
        version = body[0]
        if version == 3:
            cls = body[1]
            if cls == 0:                      # compact
                (size,) = struct.unpack_from("<H", body, 2)
                return {"class": "compact", "data": body[4:4 + size]}
            if cls == 1:                      # contiguous
                addr, size = struct.unpack_from("<QQ", body, 2)
                return {"class": "contiguous", "addr": addr, "size": size}
            if cls == 2:                      # chunked
                rank = body[2]                # = dataset rank + 1
                (btree,) = struct.unpack_from("<Q", body, 3)
                dims = struct.unpack_from(f"<{rank}I", body, 11)
                return {"class": "chunked", "btree": btree,
                        "chunks": tuple(dims[:-1]),
                        "elem_size": dims[-1]}
            raise H5Unsupported(f"layout class {cls}")
        if version == 4:
            # 1.10+ 'latest' layout (spec IV.A.2.i). Chunked dims
            # include the trailing element-size dimension, as in v3.
            cls = body[1]
            if cls == 1:                       # contiguous: addr + size
                addr, size = struct.unpack_from("<QQ", body, 2)
                return {"class": "contiguous", "addr": addr, "size": size}
            if cls == 2:                       # chunked
                cflags = body[2]
                rank = body[3]
                enc = body[4]
                pos = 5
                dims = tuple(
                    int.from_bytes(body[pos + i * enc:pos + (i + 1) * enc],
                                   "little") for i in range(rank))
                pos += rank * enc
                itype = body[pos]
                pos += 1
                out = {"class": "chunked", "chunks": dims[:-1],
                       "elem_size": dims[-1], "index": itype,
                       "flags": cflags}
                if itype == 1:                 # single chunk
                    if cflags & 0x02:          # filtered single chunk
                        (fsize,) = struct.unpack_from("<Q", body, pos)
                        (fmask,) = struct.unpack_from("<I", body, pos + 8)
                        pos += 12
                        out["filtered_size"] = fsize
                        out["filter_mask"] = fmask
                elif itype == 2:               # implicit
                    pass
                elif itype == 3:               # fixed array
                    out["page_bits"] = body[pos]
                    pos += 1
                elif itype == 4:
                    # extensible array (1 unlimited dim): 5 creation
                    # params, 1 byte each (spec IV.A.2.i; H5O layout
                    # encoding order: max-bits, index-elements,
                    # super-block-min-pointers, data-block-min-
                    # elements, max-data-block-page-bits)
                    out["ea_params"] = tuple(body[pos:pos + 5])
                    pos += 5
                elif itype == 5:
                    # v2 B-tree (>1 unlimited dim): node size(4),
                    # split %(1), merge %(1)
                    (out["node_size"],) = struct.unpack_from(
                        "<I", body, pos)
                    pos += 6
                else:
                    raise H5Unsupported(
                        f"chunk index type {itype} not supported")
                (out["addr"],) = struct.unpack_from("<Q", body, pos)
                return out
            raise H5Unsupported(f"layout v4 class {cls}")
        if version in (1, 2):
            rank, cls = body[1], body[2]
            pos = 8
            if cls == 1:
                (addr,) = struct.unpack_from("<Q", body, pos)
                dims = struct.unpack_from(f"<{rank}I", body, pos + 8)
                return {"class": "contiguous", "addr": addr,
                        "size": int(np.prod(dims))}
            if cls == 2:
                (btree,) = struct.unpack_from("<Q", body, pos)
                dims = struct.unpack_from(f"<{rank}I", body, pos + 8)
                return {"class": "chunked", "btree": btree,
                        "chunks": tuple(dims[:-1]), "elem_size": dims[-1]}
            raise H5Unsupported(f"layout v{version} class {cls}")
        raise H5Unsupported(f"layout message version {version}")

    @staticmethod
    def _parse_filters(body: bytes) -> list[tuple[int, tuple]]:
        version = body[0]
        nfilters = body[1]
        out = []
        if version == 1:
            pos = 8
            for _ in range(nfilters):
                fid, name_len, _flags, nvals = struct.unpack_from(
                    "<HHHH", body, pos)
                pos += 8 + _pad8(name_len)
                vals = struct.unpack_from(f"<{nvals}i", body, pos)
                pos += 4 * nvals
                if nvals % 2:
                    pos += 4
                out.append((fid, vals))
        elif version == 2:
            pos = 2
            for _ in range(nfilters):
                (fid,) = struct.unpack_from("<H", body, pos)
                pos += 2
                name_len = 0
                if fid >= 256:
                    (name_len,) = struct.unpack_from("<H", body, pos)
                    pos += 2
                _flags, nvals = struct.unpack_from("<HH", body, pos)
                pos += 4 + name_len
                vals = struct.unpack_from(f"<{nvals}i", body, pos)
                pos += 4 * nvals
                out.append((fid, vals))
        else:
            raise H5Unsupported(f"filter pipeline version {version}")
        return out

    def read(self, name: str) -> np.ndarray:
        """Materialize one dataset (contiguous, compact or chunked)."""
        ds = self.datasets[name]
        if ds.dtype is None:
            if ds.dtype_info.get("kind") == "string":
                return self._read_strings(ds)
            raise H5Unsupported(
                f"dataset {name!r} has non-numeric datatype "
                f"{ds.dtype_info.get('kind')}")
        dtype = ds.dtype
        lay = ds.layout
        if lay.get("class") == "compact":
            arr = np.frombuffer(lay["data"], dtype=dtype,
                                count=int(np.prod(ds.shape)) or 1)
            return arr.astype(dtype.newbyteorder("=")).reshape(ds.shape)
        if lay.get("class") == "contiguous":
            n = int(np.prod(ds.shape)) if ds.shape else 1
            if lay["addr"] == UNDEF:          # never allocated
                return np.zeros(ds.shape, dtype=dtype.newbyteorder("="))
            arr = np.frombuffer(self.buf, dtype=dtype, count=n,
                                offset=lay["addr"])
            return arr.astype(dtype.newbyteorder("=")).reshape(ds.shape)
        if lay.get("class") == "chunked":
            return self._read_chunked(ds)
        raise H5Unsupported(f"layout {lay.get('class')!r}")

    def _read_strings(self, ds: H5Dataset) -> np.ndarray:
        lay = ds.layout
        if lay.get("class") != "contiguous":
            raise H5Unsupported("non-contiguous string dataset")
        n = int(np.prod(ds.shape)) if ds.shape else 1
        sz = ds.dtype_info["size"]
        raw = self.buf[lay["addr"]:lay["addr"] + n * sz]
        vals = [raw[i * sz:(i + 1) * sz].split(b"\x00")[0].decode()
                for i in range(n)]
        return np.array(vals).reshape(ds.shape)

    def _chunk_btree(self, addr: int, rank: int):
        """Yield (offsets, size, filter_mask, data_addr) for each chunk."""
        b = self.buf
        if b[addr:addr + 4] != b"TREE":
            raise ValueError("bad chunk B-tree signature")
        node_type, level = b[addr + 4], b[addr + 5]
        (nused,) = struct.unpack_from("<H", b, addr + 6)
        if node_type != 1:
            raise ValueError("expected chunk B-tree (type 1)")
        key_size = 8 + 8 * (rank + 1)
        pos = addr + 24
        for _ in range(nused):
            size, mask = struct.unpack_from("<II", b, pos)
            offs = struct.unpack_from(f"<{rank}Q", b, pos + 8)
            (child,) = struct.unpack_from("<Q", b, pos + key_size)
            if level == 0:
                yield offs, size, mask, child
            else:
                yield from self._chunk_btree(child, rank)
            pos += key_size + 8

    def _chunk_grid(self, ds: H5Dataset):
        """Row-major chunk offsets over the dataset's chunk grid."""
        chunks = ds.layout["chunks"]
        counts = [max(1, -(-s // c)) for s, c in zip(ds.shape, chunks)]
        for idx in iproduct(*[range(n) for n in counts]):
            yield tuple(i * c for i, c in zip(idx, chunks))

    def _chunks(self, ds: H5Dataset):
        """Yield (offsets, stored size, filter mask, file addr) for every
        stored chunk, across all supported chunk indexes: the v1 B-tree
        (libnetcdf 'earliest'), and the 1.10+ Single Chunk / Implicit /
        Fixed Array indexes that layout v4 references."""
        lay = ds.layout
        rank = len(ds.shape)
        if "btree" in lay:                     # layout v1-v3: v1 B-tree
            for offs, size, mask, addr in self._chunk_btree(
                    lay["btree"], rank):
                yield offs, size, mask, addr
            return
        if lay["addr"] == UNDEF:               # never allocated
            return
        chunk_bytes = int(np.prod(lay["chunks"])) * lay["elem_size"]
        itype = lay["index"]
        if itype == 1:                         # single chunk
            size = lay.get("filtered_size", chunk_bytes)
            mask = lay.get("filter_mask", 0)
            yield (0,) * rank, size, mask, lay["addr"]
            return
        if itype == 2:                         # implicit: dense, unfiltered
            for i, offs in enumerate(self._chunk_grid(ds)):
                yield offs, chunk_bytes, 0, lay["addr"] + i * chunk_bytes
            return
        if itype == 3:                         # fixed array (spec III.K)
            yield from self._fixed_array_chunks(ds, chunk_bytes)
            return
        if itype == 4:                         # extensible array (III.G)
            yield from self._extensible_array_chunks(ds, chunk_bytes)
            return
        if itype == 5:                         # v2 B-tree (III.A.2)
            yield from self._v2btree_chunks(ds, chunk_bytes)
            return
        raise H5Unsupported(f"chunk index type {itype}")

    def _fixed_array_chunks(self, ds: H5Dataset, chunk_bytes: int):
        b = self.buf
        addr = ds.layout["addr"]
        if b[addr:addr + 4] != b"FAHD":
            raise ValueError("bad fixed-array header signature")
        client, entry_size, page_bits = b[addr + 5], b[addr + 6], b[addr + 7]
        (nelmts,) = struct.unpack_from("<Q", b, addr + 8)
        (dblock,) = struct.unpack_from("<Q", b, addr + 16)
        if dblock == UNDEF:
            return
        if b[dblock:dblock + 4] != b"FADB":
            raise ValueError("bad fixed-array data block signature")
        pos = dblock + 4 + 2 + 8               # sig, version+client, hdr addr
        page_elmts = 1 << page_bits
        if nelmts > page_elmts:
            # paged data block (spec III.K): page bitmap + header
            # checksum, then pages of page_elmts entries (last page
            # partial), each with a trailing 4-byte checksum.
            # Uninitialized pages read as unset.
            npages = -(-nelmts // page_elmts)
            bitmap = b[pos:pos + -(-npages // 8)]
            pos += -(-npages // 8) + 4

            def entries():
                p = pos
                for pg in range(npages):
                    k = min(page_elmts, nelmts - pg * page_elmts)
                    live = bool(bitmap[pg // 8] & (1 << (pg % 8)))
                    for i in range(k):
                        yield (b[p + i * entry_size:
                                 p + (i + 1) * entry_size]
                               if live else None)
                    p += k * entry_size + 4
            entry_iter = entries()
        else:
            entry_iter = (b[pos + i * entry_size:
                            pos + (i + 1) * entry_size]
                          for i in range(nelmts))
        filtered = client == 1
        for offs, raw in zip(self._chunk_grid(ds), entry_iter):
            if raw is None:
                continue
            (caddr,) = struct.unpack_from("<Q", raw, 0)
            if filtered:
                csize = int.from_bytes(raw[8:entry_size - 4], "little")
                (mask,) = struct.unpack_from("<I", raw, entry_size - 4)
            else:
                csize, mask = chunk_bytes, 0
            if caddr != UNDEF:
                yield offs, csize, mask, caddr

    # --- extensible-array chunk index (spec III.G) --------------------------
    #
    # Used by 1.10+ for chunked datasets with exactly ONE unlimited
    # dimension — the appendable-time-series shape (h5py maxshape=
    # (None, ...) under libver='latest'; reference capability:
    # ingest/netcdf_reader.py:56 reads these through libhdf5). The
    # array grows by super blocks: super block s holds 2^floor(s/2)
    # data blocks of data_blk_min_elmts·2^ceil(s/2) elements each
    # (so super block s covers min·2^s elements). The index block
    # stores the first idx_blk_elmts elements inline, then direct
    # pointers to the data blocks of every super block with fewer
    # than sup_blk_min_data_ptrs data blocks, then pointers to the
    # remaining super blocks themselves.

    @staticmethod
    def _ea_sblk_geometry(idx_elmts: int, min_elmts: int, min_ptrs: int,
                          max_bits: int):
        """(ndblks, nelmts_per_dblk) per super block + how many super
        blocks keep their data-block pointers inline in the index
        block. nsblks per the format: 1 + (max_bits − log2(min))."""
        nsblks = 1 + (max_bits - (min_elmts.bit_length() - 1))
        geo = [(1 << (s // 2), min_elmts << ((s + 1) // 2))
               for s in range(nsblks)]
        n_inline = sum(1 for nd, _ in geo if nd < min_ptrs)
        return geo, n_inline

    def _ea_parse_element(self, raw: bytes, elt_size: int, filtered: bool,
                          chunk_bytes: int):
        """→ (addr, stored size, filter mask) or None for an unset slot."""
        (addr,) = struct.unpack_from("<Q", raw, 0)
        if addr == UNDEF or (not filtered and addr == 0):
            return None
        if filtered:
            csize = int.from_bytes(raw[8:elt_size - 4], "little")
            (mask,) = struct.unpack_from("<I", raw, elt_size - 4)
            return addr, csize, mask
        return addr, chunk_bytes, 0

    def _extensible_array_chunks(self, ds: H5Dataset, chunk_bytes: int):
        b = self.buf
        addr = ds.layout["addr"]
        if b[addr:addr + 4] != b"EAHD":
            raise ValueError("bad extensible-array header signature")
        client = b[addr + 5]
        elt_size = b[addr + 6]
        max_bits = b[addr + 7]
        idx_elmts = b[addr + 8]
        min_elmts = b[addr + 9]
        min_ptrs = b[addr + 10]
        page_bits = b[addr + 11]
        # 6 Length stats fields precede the index block address
        (iblock,) = struct.unpack_from("<Q", b, addr + 12 + 6 * 8)
        if iblock == UNDEF:
            return
        if b[iblock:iblock + 4] != b"EAIB":
            raise ValueError("bad extensible-array index block signature")
        filtered = client == 1
        geo, n_inline = self._ea_sblk_geometry(idx_elmts, min_elmts,
                                               min_ptrs, max_bits)
        ndblk_inline = sum(nd for nd, _ in geo[:n_inline])
        off_size = -(-max_bits // 8)           # data/super block offset
        elems_pos = iblock + 4 + 1 + 1 + 8
        dblk_ptr_pos = elems_pos + idx_elmts * elt_size
        sblk_ptr_pos = dblk_ptr_pos + ndblk_inline * 8

        page_elmts = 1 << page_bits

        def dblock_elements(dblk_addr: int, nelmts: int,
                            page_bitmap=None, page_base: int = 0):
            """Element byte-blobs stored in one data block. Blocks past
            2^page_bits elements are PAGED: the header carries its own
            checksum, then pages of page_elmts elements follow, each
            with a trailing 4-byte checksum; the super block's bitmap
            says which pages were ever initialized (uninitialized
            pages are raw garbage, NOT undef-filled — they must read
            as unset)."""
            if dblk_addr == UNDEF:
                return [None] * nelmts
            if b[dblk_addr:dblk_addr + 4] != b"EADB":
                raise ValueError(
                    "bad extensible-array data block signature")
            pos = dblk_addr + 4 + 1 + 1 + 8 + off_size
            if nelmts <= page_elmts:
                return [b[pos + i * elt_size:pos + (i + 1) * elt_size]
                        for i in range(nelmts)]
            pos += 4                            # paged header checksum
            out = []
            npages = -(-nelmts // page_elmts)
            for p in range(npages):
                bit = page_base + p
                live = (page_bitmap is None
                        or bool(page_bitmap[bit // 8] & (1 << (bit % 8))))
                k = min(page_elmts, nelmts - p * page_elmts)
                if live:
                    out.extend(
                        b[pos + i * elt_size:pos + (i + 1) * elt_size]
                        for i in range(k))
                else:
                    out.extend([None] * k)
                pos += page_elmts * elt_size + 4
            return out

        # stream elements in index order: inline, then per super block
        grid = list(self._chunk_grid(ds))

        def all_elements():
            for i in range(idx_elmts):
                yield b[elems_pos + i * elt_size:
                        elems_pos + (i + 1) * elt_size]
            dptr = dblk_ptr_pos
            for s, (ndblks, nelmts) in enumerate(geo):
                if s < n_inline:
                    for _ in range(ndblks):
                        (daddr,) = struct.unpack_from("<Q", b, dptr)
                        dptr += 8
                        yield from dblock_elements(daddr, nelmts)
                else:
                    (saddr,) = struct.unpack_from(
                        "<Q", b, sblk_ptr_pos + (s - n_inline) * 8)
                    if saddr == UNDEF:
                        for _ in range(ndblks * nelmts):
                            yield None
                        continue
                    if b[saddr:saddr + 4] != b"EASB":
                        raise ValueError(
                            "bad extensible-array super block signature")
                    spos = saddr + 4 + 1 + 1 + 8 + off_size
                    bitmap = None
                    pages_per = 0
                    if nelmts > page_elmts:
                        # paged data blocks → the super block carries
                        # a page bitmap before the addresses
                        pages_per = -(-nelmts // page_elmts)
                        nbytes = -(-(ndblks * pages_per) // 8)
                        bitmap = b[spos:spos + nbytes]
                        spos += nbytes
                    for d in range(ndblks):
                        (daddr,) = struct.unpack_from("<Q", b, spos + d * 8)
                        yield from dblock_elements(
                            daddr, nelmts, page_bitmap=bitmap,
                            page_base=d * pages_per)

        for offs, raw in zip(grid, all_elements()):
            if raw is None:
                continue
            parsed = self._ea_parse_element(raw, elt_size, filtered,
                                            chunk_bytes)
            if parsed is not None:
                yield offs, parsed[1], parsed[2], parsed[0]

    # --- v2 B-tree chunk index (spec III.A.2) --------------------------------
    #
    # Used by 1.10+ for chunked datasets with MORE than one unlimited
    # dimension. Record type 10 = unfiltered chunks (address + scaled
    # offsets), type 11 = filtered (address + variable-width stored
    # size + filter mask + scaled offsets). Scaled offsets are chunk
    # GRID coordinates — multiplied back by the chunk dims here.

    def _v2btree_chunks(self, ds: H5Dataset, chunk_bytes: int):
        b = self.buf
        addr = ds.layout["addr"]
        if b[addr:addr + 4] != b"BTHD":
            raise ValueError("bad v2 B-tree header signature")
        rtype = b[addr + 5]
        (rec_size,) = struct.unpack_from("<H", b, addr + 10)
        if rtype not in (10, 11):
            raise H5Unsupported(
                f"v2 B-tree record type {rtype} as chunk index")
        rank = len(ds.shape)
        chunks = ds.layout["chunks"]
        filtered = rtype == 11
        size_len = rec_size - 8 - 4 - 8 * rank if filtered else 0
        for rec in self._v2btree_leaf_records(addr):
            (caddr,) = struct.unpack_from("<Q", rec, 0)
            p = 8
            if filtered:
                csize = int.from_bytes(rec[p:p + size_len], "little")
                (mask,) = struct.unpack_from("<I", rec, p + size_len)
                p += size_len + 4
            else:
                csize, mask = chunk_bytes, 0
            scaled = struct.unpack_from(f"<{rank}Q", rec, p)
            offs = tuple(s * c for s, c in zip(scaled, chunks))
            yield offs, csize, mask, caddr

    def _read_chunked(self, ds: H5Dataset) -> np.ndarray:
        dtype = ds.dtype
        chunks = ds.layout["chunks"]
        from .zarr2 import _fill_for
        out = np.full(ds.shape, _fill_for(ds.attrs.get("_FillValue"), dtype),
                      dtype=dtype.newbyteorder("="))
        for offs, size, mask, data_addr in self._chunks(ds):
            arr = _decode_chunk(self.buf[data_addr:data_addr + size],
                                dtype, chunks, ds.filters, mask,
                                ds.dtype_info)
            sel = tuple(slice(o, min(o + c, s))
                        for o, c, s in zip(offs, chunks, ds.shape))
            crop = tuple(slice(0, sl.stop - sl.start) for sl in sel)
            out[sel] = arr[crop]
        return out


def open_hdf5(path_or_buf) -> H5File:
    if isinstance(path_or_buf, (bytes, bytearray)):
        return H5File(bytes(path_or_buf))
    with open(path_or_buf, "rb") as fh:
        return H5File(fh.read())


# ====================== netCDF-4 model on top ================================

def _is_dim_scale(ds: H5Dataset) -> bool:
    return ds.attrs.get("CLASS") == "DIMENSION_SCALE"


def _netcdf_model(f: H5File, variables=None):
    """The netCDF-4 reading of an HDF5 header, shared by `hdf5_to_grid`
    and the chunk-per-task reader → (data variable names, dim_order,
    coordinates with CF time decoded, detected dims). Dimension scales
    are the coordinates; a file without any treats its 1-D datasets as
    coordinates instead."""
    from .netcdf import detect_dims
    from .netcdf3 import decode_cf_time

    dim_like = {n for n, d in f.datasets.items() if _is_dim_scale(d)}
    if not dim_like:           # plain HDF5: 1-D datasets act as coords
        # ... except compound-typed ones (a struct per row is an
        # observation record, never a coordinate axis)
        dim_like = {n for n, d in f.datasets.items()
                    if len(d.shape) == 1
                    and not (d.dtype is not None and d.dtype.names)}
    data_names = [n for n, d in f.datasets.items()
                  if n not in dim_like and d.shape]
    if variables:
        missing = [v for v in variables if v not in data_names]
        if missing:
            raise ValueError(f"variables not found: {missing}")
        data_names = list(variables)
    if not data_names:
        raise ValueError("no data variables in HDF5 file")

    ref = f.datasets[data_names[0]]
    dim_order = _dim_order_for(f, ref, dim_like)
    coords: dict[str, np.ndarray] = {}
    for d, size in zip(dim_order, ref.shape):
        if d in f.datasets:
            vals = f.read(d)
            units = f.datasets[d].attrs.get("units", "")
            if isinstance(units, str) and " since " in units:
                vals = decode_cf_time(vals, units)
            coords[d] = vals
        else:
            coords[d] = np.arange(size)
    dims = detect_dims(dim_order, {d: str(coords[d].dtype)
                                   for d in dim_order})
    return data_names, dim_order, coords, dims


def hdf5_to_grid(buf: bytes, variables=None, time_range=None):
    """HDF5/netCDF-4 bytes → (coords, arrays, dim_order, dims) — the
    container-agnostic grid the ingest pipeline shares with
    `netcdf._grid_from_nc3` and `zarr2._grid_from_store`. Decodes every
    selected variable whole; `read_netcdf_long` uses it only for files
    the chunk-per-task reader refuses."""
    from .netcdf import slice_time

    f = H5File(buf)
    data_names, dim_order, coords, dims = _netcdf_model(f, variables)
    arrays = {}
    for n in data_names:
        a = f.datasets[n].attrs
        raw = f.read(n)
        if raw.dtype.names:
            # compound dataset → one long-model variable per member
            # ("name_member"); CF packing attrs don't apply to
            # compound types (netCDF-4 forbids the combination)
            for m in raw.dtype.names:
                arrays[f"{n}_{m}"] = np.ascontiguousarray(raw[m])
            continue
        arrays[n] = _mask_and_scale(raw, a.get("_FillValue"),
                                    a.get("scale_factor"),
                                    a.get("add_offset"))
    coords, arrays = slice_time(coords, arrays, dim_order, dims,
                                time_range)
    return coords, arrays, dim_order, dims


def _dim_order_for(f: H5File, ds: H5Dataset, dim_like: set[str]
                   ) -> list[str]:
    """Dimension names per axis: DIMENSION_LIST object references when
    present (the netCDF-4 contract), else 1-D coordinate size match."""
    dl = ds.attrs.get("DIMENSION_LIST")
    if dl is not None:
        out = []
        for axis_refs in dl:
            refs = axis_refs if isinstance(axis_refs, list) else [axis_refs]
            name = f.addr_to_name.get(refs[0]) if refs else None
            if name is None:
                raise ValueError("DIMENSION_LIST reference does not "
                                 "resolve to a dataset")
            out.append(name)
        return out
    by_size: dict[int, list[str]] = {}
    for n in sorted(dim_like):
        by_size.setdefault(f.datasets[n].shape[0], []).append(n)
    out, used = [], set()
    for i, size in enumerate(ds.shape):
        cands = [n for n in by_size.get(size, []) if n not in used]
        if not cands:
            out.append(f"dim_{i}")
        else:
            out.append(cands[0])
            used.add(cands[0])
    return out


def dataset_chunk_index(f: H5File, name: str) -> list[tuple]:
    """(chunk offsets, file addr, stored size, filter mask) for every
    stored chunk of a chunked dataset — the metadata an executor task
    needs to read its chunk bytes directly, without the driver."""
    ds = f.datasets[name]
    if ds.layout.get("class") != "chunked":
        raise ValueError(f"dataset {name!r} is not chunked")
    return [(tuple(offs), addr, size, mask)
            for offs, size, mask, addr in f._chunks(ds)]


def read_hdf5_long_distributed(spark, path: str, variables=None,
                               time_range=None, bbox=None):
    """Chunk ↔ task for a single (large) NetCDF4/HDF5 file: every stored
    chunk becomes one Spark task that seeks, reads and defilters its own
    bytes executor-side, so a multi-TB archive file never materializes
    on the driver. Contiguous (unfiltered) datasets are split into
    leading-dimension row blocks by byte range — same chunk-per-task
    plan, synthesized. The tasks, the chunk-index pruning by
    ``time_range``/``bbox`` and the row filters are
    `netcdf.chunk_tasks_long`'s, shared with
    `zarr2.read_zarr_long_distributed`: ``time_range`` is cut with the
    same inclusive mask as `hdf5_to_grid` (`netcdf.time_mask`).

    All selected data variables must share one chunk grid (what
    libnetcdf emits for same-shaped variables) and a numeric datatype;
    files that break either raise `H5Unsupported` before any job runs
    (`read_netcdf_long` then decodes them on the driver).

    Executors open ``path`` directly — a shared filesystem in cluster
    mode (for object stores, swap the ``open``/seek for a ranged GET in
    `_task_chunk`)."""
    return open_hdf5_long(spark, path, variables, time_range, bbox)[0]


# filters `_defilter` undoes; any other id is refused at plan time
_KNOWN_FILTERS = frozenset((FILTER_DEFLATE, FILTER_SHUFFLE,
                            FILTER_FLETCHER32, FILTER_SZIP, FILTER_NBIT,
                            FILTER_SCALEOFFSET))


def _task_grid(f: H5File, data_names: list[str]) -> tuple[tuple, tuple]:
    """(shape, chunk shape) of the task grid the selected variables
    share. Chunked variables bring their chunk shape; contiguous ones
    are cut into leading-dimension row blocks of ~4 MB, which fit any
    grid whose trailing chunk dims span the whole variable. Raises
    `H5Unsupported` for what a task cannot decode alone: compound or
    string variables, compact layouts, unknown filters and variables
    on different chunk grids."""
    shape = tuple(f.datasets[data_names[0]].shape)
    chunks = None
    for n in data_names:
        d = f.datasets[n]
        if d.dtype is None or d.dtype.names:
            raise H5Unsupported(
                f"variable {n!r} has a "
                f"{d.dtype_info.get('kind') or 'compound'} datatype")
        if tuple(d.shape) != shape:
            raise ValueError("data variables must share one shape; "
                             f"{n!r} differs — pass variables=[...]")
        cls = d.layout.get("class")
        if cls not in ("chunked", "contiguous"):
            raise H5Unsupported(f"variable {n!r} has a {cls} layout")
        unknown = sorted({fid for fid, _ in d.filters} - _KNOWN_FILTERS)
        if unknown:
            raise H5Unsupported(f"HDF5 filter {unknown[0]} not supported")
        if cls == "chunked":
            if chunks not in (None, tuple(d.layout["chunks"])):
                raise H5Unsupported(
                    "data variables on different chunk grids")
            chunks = tuple(d.layout["chunks"])
    if chunks is None:
        row_bytes = int(np.prod(shape[1:]) or 1) * max(
            f.datasets[n].dtype.itemsize for n in data_names)
        chunks = (max(1, min(shape[0], (4 << 20) // row_bytes)),) \
            + shape[1:]
    elif chunks[1:] != shape[1:] and any(
            f.datasets[n].layout["class"] == "contiguous"
            for n in data_names):
        raise H5Unsupported("contiguous and chunked data variables on "
                            "different grids")
    return shape, chunks


def _task_meta(f: H5File, name: str, shape: tuple, chunks: tuple) -> dict:
    """What a task needs to decode its block of variable ``name``:
    datatype, filters, CF attributes and the (file addr, stored size,
    filter mask) of each stored chunk keyed by chunk offsets."""
    d = f.datasets[name]
    if d.layout["class"] == "chunked":
        locs = {offs: (addr, size, mask) for offs, addr, size, mask
                in dataset_chunk_index(f, name)}
    elif d.layout["addr"] == UNDEF:
        # never-allocated contiguous dataset: no byte ranges exist;
        # every chunk takes the fill path
        locs = {}
    else:
        base = d.layout["addr"]
        row_bytes = int(np.prod(shape[1:]) or 1) * d.dtype.itemsize
        locs = {(r,) + (0,) * (len(shape) - 1):
                (base + r * row_bytes,
                 min(chunks[0], shape[0] - r) * row_bytes, 0)
                for r in range(0, shape[0], chunks[0])}
    return {"dtype": str(d.dtype), "dtype_info": d.dtype_info,
            "filters": d.filters,
            "fill": d.attrs.get("_FillValue"),
            "scale": d.attrs.get("scale_factor"),
            "offset": d.attrs.get("add_offset"),
            "chunked": d.layout["class"] == "chunked", "locs": locs}


def _task_chunk(fh, m: dict, offs: tuple, shape: tuple,
                chunks: tuple) -> np.ndarray:
    """One variable's chunk at offsets ``offs`` read from the open file
    ``fh`` (the fill value where the chunk was never written), then
    CF-unpacked. ``m`` is the variable's `_task_meta`."""
    dtype = np.dtype(m["dtype"])
    loc = m["locs"].get(offs)
    if loc is None:                            # never-written chunk
        from .zarr2 import _fill_for
        arr = np.full(chunks, _fill_for(m["fill"], dtype),
                      dtype=dtype.newbyteorder("="))
    else:
        addr, size, mask = loc
        fh.seek(addr)
        block = chunks if m["chunked"] else \
            (min(chunks[0], shape[0] - offs[0]),) + chunks[1:]
        arr = _decode_chunk(fh.read(size), dtype, block, m["filters"],
                            mask, m["dtype_info"])
    return _mask_and_scale(arr, m["fill"], m["scale"], m["offset"])


def open_hdf5_long(spark, path: str, variables=None, time_range=None,
                   bbox=None):
    """`read_hdf5_long_distributed`'s frame and the number of grid cells
    it selects by ``variables`` and ``time_range`` — its row count when
    ``bbox`` is None — taken from the header and coordinates alone."""
    import mmap

    from .netcdf import chunk_tasks_long

    # mmap: the driver's metadata walk pages in only the headers and
    # chunk indexes it touches — a multi-TB archive file never loads
    # driver-side
    with open(path, "rb") as fh, \
            mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ) as buf:
        f = H5File(buf)
        data_names, dim_order, coords, dims = _netcdf_model(f, variables)
        shape, chunks = _task_grid(f, data_names)
        meta = {n: _task_meta(f, n, shape, chunks) for n in data_names}

    def decode(offsets):
        with open(path, "rb") as fh:
            for offs in offsets:
                yield {n: _task_chunk(fh, m, offs, shape, chunks)
                       for n, m in meta.items()}

    # mirror _mask_and_scale: a present fill OR any packing attr
    # promotes to float64 (static per variable)
    dtypes = {n: np.dtype("float64")
              if any(m[k] is not None for k in ("fill", "scale", "offset"))
              else np.dtype(m["dtype"]).newbyteorder("=")
              for n, m in meta.items()}
    return chunk_tasks_long(spark, coords, dim_order, dims, shape, chunks,
                            dtypes, decode, time_range, bbox)


def _mask_and_scale(arr: np.ndarray, fill, scale, offset) -> np.ndarray:
    """CF unpack order: mask ``_FillValue`` FIRST — in the PACKED
    domain, whatever the dtype — then apply scale_factor/add_offset.
    A present fill always promotes to float64 so fill cells become NaN
    instead of unpacking into plausible-looking fake values (packed
    int16 ERA5/CMIP data is the canonical case); output dtype is
    therefore static per variable, never data-dependent."""
    if fill is not None:
        mask = arr == fill
        arr = arr.astype(np.float64)
        arr[mask] = np.nan
    if scale is not None or offset is not None:
        arr = (arr.astype(np.float64)
               * (scale if scale is not None else 1.0)
               + (offset if offset is not None else 0.0))
    return arr


# =========================== writer =========================================

class _Writer:
    """Minimal v0-superblock HDF5 writer (the libnetcdf 'earliest'
    profile): root symbol-table group, v1 object headers, contiguous or
    chunked+deflate(+shuffle) layouts, v1 attributes, DIMENSION_SCALE /
    DIMENSION_LIST netCDF-4 markers via a global heap."""

    def __init__(self):
        self.chunks_out: list[bytes] = []

    # -- low-level builders --------------------------------------------------

    @staticmethod
    def _dt_msg(arr_dtype: np.dtype | None, str_size: int | None = None,
                vlen_ref: bool = False,
                precision_offset: tuple[int, int] | None = None
                ) -> bytes:
        if vlen_ref:
            # vlen(sequence) of object references
            inner = bytes([0x07 | (1 << 4)]) + bytes([0, 0, 0]) \
                + struct.pack("<I", 8)
            return bytes([0x09 | (1 << 4), 0x00, 0, 0]) \
                + struct.pack("<I", 16) + inner
        if str_size is not None:
            return bytes([0x03 | (1 << 4), 0x00, 0, 0]) \
                + struct.pack("<I", str_size)
        dt = arr_dtype
        if dt.kind in ("i", "u"):
            bits0 = (0x08 if dt.kind == "i" else 0) \
                | (0x01 if dt.byteorder == ">" else 0)
            prec, boff = (precision_offset
                          or (dt.itemsize * 8, 0))
            return bytes([0x00 | (1 << 4), bits0, 0, 0]) \
                + struct.pack("<I", dt.itemsize) \
                + struct.pack("<HH", boff, prec)
        if dt.kind == "f":
            # bit-field byte 1 = sign-bit location: bit 31 for f4,
            # bit 63 for f8 (a fixed 0x3F here is out of range for f4
            # and rejected by libhdf5 even though our reader ignores it)
            if dt.itemsize == 4:
                props = struct.pack("<HHBBBBI", 0, 32, 23, 8, 0, 23, 127)
                sign_loc = 31
            else:
                props = struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
                sign_loc = 63
            return bytes([0x01 | (1 << 4), 0x20, sign_loc, 0]) \
                + struct.pack("<I", dt.itemsize) + props
        raise ValueError(f"unsupported dtype {dt}")

    @staticmethod
    def _ds_msg(shape: tuple[int, ...]) -> bytes:
        rank = len(shape)
        return bytes([1, rank, 0, 0]) + b"\x00" * 4 \
            + b"".join(struct.pack("<Q", s) for s in shape)

    @staticmethod
    def _attr_msg(name: str, value) -> bytes:
        nb = name.encode() + b"\x00"
        if isinstance(value, str):
            vb = value.encode() + b"\x00"
            dt = _Writer._dt_msg(None, str_size=len(vb))
            ds = _Writer._ds_msg(())
            data = vb
        else:
            arr = np.asarray(value)
            if arr.dtype.kind not in ("i", "u", "f"):
                raise ValueError(f"unsupported attribute type for "
                                 f"{name!r}: {arr.dtype}")
            if arr.dtype.byteorder == ">":
                arr = arr.astype(arr.dtype.newbyteorder("<"))
            dt = _Writer._dt_msg(arr.dtype)
            ds = _Writer._ds_msg(arr.shape)
            data = arr.tobytes()
        body = bytes([1, 0]) + struct.pack("<HHH", len(nb), len(dt),
                                           len(ds))
        body += nb + b"\x00" * (_pad8(len(nb)) - len(nb))
        body += dt + b"\x00" * (_pad8(len(dt)) - len(dt))
        body += ds + b"\x00" * (_pad8(len(ds)) - len(ds))
        body += data
        return body

    @staticmethod
    def _attr_msg_raw(name: str, dt: bytes, ds: bytes,
                      data: bytes) -> bytes:
        nb = name.encode() + b"\x00"
        body = bytes([1, 0]) + struct.pack("<HHH", len(nb), len(dt),
                                           len(ds))
        body += nb + b"\x00" * (_pad8(len(nb)) - len(nb))
        body += dt + b"\x00" * (_pad8(len(dt)) - len(dt))
        body += ds + b"\x00" * (_pad8(len(ds)) - len(ds))
        body += data
        return body

    @staticmethod
    def _messages_block(msgs: list[tuple[int, bytes]]) -> bytes:
        out = bytearray()
        for mtype, body in msgs:
            padded = body + b"\x00" * (_pad8(len(body)) - len(body))
            out += struct.pack("<HHB3x", mtype, len(padded), 0)
            out += padded
        return bytes(out)

    @staticmethod
    def _object_header(msgs: list[tuple[int, bytes]]) -> bytes:
        block = _Writer._messages_block(msgs)
        return (bytes([1, 0]) + struct.pack("<H", len(msgs))
                + struct.pack("<I", 1) + struct.pack("<I", len(block))
                + b"\x00" * 4 + block)


def _szip_client(dtype) -> tuple[int, int, int, int]:
    """H5Zszip client data for the fixture writer: (options_mask,
    bits_per_pixel, pixels_per_block, pixels_per_scanline) — EC+NN
    preprocessing, LSB byte order (the writer normalizes arrays to
    little-endian)."""
    from .szip import EC_OPTION_MASK, LSB_OPTION_MASK, NN_OPTION_MASK
    if dtype.itemsize not in (1, 2, 4) or dtype.kind not in "iu":
        raise H5Unsupported(
            f"szip fixture writer wants 1/2/4-byte integer dtypes, "
            f"got {dtype}")
    return (EC_OPTION_MASK | NN_OPTION_MASK | LSB_OPTION_MASK,
            dtype.itemsize * 8, 16, 128)


def write_hdf5(path: str | None, dims: dict[str, np.ndarray],
               variables: dict[str, tuple[list[str], np.ndarray, dict]],
               attrs: dict | None = None,
               chunks: dict[str, tuple[int, ...]] | None = None,
               compress: bool | str = False,
               nbit_spec: tuple[int, int] = (12, 0),
               so_dscale: int = 2) -> str:
    """Write a netCDF-4-flavoured HDF5 file (v0 superblock profile):
    coordinate datasets carry CLASS=DIMENSION_SCALE/NAME, data variables
    carry DIMENSION_LIST object references; optional chunked layout with
    shuffle+deflate (``compress=True``) or szip — CCSDS 121.0
    extended-Rice through ``sources/szip.py``, the H5Zszip client-data
    and 4-byte-header framing (``compress="szip"``, integer dtypes of
    1/2/4 bytes). Readable by any HDF5 library (szip wants an
    szlib/libaec-enabled build, as with any szip file) and by
    `H5File`. ``path=None`` returns the container BYTES instead of
    writing a file (the in-memory synthesis path).

    ``compress="nbit"`` emits filter 5 on integer chunked variables:
    only the ``nbit_spec = (precision, bit_offset)`` field of each
    element is stored (the datatype message carries the same
    precision/offset — the decode contract). ``compress="scaleoffset"``
    emits filter 6: integer H5Z_SO_INT (per-chunk minbits/minval
    header + offset-packed values) for fixed-point dtypes, or float
    H5Z_SO_FLOAT_DSCALE with decimal factor ``so_dscale`` for f4/f8
    (encoded = lround((v - min)*10^D) in the dataset's float width,
    minval header = the min float's IEEE bytes)."""
    W = _Writer
    chunks = chunks or {}
    # each dims value: array OR (array, attrs) tuple (e.g. CF units)
    dim_attrs = {k: (v[1] if isinstance(v, tuple) else {})
                 for k, v in dims.items()}
    dims = {k: (v[0] if isinstance(v, tuple) else v)
            for k, v in dims.items()}
    names = sorted(list(dims) + list(variables))
    # ---- plan layout: superblock, heap, btree, snod, OHs, data, gcol ----
    sb_size = 96
    heap_data = bytearray(b"\x00" * 8)
    name_off = {}
    for n in names:
        name_off[n] = len(heap_data)
        nb = n.encode() + b"\x00"
        heap_data += nb + b"\x00" * (_pad8(len(nb)) - len(nb))
    heap_hdr = 32
    heap_addr = sb_size
    heap_data_addr = heap_addr + heap_hdr
    btree_addr = heap_data_addr + len(heap_data)
    btree_size = 24 + 8 + 16          # one key + one child + final key
    snod_addr = btree_addr + btree_size
    snod_size = 8 + 40 * len(names)

    # normalize to little-endian once; sizes then never depend on values
    dims = {k: np.ascontiguousarray(
                np.asarray(v).astype(np.asarray(v).dtype.newbyteorder("<"))
                if np.asarray(v).dtype.byteorder == ">" else np.asarray(v))
            for k, v in dims.items()}
    variables = {k: (vd, np.ascontiguousarray(
                         np.asarray(a).astype(
                             np.asarray(a).dtype.newbyteorder("<"))
                         if np.asarray(a).dtype.byteorder == ">"
                         else np.asarray(a)), at)
                 for k, (vd, a, at) in variables.items()}

    # two passes: sizes don't depend on addresses (all fields fixed width)
    def build_objects(data_addr_of: dict,
                      btree_of: dict, gcol_addr: int, gcol_index: dict):
        headers = {}
        for n in names:
            if n in dims:
                arr = np.asarray(dims[n])
                vdims, vattrs = [n], dim_attrs.get(n, {})
            else:
                vdims, arr, vattrs = variables[n]
                arr = np.asarray(arr)
            po = (nbit_spec if compress == "nbit" and n in chunks
                  and arr.dtype.kind in ("i", "u") else None)
            msgs = [(MSG_DATASPACE, W._ds_msg(arr.shape)),
                    (MSG_DATATYPE, W._dt_msg(arr.dtype,
                                             precision_offset=po))]
            ch = chunks.get(n)
            if ch:
                rank = len(arr.shape)
                body = bytes([3, 2, rank + 1]) \
                    + struct.pack("<Q", btree_of.get(n, UNDEF)) \
                    + b"".join(struct.pack("<I", c) for c in ch) \
                    + struct.pack("<I", arr.dtype.itemsize)
                msgs.append((MSG_LAYOUT, body))
                if compress == "szip":
                    cli = _szip_client(arr.dtype)
                    filt = bytes([1, 1]) + b"\x00" * 6
                    filt += struct.pack("<HHHH", FILTER_SZIP, 0, 1, 4) \
                        + struct.pack("<4i", *cli)
                    msgs.append((MSG_FILTERS, filt))
                elif compress == "nbit":
                    # client data mirrors H5Znbit's atomic layout:
                    # [nparms, reserved, nelmts, need-not-compress,
                    #  ATOMIC, size, order, precision, offset] — the
                    # reader's contract is the datatype message, the
                    # cd_values ride along for library parity
                    prec, boff = nbit_spec
                    cd = [9, 0, int(np.prod(ch)),
                          int(boff == 0 and prec >= arr.dtype.itemsize
                              * 8),
                          1, arr.dtype.itemsize,
                          1 if arr.dtype.byteorder == ">" else 0,
                          prec, boff]
                    filt = bytes([1, 1]) + b"\x00" * 6
                    filt += struct.pack("<HHHH", FILTER_NBIT, 0, 0,
                                        len(cd)) \
                        + b"".join(struct.pack("<I", v) for v in cd) \
                        + b"\x00" * 4           # odd nvalues pad
                    msgs.append((MSG_FILTERS, filt))
                elif compress == "scaleoffset":
                    # [scale type, scale factor, nelmts, class, size,
                    #  sign, order, fill-unset] — H5Z_SO_INT (2) with
                    # auto factor for fixed-point data, or
                    # H5Z_SO_FLOAT_DSCALE (0) with the decimal factor
                    # ``so_dscale`` for float data
                    if arr.dtype.kind == "f":
                        cd = [0, int(so_dscale), int(np.prod(ch)), 1,
                              arr.dtype.itemsize, 0,
                              1 if arr.dtype.byteorder == ">" else 0, 0]
                    else:
                        cd = [2, 0, int(np.prod(ch)), 0,
                              arr.dtype.itemsize,
                              1 if arr.dtype.kind == "i" else 0,
                              1 if arr.dtype.byteorder == ">" else 0, 0]
                    filt = bytes([1, 1]) + b"\x00" * 6
                    filt += struct.pack("<HHHH", FILTER_SCALEOFFSET,
                                        0, 0, len(cd)) \
                        + b"".join(struct.pack("<I", v) for v in cd)
                    msgs.append((MSG_FILTERS, filt))
                elif compress:
                    filt = bytes([1, 2]) + b"\x00" * 6
                    filt += struct.pack("<HHHH", FILTER_SHUFFLE, 0, 0, 1) \
                        + struct.pack("<i", arr.dtype.itemsize) \
                        + b"\x00" * 4
                    filt += struct.pack("<HHHH", FILTER_DEFLATE, 0, 0, 1) \
                        + struct.pack("<i", 4) + b"\x00" * 4
                    msgs.append((MSG_FILTERS, filt))
            else:
                body = bytes([3, 1]) \
                    + struct.pack("<QQ", data_addr_of.get(n, UNDEF),
                                  arr.nbytes)
                msgs.append((MSG_LAYOUT, body))
            if n in dims:
                msgs.append((MSG_ATTRIBUTE,
                             W._attr_msg("CLASS", "DIMENSION_SCALE")))
                msgs.append((MSG_ATTRIBUTE, W._attr_msg("NAME", n)))
            else:
                dt = W._dt_msg(None, vlen_ref=True)
                ds_sp = W._ds_msg((len(vdims),))
                data = b"".join(
                    struct.pack("<IQI", 1, gcol_addr,
                                gcol_index.get((n, i), 1))
                    for i in range(len(vdims)))
                msgs.append((MSG_ATTRIBUTE,
                             W._attr_msg_raw("DIMENSION_LIST", dt,
                                             ds_sp, data)))
            for k, v in (vattrs or {}).items():
                msgs.append((MSG_ATTRIBUTE, W._attr_msg(k, v)))
            headers[n] = W._object_header(msgs)
        return headers

    # pass 1: sizes
    dummy = build_objects({}, {}, 0, {})
    oh_addr, pos = {}, snod_addr + snod_size
    for n in names:
        pos = _pad8(pos)
        oh_addr[n] = pos
        pos += len(dummy[n])
    root_oh_addr = _pad8(pos)
    root_oh = W._object_header(
        [(MSG_SYMBOL_TABLE, struct.pack("<QQ", btree_addr, snod_addr))]
        + [(MSG_ATTRIBUTE, W._attr_msg(k, v))
           for k, v in (attrs or {}).items()])
    pos = root_oh_addr + len(root_oh)

    # data segments (and chunk payloads)
    data_addr_of, btree_of, chunk_plan = {}, {}, {}
    for n in names:
        arr = np.asarray(dims[n]) if n in dims else \
            np.asarray(variables[n][1])
        ch = chunks.get(n)
        if ch:
            payloads = []
            grid = [range(0, s, c) for s, c in zip(arr.shape, ch)]
            for offs in iproduct(*grid):
                sel = tuple(slice(o, min(o + c, s))
                            for o, c, s in zip(offs, ch, arr.shape))
                block = np.zeros(ch, dtype=arr.dtype)
                piece = arr[sel]
                block[tuple(slice(0, p) for p in piece.shape)] = piece
                raw = np.ascontiguousarray(block).tobytes()
                if compress == "szip":
                    from .szip import h5_szip_encode
                    raw = h5_szip_encode(raw, _szip_client(arr.dtype))
                elif compress == "nbit":
                    prec, boff = nbit_spec
                    flat = block.reshape(-1).astype(np.uint64)
                    if prec + boff > arr.dtype.itemsize * 8:
                        raise ValueError("nbit precision+offset wider "
                                         "than the datatype")
                    if (flat >> np.uint64(boff + prec)).any() if \
                            boff + prec < 64 else False:
                        raise ValueError("values exceed the nbit "
                                         "precision window")
                    raw = _pack_msb(
                        (flat >> np.uint64(boff))
                        & np.uint64((1 << prec) - 1), prec)
                elif compress == "scaleoffset":
                    if arr.dtype.kind == "f":
                        # H5Z_SO_FLOAT_DSCALE: lround((v − min)·10^D)
                        # with the subtract/multiply in the dataset's
                        # own float width (H5Zscaleoffset.c modify_1);
                        # minval header = the min float's IEEE bytes
                        ftype = block.dtype.type
                        flatf = block.reshape(-1)
                        mnf = ftype(flatf.min())
                        pw = ftype(10) ** ftype(so_dscale)
                        scaled = ((flatf - mnf) * pw).astype(np.float64)
                        ints = np.floor(scaled + 0.5).astype(np.uint64)
                        minbits = int(ints.max()).bit_length()
                        isz = arr.dtype.itemsize
                        if minbits >= isz * 8:
                            raw = ((isz * 8).to_bytes(4, "little")
                                   + bytes(8) + raw)
                        else:
                            mb = np.array([mnf], f"<f{isz}").tobytes()
                            raw = (minbits.to_bytes(4, "little")
                                   + mb.ljust(8, b"\x00"))
                            if minbits:
                                raw += _pack_msb(ints, minbits)
                    else:
                        flat = block.reshape(-1).astype(np.int64)
                        mn = int(flat.min())
                        minbits = int(flat.max() - mn).bit_length()
                        if minbits >= arr.dtype.itemsize * 8:
                            # library semantics: a full-width span
                            # stores the ORIGINAL values after the
                            # header
                            minbits = arr.dtype.itemsize * 8
                            raw = (minbits.to_bytes(4, "little")
                                   + bytes(8) + raw)
                        else:
                            raw = (minbits.to_bytes(4, "little")
                                   + (mn & 0xFFFFFFFFFFFFFFFF)
                                   .to_bytes(8, "little"))
                            if minbits:
                                raw += _pack_msb(flat - mn, minbits)
                elif compress:
                    from .zarr2 import _shuffle
                    raw = zlib.compress(_shuffle(raw, arr.dtype.itemsize),
                                        4)
                payloads.append((offs, raw))
            addrs = []
            for offs, raw in payloads:
                pos = _pad8(pos)
                addrs.append((offs, pos, len(raw)))
                pos += len(raw)
            pos = _pad8(pos)
            btree_of[n] = pos
            rank = len(arr.shape)
            key_size = 8 + 8 * (rank + 1)
            pos += 24 + (len(addrs) + 1) * key_size + len(addrs) * 8
            chunk_plan[n] = (payloads, addrs, rank)
        else:
            pos = _pad8(pos)
            data_addr_of[n] = pos
            pos += arr.nbytes
    gcol_addr = _pad8(pos)
    gcol_index = {}
    gcol_objs = []
    idx = 1
    for n in names:
        if n in dims:
            continue
        vdims = variables[n][0]
        for i, d in enumerate(vdims):
            gcol_index[(n, i)] = idx
            gcol_objs.append(struct.pack("<Q", oh_addr[d]))
            idx += 1
    gcol_body = bytearray()
    for i, obj in enumerate(gcol_objs, start=1):
        gcol_body += struct.pack("<HHI", i, 0, 0)
        gcol_body += struct.pack("<Q", len(obj))
        gcol_body += obj + b"\x00" * (_pad8(len(obj)) - len(obj))
    gcol_size = 16 + len(gcol_body) + 16
    eof = gcol_addr + gcol_size

    # pass 2: real bytes
    headers = build_objects(data_addr_of, btree_of,
                            gcol_addr, gcol_index)
    out = bytearray(b"\x00" * eof)
    sb = bytearray()
    sb += MAGIC
    sb += bytes([0, 0, 0, 0, 0, 8, 8, 0])      # versions + offset sizes
    sb += struct.pack("<HH", 4, 16)            # leaf k, internal k
    sb += struct.pack("<I", 0)                 # consistency flags
    sb += struct.pack("<QQQQ", 0, UNDEF, eof, UNDEF)
    sb += struct.pack("<QQI", 0, root_oh_addr, 1)   # root entry
    sb += struct.pack("<I", 0)                 # reserved
    sb += struct.pack("<QQ", btree_addr, heap_addr)  # scratch cache
    out[0:len(sb)] = sb

    heap = bytearray(b"HEAP")
    heap += bytes([0, 0, 0, 0])
    heap += struct.pack("<QQQ", len(heap_data), len(heap_data),
                        heap_data_addr)
    out[heap_addr:heap_addr + heap_hdr] = heap[:heap_hdr]
    out[heap_data_addr:heap_data_addr + len(heap_data)] = heap_data

    bt = bytearray(b"TREE")
    bt += bytes([0, 0]) + struct.pack("<H", 1)
    bt += struct.pack("<QQ", UNDEF, UNDEF)
    bt += struct.pack("<Q", 0)                 # key 0
    bt += struct.pack("<Q", snod_addr)         # child 0
    bt += struct.pack("<Q", name_off[names[-1]])   # final key
    out[btree_addr:btree_addr + len(bt)] = bt

    sn = bytearray(b"SNOD")
    sn += bytes([1, 0]) + struct.pack("<H", len(names))
    for n in names:
        sn += struct.pack("<QQI", name_off[n], oh_addr[n], 0)
        sn += struct.pack("<I", 0) + b"\x00" * 16
    out[snod_addr:snod_addr + len(sn)] = sn

    for n in names:
        out[oh_addr[n]:oh_addr[n] + len(headers[n])] = headers[n]
    out[root_oh_addr:root_oh_addr + len(root_oh)] = root_oh

    for n in names:
        arr = np.asarray(dims[n]) if n in dims else \
            np.asarray(variables[n][1])
        if n in chunk_plan:
            payloads, addrs, rank = chunk_plan[n]
            for (offs, raw), (_o, a, sz) in zip(payloads, addrs):
                out[a:a + sz] = raw
            bt = bytearray(b"TREE")
            bt += bytes([1, 0]) + struct.pack("<H", len(addrs))
            bt += struct.pack("<QQ", UNDEF, UNDEF)
            for (offs, a, sz) in addrs:
                bt += struct.pack("<II", sz, 0)
                bt += b"".join(struct.pack("<Q", o) for o in offs)
                bt += struct.pack("<Q", 0)     # element offset
                bt += struct.pack("<Q", a)
            end_offs = tuple(((s + c - 1) // c) * c
                             for s, c in zip(arr.shape, chunks[n]))
            bt += struct.pack("<II", 0, 0)
            bt += b"".join(struct.pack("<Q", o) for o in end_offs)
            bt += struct.pack("<Q", 0)
            out[btree_of[n]:btree_of[n] + len(bt)] = bt
        else:
            a = data_addr_of[n]
            out[a:a + arr.nbytes] = np.ascontiguousarray(arr).tobytes()

    gc = bytearray(b"GCOL")
    gc += bytes([1, 0, 0, 0])
    gc += struct.pack("<Q", gcol_size)
    gc += gcol_body
    gc += struct.pack("<HHI", 0, 0, 0) + struct.pack("<Q", 0)
    out[gcol_addr:gcol_addr + len(gc)] = gc

    if path is None:
        return bytes(out)
    with open(path, "wb") as fh:
        fh.write(bytes(out))
    return path


def synthesize_hdf5_szip(df, id_col: str, text_col: str):
    """Build REAL szip-compressed NetCDF4/HDF5 files deterministically
    from text rows — the driver-facing twin of the GRIB2 synthesizers:
    each document renders into an in-memory HDF5 container whose one
    8×8 data variable derives from the cycled UTF-8 text bytes, chunked
    + szip-filtered through ``write_hdf5(compress="szip")``, across
    three residue classes of ``msg_id % 3`` (containers are built
    fully in memory — no executor temp files):

    - 0: uint8 cells, one 8×8 chunk (single-chunk szip stream)
    - 1: int16 values = 127·byte, chunks (3, 5) — chunk-grid padding,
         uneven tails, 16-bit NN preprocessing
    - 2: uint32 values = 65537·byte with ``scale_factor = 0.5``,
         chunks (4, 4) — 32-bit samples and CF unpacking ON TOP of the
         szip decode (decoded field = byte·65537/2, exact halves)
    """
    from ..operators._kernel import payload_stage

    def h5(text: str, msg_id: int) -> bytes:
        raw = (text.encode("utf-8") or b"\x00")
        bts = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
        cells = bts[np.arange(64) % len(bts)].reshape(8, 8)
        c = msg_id % 3
        if c == 0:
            arr, chunks, attrs = cells.astype(np.uint8), (8, 8), {}
        elif c == 1:
            arr, chunks, attrs = \
                (cells * 127).astype(np.int16), (3, 5), {}
        else:
            arr, chunks, attrs = ((cells * 65537).astype(np.uint32),
                                  (4, 4), {"scale_factor": 0.5})
        return write_hdf5(None,
                          {"y": np.arange(8, dtype=np.int32),
                           "x": np.arange(8, dtype=np.int32)},
                          {"v": (["y", "x"], arr, attrs)},
                          chunks={"v": chunks},
                          compress="szip")

    return payload_stage(df, id_col, text_col, h5, "msg_id")


def hdf5_szip_stats(payload_df, id_col: str = "msg_id",
                    payload_col: str = "payload"):
    """Decode szip-compressed HDF5 payloads executor-side (one Arrow
    ``mapInPandas``, the chunk pipeline incl. the szip filter and CF
    scale_factor unpacking) → per-file (msg_id, dtype, n_vals,
    mean_value)."""
    import pandas as pd

    def _decode(batches):
        for pdf in batches:
            rows = {"msg_id": [], "dtype": [], "n_vals": [],
                    "mean_value": []}
            for mid, payload in zip(pdf[id_col].astype("int64"),
                                    pdf[payload_col]):
                f = H5File(bytes(payload))
                ds = f.datasets["v"]
                vals = f.read("v").astype(np.float64)
                scale = ds.attrs.get("scale_factor")
                if scale is not None:
                    vals = vals * float(scale)
                rows["msg_id"].append(int(mid))
                rows["dtype"].append(ds.dtype.name)
                rows["n_vals"].append(int(vals.size))
                rows["mean_value"].append(float(vals.mean()))
            yield pd.DataFrame(rows)

    return payload_df.mapInPandas(
        _decode, schema=("msg_id long, dtype string, n_vals long, "
                         "mean_value double"))


def synthesize_hdf5_so_float(df, id_col: str, text_col: str):
    """Build REAL float-D-scale scaleoffset-filtered NetCDF4/HDF5
    files deterministically from text rows (round 10 — the last named
    NetCDF4 filter seam: H5Z_SO_FLOAT_DSCALE). Values are EXACT binary
    fractions whose scaled integers divide back exactly, so the decode
    is bit-deterministic and the oracle can re-derive means in plain
    SQL. Three residue classes of ``msg_id % 3``:

    - 0: float32, D=2, values = 0.25·byte − 10.0 (quarters with a
         negative chunk min), chunks (3, 5)
    - 1: float64, D=3, values = 0.125·byte + 5.0 (eighths), chunks
         (4, 4)
    - 2: float32 CONSTANT field (0.25·(msg_id % 7) + 1.0) — every
         chunk takes the minbits-0 header-only path
    """
    from ..operators._kernel import payload_stage

    def h5(text: str, msg_id: int) -> bytes:
        raw = (text.encode("utf-8") or b"\x00")
        bts = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
        cells = bts[np.arange(64) % len(bts)].reshape(8, 8)
        c = msg_id % 3
        if c == 0:
            arr = (cells.astype(np.float32) * np.float32(0.25)
                   - np.float32(10.0)).astype(np.float32)
            kw = dict(chunks={"v": (3, 5)}, so_dscale=2)
        elif c == 1:
            arr = cells.astype(np.float64) * 0.125 + 5.0
            kw = dict(chunks={"v": (4, 4)}, so_dscale=3)
        else:
            arr = np.full((8, 8), (msg_id % 7) * 0.25 + 1.0,
                          np.float32)
            kw = dict(chunks={"v": (3, 5)}, so_dscale=2)
        return write_hdf5(None,
                          {"y": np.arange(8, dtype=np.int32),
                           "x": np.arange(8, dtype=np.int32)},
                          {"v": (["y", "x"], arr, {})},
                          compress="scaleoffset", **kw)

    return payload_stage(df, id_col, text_col, h5, "msg_id")


def synthesize_hdf5_nbit_so(df, id_col: str, text_col: str):
    """Build REAL nbit- and scaleoffset-filtered NetCDF4/HDF5 files
    deterministically from text rows (the round-9 twin of
    ``synthesize_hdf5_szip`` — the last two named NetCDF4 filter seams,
    filters 5 and 6). Three residue classes of ``msg_id % 3``:

    - 0: NBIT int32, precision 8 / offset 0 (values = bytes),
         chunks (3, 5) — chunk-grid padding under the bitstream
    - 1: NBIT int32, precision 8 / offset 2 (values = 4·byte) — the
         offset window must shift, not mask
    - 2: SCALEOFFSET int32, values = 1000·byte − 50000 — a NEGATIVE
         per-chunk minval exercises the two's-complement header
    """
    from ..operators._kernel import payload_stage

    def h5(text: str, msg_id: int) -> bytes:
        raw = (text.encode("utf-8") or b"\x00")
        bts = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
        cells = bts[np.arange(64) % len(bts)].reshape(8, 8)
        c = msg_id % 3
        if c == 0:
            arr, kw = cells.astype(np.int32), dict(
                compress="nbit", nbit_spec=(8, 0),
                chunks={"v": (3, 5)})
        elif c == 1:
            arr, kw = (cells << 2).astype(np.int32), dict(
                compress="nbit", nbit_spec=(8, 2),
                chunks={"v": (4, 4)})
        else:
            arr, kw = (cells * 1000 - 50000).astype(np.int32), dict(
                compress="scaleoffset", chunks={"v": (3, 5)})
        return write_hdf5(None,
                          {"y": np.arange(8, dtype=np.int32),
                           "x": np.arange(8, dtype=np.int32)},
                          {"v": (["y", "x"], arr, {})}, **kw)

    return payload_stage(df, id_col, text_col, h5, "msg_id")
