"""Zarr v2 store reader/writer with Blosc frame decode — pure
numpy + pyarrow codecs, no zarr/numcodecs packages.

The reference's storage format is Zarr ("ARCO",
`ingest/arco_converter.py:110-160`): one directory per variable holding
``.zarray`` JSON metadata plus compressed C-order chunk files named
``i.j.k``; xarray adds ``_ARRAY_DIMENSIONS`` to ``.zattrs`` and a
consolidated ``.zmetadata``. Every piece is publicly specified (Zarr v2
spec; c-blosc1 header format), so the engine can read the reference's
actual stores — a user can point this engine at their existing ARCO
data without converting it first.

Codec support (what the reference writes by default is covered):
- raw numcodecs ``zstd`` (the reference's primary default — its
  ``_get_compressor`` tries ``Zstd(level)`` first), ``lz4`` (uint32
  size prefix + block stream), ``zlib`` / ``gzip``, ``compressor:
  null``,
- Blosc frames (the reference's fallback) with inner zstd, zlib, lz4
  or lz4hc — per-stream ``int32 csize`` prefixes, stored-uncompressed
  streams, whole-frame memcpy fallback, byte-shuffle AND bit-shuffle
  filters, multi-block frames, AND the *split* block layout (one
  stream per byte lane, leftover block unsplit) that c-blosc's
  lz4/blosclz defaults write — so the reference's documented
  ``Blosc(cname="lz4")`` option (`ingest/arco_converter.py:172-174`)
  round-trips. blosclz payloads themselves remain unsupported (no
  public pure-python decoder here) and are refused loudly.

Chunks ↔ tasks: ``read_zarr_long_distributed`` hands each chunk of the
store to a Spark task through `netcdf.chunk_tasks_long`, the
chunk-per-task reader core it shares with the NetCDF4/HDF5 reader —
the Spark shape of the reference's Dask chunk graph
(`processing/chunking.py`). This module brings the store model
(`_store_model`) and the chunk decode (`_read_chunk`).
"""

from __future__ import annotations

import json
import math
import os
import struct
from itertools import product as iproduct

import numpy as np

_BLOSC_CODECS = {0: "blosclz", 1: "lz4", 2: "lz4hc", 3: "snappy",
                 4: "zlib", 5: "zstd"}
# lz4hc streams are plain LZ4 block format (HC only changes the match
# search at compression time), so both decode through lz4_raw.
_ARROW_CODEC = {"zstd": "zstd", "zlib": "gzip", "snappy": "snappy",
                "lz4": "lz4_raw", "lz4hc": "lz4_raw"}
# c-blosc1 constants (blosc.h): header flag bits and split limits.
_BLOSC_DOSHUFFLE = 0x1
_BLOSC_MEMCPYED = 0x2
_BLOSC_DOBITSHUFFLE = 0x4
_BLOSC_DONT_SPLIT = 0x10
_BLOSC_MAX_SPLITS = 16       # MAX_SPLITS
_BLOSC_MIN_BUFFERSIZE = 128  # MIN_BUFFERSIZE


def _unshuffle(buf: bytes, typesize: int) -> bytes:
    if typesize <= 1:
        return buf
    n = len(buf) - len(buf) % typesize
    if n == 0:
        return buf
    arr = np.frombuffer(buf[:n], dtype=np.uint8)
    un = arr.reshape(typesize, n // typesize).T.reshape(-1).tobytes()
    return un + buf[n:]


def _shuffle(buf: bytes, typesize: int) -> bytes:
    if typesize <= 1:
        return buf
    n = len(buf) - len(buf) % typesize
    if n == 0:
        return buf
    arr = np.frombuffer(buf[:n], dtype=np.uint8)
    sh = arr.reshape(n // typesize, typesize).T.reshape(-1).tobytes()
    return sh + buf[n:]


def _bit_unshuffle(buf: bytes, typesize: int) -> bytes:
    """Inverse of c-blosc's per-block BITSHUFFLE filter.

    c-blosc1's ``bitunshuffle`` (shuffle.c) delegates to the bitshuffle
    library's ``bshuf_untrans_bit_elem`` for the largest multiple of 8
    elements and memcpys the leftover bytes verbatim. The shuffled
    layout is a full bit transpose: bit ``k`` (little-endian) of byte
    ``j`` of element ``i`` lives in bit-plane ``j*8 + k`` at bit
    position ``i`` (planes concatenated, each ``nelem/8`` bytes,
    element bits packed little-endian) — see bitshuffle's scalar
    reference ``bshuf_trans_bit_byte_scal``."""
    if typesize < 1:
        return buf
    nelem = len(buf) // typesize
    nelem8 = nelem - nelem % 8
    n = nelem8 * typesize
    if n == 0:
        return buf
    planes = np.frombuffer(buf[:n], dtype=np.uint8).reshape(
        typesize * 8, nelem8 // 8)
    bits = np.unpackbits(planes, axis=1, bitorder="little")  # (t*8, nelem8)
    elems = np.packbits(bits.T, axis=1, bitorder="little")   # (nelem8, t)
    return elems.tobytes() + buf[n:]


def _bit_shuffle(buf: bytes, typesize: int) -> bytes:
    """Forward BITSHUFFLE (bit-plane transpose), mirroring c-blosc's
    ``bitshuffle()``: transpose the largest multiple of 8 elements,
    memcpy the leftover bytes."""
    if typesize < 1:
        return buf
    nelem = len(buf) // typesize
    nelem8 = nelem - nelem % 8
    n = nelem8 * typesize
    if n == 0:
        return buf
    elems = np.frombuffer(buf[:n], dtype=np.uint8).reshape(nelem8, typesize)
    bits = np.unpackbits(elems, axis=1, bitorder="little")   # (nelem8, t*8)
    planes = np.packbits(bits.T, axis=1, bitorder="little")  # (t*8, nelem8/8)
    return planes.tobytes() + buf[n:]


def blosc_decompress(frame: bytes) -> bytes:
    """Decode a c-blosc1 frame (16-byte header, block-offset table,
    per-block ``int32 csize``-prefixed inner-codec streams, optional
    byte-shuffle) — the exact layout c-blosc/numcodecs writes,
    INCLUDING the *split* block layout its lz4/blosclz defaults use.

    Per the public c-blosc1 format (``blosc.c:blosc_d``): each block
    offset points at one or more little-endian int32 *compressed size*
    prefixes, each followed by that many payload bytes. A stream whose
    csize equals its decompressed size is STORED (not compressed) and
    must be memcpy'd, not handed to the inner codec.

    Split layout (c-blosc ≥ 1.14, what numcodecs vendors): the frame
    header's 0x10 flag is BLOSC_DONT_SPLIT. When it is CLEAR, each
    FULL block holds ``typesize`` independent streams — one per byte
    lane, each ``blocksize/typesize`` long — instead of one; the final
    partial (leftover) block is NEVER split (the ``!leftoverblock``
    term in ``blosc_d``'s nsplits condition), and the decision does
    not consult the shuffle filter. c-blosc's default
    FORWARD_COMPAT_SPLIT mode only splits for blosclz/lz4
    (``blosc.c:split_block``), which is why the reference's documented
    lz4 option (``ingest/arco_converter.py:172-174`` returns
    ``Blosc(cname="lz4")``) produces split frames while its zstd
    default does not. Concatenated lane streams reconstruct the
    (possibly shuffled) block; byte- or bit-unshuffle then applies
    blockwise as usual."""
    if len(frame) < 16:
        raise ValueError("truncated blosc frame")
    flags, typesize = frame[2], frame[3]
    nbytes, blocksize, cbytes = struct.unpack_from("<III", frame, 4)
    shuffled = bool(flags & _BLOSC_DOSHUFFLE)
    memcpyed = bool(flags & _BLOSC_MEMCPYED)
    bit_shuffled = bool(flags & _BLOSC_DOBITSHUFFLE)
    dont_split = bool(flags & _BLOSC_DONT_SPLIT)
    codec_id = flags >> 5
    if memcpyed:
        # c-blosc stores the ORIGINAL buffer on memcpy fallback — the
        # shuffle flag may still be set, but no unshuffle is applied.
        return frame[16:16 + nbytes]

    codec_name = _BLOSC_CODECS.get(codec_id, f"id{codec_id}")
    if codec_name not in _ARROW_CODEC:
        raise NotImplementedError(
            f"blosc inner codec {codec_name!r} not supported "
            "(re-write the store with zstd, lz4, or zlib)")
    from pyarrow import Codec
    codec = Codec(_ARROW_CODEC[codec_name])

    # Mirror blosc.c:blosc_d's nsplits decision verbatim: post-1.14 it
    # keys ONLY on the DONT_SPLIT flag + leftoverblock — it consults
    # neither the shuffle filter nor the lane-size bound (split_block
    # applies those at compress time and records the outcome in the
    # flag). Modern c-blosc reads pre-1.14 small-block frames the same
    # (occasionally wrong) way; matching it exactly is the compatible
    # choice.
    frame_splits = typesize if (not dont_split and typesize > 1) else 1

    nblocks = max(1, math.ceil(nbytes / blocksize)) if blocksize else 1
    starts = struct.unpack_from(f"<{nblocks}i", frame, 16)
    pieces = []
    for b in range(nblocks):
        bsize = blocksize if b < nblocks - 1 else nbytes - blocksize * (nblocks - 1)
        # c-blosc's blosc_d never splits the final partial block
        # (the `!leftoverblock` term in its nsplits condition).
        leftover = b == nblocks - 1 and bsize != blocksize
        nsplits = 1 if leftover else frame_splits
        if bsize % nsplits:
            raise ValueError(
                f"corrupt blosc frame: block size {bsize} not divisible "
                f"into {nsplits} split streams")
        neblock = bsize // nsplits
        off = starts[b]
        parts = []
        for _ in range(nsplits):
            csize = struct.unpack_from("<i", frame, off)[0]
            if csize < 0 or off + 4 + csize > len(frame):
                raise ValueError("corrupt blosc frame: bad stream csize")
            payload = bytes(frame[off + 4:off + 4 + csize])
            off += 4 + csize
            if csize == neblock:
                parts.append(payload)    # stored stream (incompressible)
            else:
                parts.append(codec.decompress(payload, neblock))
        raw = parts[0] if nsplits == 1 else b"".join(parts)
        if bit_shuffled:
            raw = _bit_unshuffle(raw, typesize)
        elif shuffled:
            raw = _unshuffle(raw, typesize)
        pieces.append(raw)
    return b"".join(pieces)


def blosc_compress(data: bytes, typesize: int, cname: str = "zstd",
                   shuffle: bool | str = True,
                   blocksize: int | None = None) -> bytes:
    """Encode a c-blosc1 frame (inner zstd/zlib/lz4 via pyarrow). Used
    by the writer and tests. Mirrors ``blosc.c:split_block`` under the
    default BLOSC_FORWARD_COMPAT_SPLIT mode: blosclz/lz4 frames use
    the split layout when ``typesize <= 16`` and ``blocksize/typesize
    >= 128`` (lz4hc/zlib/zstd never split); all other frames carry the
    BLOSC_DONT_SPLIT header bit so real c-blosc readers parse them as
    single-stream blocks. Like blosc_c, the final partial (leftover)
    block is never split, and the split decision does not consult the
    shuffle filter. ``shuffle`` may be True (byte-shuffle), False, or
    ``"bit"`` (BITSHUFFLE)."""
    from pyarrow import Codec
    rev = {v: k for k, v in _BLOSC_CODECS.items()}
    if cname not in _ARROW_CODEC:
        raise NotImplementedError(f"unsupported blosc cname {cname!r}")
    codec = Codec(_ARROW_CODEC[cname])
    bitshuffle = shuffle == "bit"
    byteshuffle = bool(shuffle) and not bitshuffle
    nbytes = len(data)
    blocksize = blocksize or max(typesize, nbytes) or 1
    nblocks = max(1, math.ceil(nbytes / blocksize))
    # c-blosc's frame-level split decision (blosc.c:split_block,
    # FORWARD_COMPAT mode): blosclz/lz4 AND lanes big enough. The
    # header flag records the decision; blosc_c's per-block nsplits
    # additionally excludes the leftover block (never the shuffle
    # filter — unshuffled split frames are legal and real).
    would_split = (cname in ("lz4", "blosclz")
                   and 1 < typesize <= _BLOSC_MAX_SPLITS
                   and blocksize // typesize >= _BLOSC_MIN_BUFFERSIZE
                   # full blocks must divide into typesize equal lanes —
                   # c-blosc pads blocksize to a typesize multiple;
                   # guarded here for arbitrary buffers
                   and blocksize % typesize == 0)
    flags = (rev[cname] << 5) \
        | (_BLOSC_DOSHUFFLE if byteshuffle else 0) \
        | (_BLOSC_DOBITSHUFFLE if bitshuffle else 0) \
        | (0 if would_split else _BLOSC_DONT_SPLIT)

    blocks = []
    for b in range(nblocks):
        chunk = data[b * blocksize:(b + 1) * blocksize]
        if bitshuffle:
            chunk = _bit_shuffle(chunk, typesize)
        elif byteshuffle:
            chunk = _shuffle(chunk, typesize)
        leftover = b == nblocks - 1 and len(chunk) != blocksize
        nsplits = typesize if (would_split and not leftover) else 1
        neblock = len(chunk) // nsplits
        streams = []
        for s in range(nsplits):
            lane = chunk[s * neblock:(s + 1) * neblock]
            comp = bytes(codec.compress(lane))
            if len(comp) >= len(lane):
                comp = lane          # store incompressible stream raw
            # per-stream int32 csize prefix, as real c-blosc readers expect
            streams.append(struct.pack("<i", len(comp)) + comp)
        blocks.append(b"".join(streams))
    header_len = 16 + 4 * nblocks
    starts, off = [], header_len
    for blk in blocks:
        starts.append(off)
        off += len(blk)
    frame = bytearray()
    frame += bytes([2, 1, flags, typesize])
    frame += struct.pack("<III", nbytes, blocksize, off)
    frame += struct.pack(f"<{nblocks}i", *starts)
    for blk in blocks:
        frame += blk
    return bytes(frame)


def _decode_chunk(raw: bytes, compressor: dict | None,
                  dtype: np.dtype, chunk_shape: tuple[int, ...],
                  order: str, transpose: list[int] | None = None
                  ) -> np.ndarray:
    cid = (compressor or {}).get("id")
    if compressor is None:
        buf = raw
    elif cid == "blosc":
        buf = blosc_decompress(raw)
    elif cid in ("zlib", "gzip"):
        import zlib
        buf = zlib.decompress(raw, 47)  # auto-detect zlib/gzip wrapper
    elif cid == "zstd":
        # raw numcodecs Zstd stream — the reference's _get_compressor
        # default (it only falls back to Blosc when zstd is missing)
        from pyarrow import Codec
        dsize = int(np.prod(chunk_shape)) * dtype.itemsize
        buf = Codec("zstd").decompress(raw, dsize)
    elif cid == "lz4":
        # numcodecs LZ4: uint32 original-size prefix + LZ4 block stream
        from pyarrow import Codec
        (dsize,) = struct.unpack_from("<I", raw, 0)
        buf = Codec("lz4_raw").decompress(raw[4:], dsize)
    else:
        raise NotImplementedError(f"compressor {cid!r} not supported")
    arr = np.frombuffer(buf, dtype=dtype)
    if transpose is not None:
        # v3 transpose codec: bytes hold the chunk with axes permuted
        # to ``transpose``; reshape to the STORED shape, then invert
        stored = tuple(chunk_shape[t] for t in transpose)
        inv = np.argsort(transpose)
        return arr.reshape(stored, order=order).transpose(inv)
    return arr.reshape(chunk_shape, order=order)


def _decode_shard(raw: bytes, za: dict, dtype: np.dtype,
                  shard_shape: tuple[int, ...], order: str) -> np.ndarray:
    """Decode one ``sharding_indexed`` shard object (zarr v3 spec): a
    binary index of (offset, nbytes) uint64-LE pairs — one per inner
    chunk, row-major over the shard's inner grid, (2⁶⁴−1, 2⁶⁴−1) for
    missing — at the start or end of the shard (plus a CRC-32C when
    the index chain includes it), each present inner chunk decoded
    with the INNER codec chain and placed at its grid offset. Missing
    inner chunks stay at fill_value."""
    sh = za["_shard"]
    inner = tuple(sh["inner_chunks"])
    grid = [math.ceil(c / i) for c, i in zip(shard_shape, inner)]
    n = int(np.prod(grid))
    idx_size = n * 16 + (4 if sh.get("index_crc") else 0)
    idx_raw = raw[-idx_size:] if sh.get("index_location", "end") == "end" \
        else raw[:idx_size]
    if sh.get("index_crc"):
        (stored,) = struct.unpack_from("<I", idx_raw, n * 16)
        if stored != crc32c(idx_raw[:n * 16]):
            raise ValueError("shard index CRC-32C mismatch")
    pairs = struct.unpack_from(f"<{2 * n}Q", idx_raw, 0)
    fill = _fill_for(za.get("fill_value"), dtype)
    out = np.full(shard_shape, fill, dtype=dtype)
    missing = (1 << 64) - 1
    for k, idx in enumerate(iproduct(*[range(g) for g in grid])):
        off, nbytes = pairs[2 * k], pairs[2 * k + 1]
        if off == missing:
            continue
        arr = _decode_chunk(raw[off:off + nbytes], sh.get("compressor"),
                            dtype, inner, order, sh.get("transpose"))
        sel = tuple(slice(i * c, min((i + 1) * c, s))
                    for i, c, s in zip(idx, inner, shard_shape))
        crop = tuple(slice(0, sl.stop - sl.start) for sl in sel)
        out[sel] = arr[crop]
    return out


def _decode_chunk_file(raw: bytes, za: dict, dtype: np.dtype,
                       chunks: tuple[int, ...], order: str) -> np.ndarray:
    """One stored object → one (outer) chunk array, for both plain
    chunks and v3 shards."""
    if "_shard" in za:
        return _decode_shard(raw, za, dtype, chunks, order)
    return _decode_chunk(raw, za.get("compressor"), dtype, chunks, order,
                         za.get("_transpose"))


def _fill_for(fill, dtype: np.dtype):
    """Zarr v2 ``fill_value: null`` (or an HDF5 variable without
    ``_FillValue``) → NaN for floats, 0 for other dtypes (zarr's
    conventional default; NaN would crash an int full)."""
    if fill is not None:
        return fill
    return np.nan if dtype.kind == "f" else 0


# zarr v3 data_type names → numpy dtype strings (little-endian base;
# the bytes codec's endian flips it)
_V3_DTYPES = {
    "bool": "|b1", "int8": "|i1", "uint8": "|u1",
    "int16": "<i2", "uint16": "<u2", "int32": "<i4", "uint32": "<u4",
    "int64": "<i8", "uint64": "<u8", "float32": "<f4", "float64": "<f8",
}


_CRC32C_TABLE = None


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli, reflected poly 0x82F63B78) — the checksum
    zarr v3's default shard index codec chain appends; table-driven,
    stdlib-only (zlib.crc32 is the OTHER polynomial)."""
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        tbl = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            tbl.append(c)
        _CRC32C_TABLE = tbl
    crc = 0xFFFFFFFF
    for byte in data:
        crc = _CRC32C_TABLE[(crc ^ byte) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _v3_codec_chain(codecs: list, allow_sharding: bool = True):
    """→ (endian, compressor-dict | None, shard-config | None,
    transpose-order | None) from a v3 codec chain; shared by the array
    node and the sharding codec's inner chain (where nested sharding
    is refused). ``transpose`` codecs (array→array axis permutations)
    compose left-to-right into one stored-axis order."""
    endian = "little"
    compressor = None
    shard = None
    transpose = None
    for c in codecs or []:
        nm = c.get("name")
        cfg = c.get("configuration") or {}
        if nm == "transpose":
            order = list(cfg.get("order") or [])
            if sorted(order) != list(range(len(order))):
                raise ValueError(f"transpose order {order} is not a "
                                 "permutation")
            # composing T1 then T2: encoded axis j reads source axis
            # T1[T2[j]]
            transpose = order if transpose is None \
                else [transpose[j] for j in order]
        elif nm == "bytes":
            endian = cfg.get("endian", "little")
        elif nm == "blosc":
            # frames self-describe cname/shuffle; config needed only to write
            compressor = {"id": "blosc", **cfg}
        elif nm == "zstd":
            compressor = {"id": "zstd", "level": cfg.get("level", 0)}
        elif nm == "gzip":
            compressor = {"id": "gzip", "level": cfg.get("level", 6)}
        elif nm == "sharding_indexed":
            if not allow_sharding:
                raise NotImplementedError(
                    "nested sharding_indexed codecs not supported")
            if transpose is not None:
                raise NotImplementedError(
                    "transpose codec OUTSIDE a sharding_indexed codec "
                    "(an axis-permuted shard grid) not supported — "
                    "put the transpose in the inner chain")
            i_end, i_comp, _, i_tr = _v3_codec_chain(
                cfg.get("codecs"), allow_sharding=False)
            index_names = [ic.get("name")
                           for ic in cfg.get("index_codecs") or []]
            for n in index_names:
                if n not in ("bytes", "crc32c"):
                    raise NotImplementedError(
                        f"shard index codec {n!r} not supported")
            shard = {"inner_chunks": list(cfg["chunk_shape"]),
                     "compressor": i_comp, "endian": i_end,
                     "transpose": i_tr,
                     "index_location": cfg.get("index_location", "end"),
                     "index_crc": "crc32c" in index_names}
        else:
            raise NotImplementedError(
                f"zarr v3 codec {nm!r} not supported (supported: bytes, "
                f"transpose, blosc, zstd, gzip, sharding_indexed)")
    return endian, compressor, shard, transpose


def _v3_to_v2_meta(node: dict) -> dict:
    """Normalize a zarr v3 array node (``zarr.json``) to the v2-shaped
    metadata dict the rest of this module consumes — one read path for
    both format versions. ``sharding_indexed`` is translated to a
    ``_shard`` sidecar on the v2 dict: the outer chunk grid addresses
    SHARD objects, each holding an inner-chunk grid + binary index
    (decoded by `_decode_shard`); ``transpose`` codecs become a
    ``_transpose`` stored-axis order applied per chunk. Unsupported v3
    codecs (nested sharding, ...) raise with a clear message."""
    endian, compressor, shard, transpose = _v3_codec_chain(
        node.get("codecs"))
    if shard is not None:
        # a sharded array's byte order comes from the INNER chain's
        # bytes codec (the outer chain is just the sharding codec) —
        # using the outer default silently byte-swaps big-endian data
        endian = shard["endian"]
    dt = _V3_DTYPES.get(node["data_type"])
    if dt is None:
        raise NotImplementedError(
            f"zarr v3 data_type {node['data_type']!r} not supported")
    if endian == "big" and dt[0] == "<":
        dt = ">" + dt[1:]
    cke = node.get("chunk_key_encoding") or {}
    fill = node.get("fill_value")
    if fill in ("NaN", "Infinity", "-Infinity"):
        fill = float(fill)
    za = {
        "shape": list(node["shape"]),
        "chunks": list(node["chunk_grid"]["configuration"]["chunk_shape"]),
        "dtype": dt, "order": "C", "fill_value": fill,
        "compressor": compressor,
        "dimension_separator": (cke.get("configuration") or {})
        .get("separator", "/"),
        "_v3": True, "_key_encoding": cke.get("name", "default"),
    }
    if shard is not None:
        za["_shard"] = shard
    if transpose is not None:
        za["_transpose"] = transpose
    attrs = dict(node.get("attributes") or {})
    if node.get("dimension_names"):
        attrs["_ARRAY_DIMENSIONS"] = list(node["dimension_names"])
    return {"zarray": za, "attrs": attrs}


def _chunk_path(path: str, name: str, za: dict, idx: tuple) -> str:
    """Chunk file path for either format version: v2 keys are
    ``sep.join(idx)``; v3 default encoding prefixes ``c``."""
    sep = za.get("dimension_separator", ".")
    if za.get("_v3") and za.get("_key_encoding", "default") != "v2":
        key = "c" + (sep + sep.join(map(str, idx)) if idx else "")
    else:
        key = sep.join(map(str, idx)) or "0"
    return os.path.join(path, name, key)


def open_zarr_store(path: str) -> dict[str, dict]:
    """Array name → metadata (``.zarray`` + ``attrs``). Uses consolidated
    ``.zmetadata`` when present, else walks the directory. Zarr v3
    stores (root ``zarr.json`` group — what zarr-python ≥ 3 writes by
    default) are detected and normalized to the same shape."""
    meta: dict[str, dict] = {}
    v3root = os.path.join(path, "zarr.json")
    if os.path.exists(v3root):
        with open(v3root) as fh:
            root = json.load(fh)
        if root.get("node_type") == "array":
            raise ValueError(
                "path is a single zarr v3 array, not a group store; "
                "point at the containing group")
        for entry in sorted(os.listdir(path)):
            aj = os.path.join(path, entry, "zarr.json")
            if os.path.isfile(aj):
                with open(aj) as fh:
                    node = json.load(fh)
                if node.get("node_type") == "array":
                    meta[entry] = _v3_to_v2_meta(node)
        if not meta:
            raise ValueError(f"no zarr v3 arrays under {path}")
        return meta
    zmeta = os.path.join(path, ".zmetadata")
    if os.path.exists(zmeta):
        with open(zmeta) as fh:
            entries = json.load(fh)["metadata"]
        for key, val in entries.items():
            if key.endswith("/.zarray"):
                name = key[: -len("/.zarray")]
                meta.setdefault(name, {})["zarray"] = val
            elif key.endswith("/.zattrs"):
                name = key[: -len("/.zattrs")]
                meta.setdefault(name, {})["attrs"] = val
        return {n: m for n, m in meta.items() if "zarray" in m}
    for entry in sorted(os.listdir(path)):
        za = os.path.join(path, entry, ".zarray")
        if os.path.isfile(za):
            with open(za) as fh:
                meta[entry] = {"zarray": json.load(fh)}
            attrs = os.path.join(path, entry, ".zattrs")
            if os.path.isfile(attrs):
                with open(attrs) as fh:
                    meta[entry]["attrs"] = json.load(fh)
    if not meta:
        raise ValueError(f"no zarr arrays under {path}")
    return meta


def _chunk_grid(shape, chunks):
    return [math.ceil(s / c) for s, c in zip(shape, chunks)]


def _read_chunk(path: str, name: str, za: dict, idx: tuple) -> np.ndarray:
    """Chunk ``idx`` of array ``name`` at full chunk shape, decoded, or
    ``fill_value`` everywhere when the chunk was never written — the
    chunk read of `read_zarr_array` and the chunk-per-task reader."""
    dtype = np.dtype(za["dtype"])
    chunks = tuple(za["chunks"])
    fname = _chunk_path(path, name, za, idx)
    if not os.path.exists(fname):
        return np.full(chunks, _fill_for(za.get("fill_value"), dtype),
                       dtype=dtype)
    with open(fname, "rb") as fh:
        return _decode_chunk_file(fh.read(), za, dtype, chunks,
                                  za.get("order", "C"))


def read_zarr_array(path: str, name: str, meta: dict) -> np.ndarray:
    """Materialize one array: decode every chunk file, crop edge chunks,
    fill missing chunks with fill_value."""
    za = meta["zarray"]
    shape, chunks = za["shape"], za["chunks"]
    out = np.empty(shape, dtype=np.dtype(za["dtype"]))
    for idx in iproduct(*[range(n) for n in _chunk_grid(shape, chunks)]):
        sel = tuple(slice(i * c, min((i + 1) * c, s))
                    for i, c, s in zip(idx, chunks, shape))
        crop = tuple(slice(0, sl.stop - sl.start) for sl in sel)
        out[sel] = _read_chunk(path, name, za, idx)[crop]
    return out


def write_zarr(path: str, dims: dict[str, np.ndarray],
               variables: dict[str, tuple[list[str], np.ndarray, dict]],
               chunks: dict[str, list[int]] | None = None,
               cname: str = "zstd", shuffle: bool = True,
               attrs: dict | None = None,
               compressor_id: str = "blosc") -> str:
    """Write an xarray-convention Zarr v2 store (coordinates as 1-D
    arrays, ``_ARRAY_DIMENSIONS`` attrs, consolidated metadata).
    ``compressor_id='blosc'`` wraps chunks in Blosc frames (the
    reference's Blosc fallback, `ingest/arco_converter.py:110-160`);
    ``'zstd'`` writes raw numcodecs-Zstd streams (the reference's
    primary default from its ``_get_compressor``)."""
    if compressor_id not in ("blosc", "zstd", None):
        raise ValueError(f"unsupported compressor_id {compressor_id!r}")
    os.makedirs(path, exist_ok=True)
    consolidated: dict[str, dict] = {".zgroup": {"zarr_format": 2},
                                     ".zattrs": attrs or {}}

    def put(name, vdims, arr, vattrs, chunk=None):
        adir = os.path.join(path, name)
        os.makedirs(adir, exist_ok=True)
        chunk = list(chunk or arr.shape or [1])
        fill = float("nan") if arr.dtype.kind == "f" else 0
        if compressor_id == "blosc":
            comp_meta = {"id": "blosc", "cname": cname, "clevel": 3,
                         "shuffle": 1 if shuffle else 0}
        elif compressor_id == "zstd":
            comp_meta = {"id": "zstd", "level": 3}
        else:
            comp_meta = None
        zarray = {"zarr_format": 2, "shape": list(arr.shape),
                  "chunks": chunk, "dtype": arr.dtype.str,
                  "compressor": comp_meta,
                  "fill_value": fill if arr.dtype.kind == "f" else 0,
                  "filters": None, "order": "C"}
        zattrs = dict(vattrs)
        zattrs["_ARRAY_DIMENSIONS"] = list(vdims)
        with open(os.path.join(adir, ".zarray"), "w") as fh:
            json.dump(zarray, fh)
        with open(os.path.join(adir, ".zattrs"), "w") as fh:
            json.dump(zattrs, fh)
        consolidated[f"{name}/.zarray"] = zarray
        consolidated[f"{name}/.zattrs"] = zattrs
        for idx in iproduct(*[range(n) for n in
                              _chunk_grid(arr.shape, chunk)]):
            sel = tuple(slice(i * c, min((i + 1) * c, s))
                        for i, c, s in zip(idx, chunk, arr.shape))
            block = np.zeros(chunk, dtype=arr.dtype)
            piece = arr[sel]
            block[tuple(slice(0, p) for p in piece.shape)] = piece
            payload = np.ascontiguousarray(block).tobytes()
            if compressor_id == "blosc":
                frame = blosc_compress(payload, arr.dtype.itemsize,
                                       cname=cname, shuffle=shuffle)
            elif compressor_id == "zstd":
                from pyarrow import Codec
                frame = bytes(Codec("zstd").compress(payload))
            else:
                frame = payload
            with open(os.path.join(adir, ".".join(map(str, idx)) or "0"),
                      "wb") as fh:
                fh.write(frame)

    for d, vals in dims.items():
        put(d, [d], np.asarray(vals), {})
    for name, (vdims, arr, vattrs) in variables.items():
        put(name, vdims, arr, vattrs, (chunks or {}).get(name))

    with open(os.path.join(path, ".zgroup"), "w") as fh:
        json.dump({"zarr_format": 2}, fh)
    with open(os.path.join(path, ".zattrs"), "w") as fh:
        json.dump(attrs or {}, fh)
    with open(os.path.join(path, ".zmetadata"), "w") as fh:
        json.dump({"zarr_format": 2, "metadata": consolidated}, fh)
    return path


def zarr_info(path: str) -> dict:
    """Store stats — the reference's `get_zarr_info`
    (`ingest/arco_converter.py:214-246`): per-array shape, chunks,
    dtype, compressor, stored bytes."""
    meta = open_zarr_store(path)
    out = {"path": path, "arrays": {}}
    total = 0
    for name, m in meta.items():
        za = m["zarray"]
        adir = os.path.join(path, name)
        # walk: v3 (and v2 with '/' separators) nest chunks in
        # subdirectories — a flat listdir would count directory inodes
        # and metadata instead of chunk bytes
        nbytes = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, files in os.walk(adir)
            for f in files if not f.startswith(".") and f != "zarr.json")
        total += nbytes
        out["arrays"][name] = {
            "shape": za["shape"], "chunks": za["chunks"],
            "dtype": za["dtype"],
            "compressor": (za.get("compressor") or {}).get("id"),
            "stored_bytes": nbytes,
        }
    out["total_stored_bytes"] = total
    return out


def _store_model(path: str, variables=None):
    """The xarray reading of a store's metadata, shared by
    `_grid_from_store` and the chunk-per-task reader → (metadata, data
    variable names, dim_order, coordinates with CF time decoded,
    detected dims) — the Zarr counterpart of `hdf5._netcdf_model`.
    Arrays whose ``_ARRAY_DIMENSIONS`` name only themselves are the
    coordinates. Decodes only those small 1-D arrays, never a data
    variable, so it is safe to call driver-side on a multi-TB store."""
    from .netcdf import detect_dims
    from .netcdf3 import decode_cf_time

    meta = open_zarr_store(path)
    dim_like = {n for n, m in meta.items()
                if m.get("attrs", {}).get("_ARRAY_DIMENSIONS") == [n]}
    data_names = [n for n in meta if n not in dim_like]
    if variables:
        missing = [v for v in variables if v not in data_names]
        if missing:
            raise ValueError(f"variables not found: {missing}")
        data_names = list(variables)
    if not data_names:
        raise ValueError("no data variables in store")
    ref = meta[data_names[0]]
    dim_order = ref["attrs"]["_ARRAY_DIMENSIONS"]
    coords = {}
    for d, size in zip(dim_order, ref["zarray"]["shape"]):
        if d in meta:
            vals = read_zarr_array(path, d, meta[d])
            units = meta[d].get("attrs", {}).get("units", "")
            if isinstance(units, str) and " since " in units:
                vals = decode_cf_time(vals, units)
            coords[d] = vals
        else:
            coords[d] = np.arange(size)
    dims = detect_dims(dim_order, {d: str(coords[d].dtype)
                                   for d in dim_order})
    return meta, data_names, dim_order, coords, dims


def _grid_from_store(path: str, variables=None, time_range=None):
    """Store → (coords, arrays, dim_order, detected dims) with CF time
    decode and read-time slicing — mirrors `netcdf._grid_from_nc3`."""
    from .netcdf import slice_time

    meta, data_names, dim_order, coords, dims = _store_model(path, variables)
    arrays = {n: read_zarr_array(path, n, meta[n]) for n in data_names}
    coords, arrays = slice_time(coords, arrays, dim_order, dims, time_range)
    return coords, arrays, dim_order, dims


def read_zarr_long(spark, path: str, variables=None, time_range=None,
                   bbox=None):
    """Open a Zarr v2 / ARCO store into the long row model — the
    engine-side `open_zarr` (`ingest/arco_converter.py:198-211`) with
    read-time projection/predicates."""
    from .netcdf import grid_to_long

    coords, arrays, dim_order, dims = _grid_from_store(
        path, variables, time_range)
    df = grid_to_long(spark, coords, arrays, dim_order=dim_order)
    if bbox and dims["lat"] and dims["lon"]:
        from .io import bbox_filter
        df = bbox_filter(df, dims["lat"], dims["lon"], bbox)
    return df


def read_zarr_long_distributed(spark, path: str, variables=None,
                               time_range=None, bbox=None):
    """Chunk ↔ task: every store chunk becomes one Spark task that
    decodes its own compressed bytes executor-side — the Spark shape of
    the reference's Dask chunk graph, horizontal scale without a
    central decode step. Requires all data variables to share one chunk
    grid (the layout the reference's converter produces).

    The tasks, the chunk-index pruning by ``time_range``/``bbox`` (the
    engine-side equivalent of xarray's lazy chunk selection,
    `ingest/netcdf_reader.py:67-75` narrowing the Dask graph) and the
    row filters are `netcdf.chunk_tasks_long`'s, so the rows equal
    `read_zarr_long`'s by construction."""
    from .netcdf import chunk_tasks_long

    # coords only — decoding a full data variable driver-side would
    # defeat this function's no-central-decode contract
    meta, data_names, dim_order, coords, dims = _store_model(path, variables)
    za0 = meta[data_names[0]]["zarray"]
    for n in data_names[1:]:
        if meta[n]["zarray"]["chunks"] != za0["chunks"] \
                or meta[n]["zarray"]["shape"] != za0["shape"]:
            raise ValueError("data variables must share one chunk grid")
    chunks = tuple(za0["chunks"])
    zarrays = {n: meta[n]["zarray"] for n in data_names}

    def decode(offsets):
        for offs in offsets:
            idx = tuple(o // c for o, c in zip(offs, chunks))
            yield {n: _read_chunk(path, n, za, idx)
                   for n, za in zarrays.items()}

    return chunk_tasks_long(
        spark, coords, dim_order, dims, za0["shape"], chunks,
        {n: np.dtype(za["dtype"]) for n, za in zarrays.items()}, decode,
        time_range, bbox)[0]


_V3_DTYPE_NAMES = {v: k for k, v in _V3_DTYPES.items()}


def write_zarr3(path: str, dims: dict[str, np.ndarray],
                variables: dict[str, tuple[list[str], np.ndarray, dict]],
                chunks: dict[str, list[int]] | None = None,
                codec: str = "zstd",
                attrs: dict | None = None,
                shards: dict[str, list[int]] | None = None,
                transpose: dict[str, list[int]] | None = None) -> str:
    """Write a Zarr v3 group store (what zarr-python ≥ 3 / new xarray
    write by default): root ``zarr.json`` group, per-array ``zarr.json``
    with bytes+compression codec chain, default ``c/``-prefixed chunk
    keys, ``dimension_names`` carrying the xarray dimension mapping.
    ``codec`` ∈ zstd | gzip | blosc | none. Primarily the fixture/export
    twin of the v3 read path; chunking semantics mirror `write_zarr`.

    ``transpose``: per-variable axis order arming the v3 ``transpose``
    codec — chunks are stored with their axes permuted to that order
    (F-order storage for 2-D arrays is ``[1, 0]``); composes with
    sharding (the transpose rides in the inner chain, per the spec's
    array→array placement).

    ``shards``: per-variable SHARD shape enabling the
    ``sharding_indexed`` codec (zarr-python 3's shards=...): the chunk
    grid then addresses shard objects of that shape, each holding the
    variable's ``chunks`` as inner chunks plus the spec's binary index
    ((offset, nbytes) uint64-LE per inner chunk, CRC-32C-checksummed,
    index at the end). The shard shape must be a multiple of the chunk
    shape, per the spec."""
    import gzip as _gzip

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "zarr.json"), "w") as fh:
        json.dump({"zarr_format": 3, "node_type": "group",
                   "attributes": attrs or {}}, fh)

    def codec_chain(tr: list[int] | None):
        chain = []
        if tr is not None:
            chain.append({"name": "transpose",
                          "configuration": {"order": list(tr)}})
        chain.append({"name": "bytes",
                      "configuration": {"endian": "little"}})
        if codec == "zstd":
            chain.append({"name": "zstd", "configuration": {"level": 3}})
        elif codec == "gzip":
            chain.append({"name": "gzip", "configuration": {"level": 6}})
        elif codec == "blosc":
            chain.append({"name": "blosc", "configuration": {
                "cname": "zstd", "clevel": 3, "shuffle": "shuffle"}})
        elif codec != "none":
            raise ValueError(f"unknown codec {codec!r}")
        return chain

    def compress(buf: bytes, typesize: int) -> bytes:
        if codec == "zstd":
            from pyarrow import Codec
            return Codec("zstd", 3).compress(buf, asbytes=True)
        if codec == "gzip":
            return _gzip.compress(buf, 6)
        if codec == "blosc":
            return blosc_compress(buf, typesize, cname="zstd", shuffle=True)
        return buf

    def write_array(name: str, arr: np.ndarray, dim_names: list[str],
                    a_attrs: dict, chunk_shape: list[int],
                    shard_shape: list[int] | None = None) -> None:
        arr = np.ascontiguousarray(arr)
        le = arr.astype(arr.dtype.newbyteorder("<"), copy=False)
        canon = le.dtype.str
        if canon[0] in "=>":
            canon = "<" + canon[1:]
        dt_name = _V3_DTYPE_NAMES.get(canon)
        if dt_name is None:
            raise NotImplementedError(
                f"dtype {arr.dtype} not supported by the v3 writer")
        fill = float("nan") if arr.dtype.kind == "f" else 0
        tr = (transpose or {}).get(name)
        if tr is not None and sorted(tr) != list(range(arr.ndim)):
            raise ValueError(f"transpose order {tr} is not a "
                             f"permutation of rank {arr.ndim}")
        codecs = codec_chain(tr)
        outer = list(shard_shape) if shard_shape else list(chunk_shape)
        if shard_shape:
            if any(s % c for s, c in zip(shard_shape, chunk_shape)):
                raise ValueError(
                    f"shard shape {shard_shape} must be a multiple of "
                    f"the chunk shape {chunk_shape}")
            codecs = [{"name": "sharding_indexed", "configuration": {
                "chunk_shape": list(chunk_shape), "codecs": codecs,
                "index_codecs": [
                    {"name": "bytes",
                     "configuration": {"endian": "little"}},
                    {"name": "crc32c"}],
                "index_location": "end"}}]
        node = {
            "zarr_format": 3, "node_type": "array",
            "shape": list(arr.shape), "data_type": dt_name,
            "chunk_grid": {"name": "regular",
                           "configuration": {"chunk_shape": outer}},
            "chunk_key_encoding": {"name": "default",
                                   "configuration": {"separator": "/"}},
            "fill_value": ("NaN" if arr.dtype.kind == "f" and fill != fill
                           else fill),
            "codecs": codecs,
            "dimension_names": dim_names,
            "attributes": a_attrs,
        }
        adir = os.path.join(path, name)
        os.makedirs(adir, exist_ok=True)
        with open(os.path.join(adir, "zarr.json"), "w") as fh:
            json.dump(node, fh)
        np_fill = (np.nan if isinstance(node["fill_value"], str)
                   else node["fill_value"])

        def chunk_blob(block_sel) -> bytes:
            """Compressed bytes of one chunk_shape-sized block."""
            block = np.full(chunk_shape, np_fill, dtype=le.dtype)
            piece = le[block_sel]
            block[tuple(slice(0, p) for p in piece.shape)] = piece
            if tr is not None:
                block = np.ascontiguousarray(block.transpose(tr))
            return compress(block.tobytes(), le.dtype.itemsize)

        grid = _chunk_grid(arr.shape, outer)
        for idx in iproduct(*[range(n) for n in grid]):
            key = "c" + ("/" + "/".join(map(str, idx)) if idx else "")
            fname = os.path.join(adir, key)
            os.makedirs(os.path.dirname(fname), exist_ok=True)
            base = [i * o for i, o in zip(idx, outer)]
            if not shard_shape:
                sel = tuple(slice(b, min(b + c, s)) for b, c, s
                            in zip(base, chunk_shape, arr.shape))
                with open(fname, "wb") as fh:
                    fh.write(chunk_blob(sel))
                continue
            # shard object: inner chunks back-to-back + (offset,
            # nbytes) index + CRC-32C, index at the end (spec default)
            igrid = [math.ceil(o / c) for o, c in zip(outer, chunk_shape)]
            blobs, index = [], []
            off = 0
            missing = (1 << 64) - 1
            for iidx in iproduct(*[range(g) for g in igrid]):
                start = [b + i * c for b, i, c
                         in zip(base, iidx, chunk_shape)]
                if any(st >= s for st, s in zip(start, arr.shape)):
                    index.append((missing, missing))  # edge: no data
                    continue
                sel = tuple(slice(st, min(st + c, s)) for st, c, s
                            in zip(start, chunk_shape, arr.shape))
                blob = chunk_blob(sel)
                blobs.append(blob)
                index.append((off, len(blob)))
                off += len(blob)
            idx_raw = b"".join(struct.pack("<QQ", o, n)
                               for o, n in index)
            with open(fname, "wb") as fh:
                fh.write(b"".join(blobs) + idx_raw
                         + struct.pack("<I", crc32c(idx_raw)))

    for dname, dvals in dims.items():
        dvals = np.asarray(dvals)
        d_attrs = {}
        if np.issubdtype(dvals.dtype, np.datetime64):
            # CF-encode at a resolution that divides every offset exactly
            epoch = dvals.min()
            off_ns = ((dvals - epoch).astype("timedelta64[ns]")
                      .astype(np.int64))
            if not (off_ns % 1_000_000_000).any():
                unit, div = "seconds", 1_000_000_000
            elif not (off_ns % 1_000).any():
                unit, div = "microseconds", 1_000
            else:
                # CF's finest unit here is microseconds — flooring
                # sub-µs offsets would silently collapse distinct
                # timestamps (same contract as netcdf._long_to_grid)
                raise ValueError(
                    "time coordinates carry sub-microsecond offsets; "
                    "CF encoding would lose precision")
            eu = ("s" if epoch == epoch.astype("datetime64[s]")
                  .astype(epoch.dtype) else "us")
            d_attrs["units"] = (
                f"{unit} since "
                f"{np.datetime_as_string(epoch, unit=eu).replace('T', ' ')}")
            dvals = off_ns // div
        write_array(dname, dvals, [dname], d_attrs, [len(dvals) or 1])
    for vname, (dim_names, arr, v_attrs) in variables.items():
        cshape = list((chunks or {}).get(vname, list(np.asarray(arr).shape)))
        sshape = (shards or {}).get(vname)
        write_array(vname, np.asarray(arr), list(dim_names),
                    dict(v_attrs or {}), cshape,
                    shard_shape=list(sshape) if sshape else None)
    return path
