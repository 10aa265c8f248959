"""EXIF metadata extraction — pure struct parsing over the TIFF IFD
machinery (``operators/tiff.py``): the metadata-without-decode
operator a web-scale media curation pipeline filters on (orientation
fixing, camera/source attribution, timestamp bucketing, GPS
geofencing) before paying for a single pixel. Written against the
public EXIF 2.3 / JEITA CP-3451 layout: an APP1 ``Exif\\0\\0``
segment carrying a full TIFF structure (both byte orders occur in
the wild — "II" Intel and "MM" Motorola), IFD0 with pointer tags to
the Exif sub-IFD (0x8769) and the GPS IFD (0x8825), ASCII and
RATIONAL value types.

The builder exists for synthesis (``build_exif_jpeg`` inserts a real
APP1 segment into a real JPEG): genuine IFD layouts with
out-of-line values, so the extractor is exercised against properly
offset-chained structures in both byte orders, and a SQL oracle can
re-derive every field from the row id.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._kernel import row_stage
from .tiff import read_ifd_at

TAG_ORIENTATION = 0x0112
TAG_MAKE = 0x010F
TAG_MODEL = 0x0110
TAG_DATETIME = 0x0132
TAG_EXIF_IFD = 0x8769
TAG_GPS_IFD = 0x8825
TAG_ISO = 0x8827
TAG_EXPOSURE = 0x829A
TAG_DT_ORIGINAL = 0x9003
TAG_PIXEL_X = 0xA002
TAG_PIXEL_Y = 0xA003
GPS_LAT_REF, GPS_LAT = 0x0001, 0x0002
GPS_LON_REF, GPS_LON = 0x0003, 0x0004


def _ascii(v) -> str | None:
    if v is None:
        return None
    _typ, payload = v
    if isinstance(payload, tuple):
        return None
    return payload.rstrip(b"\x00").decode("ascii", "replace")


def _rationals(v, bo: str) -> list[tuple[int, int]] | None:
    if v is None or not isinstance(v[1], bytes):
        return None
    raw = v[1]
    return [struct.unpack_from(bo + "II", raw, 8 * i)
            for i in range(len(raw) // 8)]


def _first(v):
    if v is None:
        return None
    _typ, vals = v
    return vals[0] if isinstance(vals, tuple) and vals else None


def parse_exif_tiff(data: bytes) -> dict:
    """Parse the TIFF-structured EXIF body (the bytes after the APP1
    ``Exif\\0\\0`` preamble) into a flat field dict."""
    if data[:2] not in (b"II", b"MM"):
        raise ValueError("EXIF body without II/MM byte order")
    bo = "<" if data[:2] == b"II" else ">"
    (magic,) = struct.unpack_from(bo + "H", data, 2)
    if magic != 42:
        raise ValueError(f"EXIF body with TIFF magic {magic}")
    (ifd0_off,) = struct.unpack_from(bo + "I", data, 4)
    ifd0 = read_ifd_at(data, bo, ifd0_off)
    out: dict = {
        "byte_order": "II" if bo == "<" else "MM",
        "orientation": _first(ifd0.get(TAG_ORIENTATION)),
        "make": _ascii(ifd0.get(TAG_MAKE)),
        "model": _ascii(ifd0.get(TAG_MODEL)),
        "datetime": _ascii(ifd0.get(TAG_DATETIME)),
        "iso": None, "exposure_num": None, "exposure_den": None,
        "pixel_x": None, "pixel_y": None,
        "lat": None, "lon": None,
    }
    exif_off = _first(ifd0.get(TAG_EXIF_IFD))
    if exif_off is not None:
        sub = read_ifd_at(data, bo, exif_off)
        out["iso"] = _first(sub.get(TAG_ISO))
        exp = _rationals(sub.get(TAG_EXPOSURE), bo)
        if exp:
            out["exposure_num"], out["exposure_den"] = exp[0]
        out["pixel_x"] = _first(sub.get(TAG_PIXEL_X))
        out["pixel_y"] = _first(sub.get(TAG_PIXEL_Y))
        dto = _ascii(sub.get(TAG_DT_ORIGINAL))
        if dto:
            out["datetime"] = dto
    gps_off = _first(ifd0.get(TAG_GPS_IFD))
    if gps_off is not None:
        gps = read_ifd_at(data, bo, gps_off)
        for key, ref_tag, val_tag in (("lat", GPS_LAT_REF, GPS_LAT),
                                      ("lon", GPS_LON_REF, GPS_LON)):
            ref = _ascii(gps.get(ref_tag))
            dms = _rationals(gps.get(val_tag), bo)
            if ref and dms and len(dms) == 3:
                (dn, dd), (mn, md), (sn, sd) = dms
                deg = dn / dd + (mn / md) / 60.0 + (sn / sd) / 3600.0
                out[key] = -deg if ref in ("S", "W") else deg
    return out


def parse_jpeg_exif(jpeg: bytes) -> dict | None:
    """Walk the JPEG marker stream for an APP1 ``Exif\\0\\0`` segment;
    returns the parsed fields or None when no EXIF is present."""
    if jpeg[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    while pos + 2 <= len(jpeg):
        if jpeg[pos] != 0xFF:
            raise ValueError("JPEG marker stream desynchronized")
        # optional 0xFF fill bytes are legal between segments (ITU
        # T.81 B.1.1.2) — skip runs before reading the marker byte
        while pos + 1 < len(jpeg) and jpeg[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(jpeg):
            return None
        marker = jpeg[pos + 1]
        if marker == 0xD9 or marker == 0xDA:     # EOI / start of scan
            return None
        # length-less standalone markers (TEM 0x01, RST 0xD0-0xD7)
        # carry no segment-length field
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if pos + 4 > len(jpeg):
            return None
        (seg_len,) = struct.unpack_from(">H", jpeg, pos + 2)
        body = jpeg[pos + 4:pos + 2 + seg_len]
        if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
            return parse_exif_tiff(body[6:])
        pos += 2 + seg_len
    return None


# ---------------------------------------------------------------------------
# builder (synthesis / fixtures)
# ---------------------------------------------------------------------------

def _build_ifd(bo: str, entries: list[tuple[int, int, tuple | bytes]],
               base_off: int) -> tuple[bytes, bytes]:
    """Serialize one IFD at ``base_off`` (offset of its first byte
    within the TIFF body): returns (ifd_bytes, out_of_line_values)."""
    _SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}
    _FMT = {1: "B", 3: "H", 4: "I"}
    n = len(entries)
    extra = bytearray()
    extra_base = base_off + 2 + 12 * n + 4
    body = struct.pack(bo + "H", n)
    for tag, typ, vals in sorted(entries):
        if typ == 2:                    # ASCII with NUL
            payload = vals + b"\x00" if not vals.endswith(b"\x00") \
                else vals
            count = len(payload)
        elif typ == 5:                  # rationals
            payload = b"".join(struct.pack(bo + "II", a, b)
                               for a, b in vals)
            count = len(vals)
        else:
            payload = struct.pack(bo + _FMT[typ] * len(vals), *vals)
            count = len(vals)
        head = struct.pack(bo + "HHI", tag, typ, count)
        if len(payload) <= 4:
            body += head + payload.ljust(4, b"\x00")
        else:
            if len(extra) % 2:
                extra += b"\x00"
            body += head + struct.pack(bo + "I",
                                       extra_base + len(extra))
            extra += payload
    body += struct.pack(bo + "I", 0)    # next-IFD pointer
    return body, bytes(extra)


def build_exif_blob(fields: dict, big_endian: bool = False) -> bytes:
    """TIFF-structured EXIF body from a field dict (see
    ``parse_exif_tiff`` for the inverse)."""
    bo = ">" if big_endian else "<"
    # sizes are interdependent: lay out IFD0, Exif IFD, GPS IFD in
    # that order, computing offsets in two passes
    def render(exif_off: int, gps_off: int):
        ifd0_entries = [
            (TAG_ORIENTATION, 3, (fields["orientation"],)),
            (TAG_MAKE, 2, fields["make"].encode()),
            (TAG_MODEL, 2, fields["model"].encode()),
            (TAG_DATETIME, 2, fields["datetime"].encode()),
            (TAG_EXIF_IFD, 4, (exif_off,)),
            (TAG_GPS_IFD, 4, (gps_off,)),
        ]
        i0, x0 = _build_ifd(bo, ifd0_entries, 8)
        exif_at = 8 + len(i0) + len(x0)
        exif_entries = [
            (TAG_ISO, 3, (fields["iso"],)),
            (TAG_EXPOSURE, 5, [fields["exposure"]]),
            (TAG_DT_ORIGINAL, 2, fields["datetime"].encode()),
            (TAG_PIXEL_X, 4, (fields["pixel_x"],)),
            (TAG_PIXEL_Y, 4, (fields["pixel_y"],)),
        ]
        i1, x1 = _build_ifd(bo, exif_entries, exif_at)
        gps_at = exif_at + len(i1) + len(x1)
        gps_entries = [
            (GPS_LAT_REF, 2, fields["lat_ref"].encode()),
            (GPS_LAT, 5, list(fields["lat_dms"])),
            (GPS_LON_REF, 2, fields["lon_ref"].encode()),
            (GPS_LON, 5, list(fields["lon_dms"])),
        ]
        i2, x2 = _build_ifd(bo, gps_entries, gps_at)
        blob = ((b"MM" if big_endian else b"II")
                + struct.pack(bo + "HI", 42, 8)
                + i0 + x0 + i1 + x1 + i2 + x2)
        return blob, exif_at, gps_at

    _, exif_at, gps_at = render(0, 0)
    blob, e2, g2 = render(exif_at, gps_at)
    assert (e2, g2) == (exif_at, gps_at)
    return blob


def build_exif_jpeg(jpeg: bytes, fields: dict,
                    big_endian: bool = False) -> bytes:
    """Insert a real APP1 EXIF segment right after SOI."""
    if jpeg[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG payload (missing SOI)")
    body = b"Exif\x00\x00" + build_exif_blob(fields, big_endian)
    seg = b"\xFF\xE1" + struct.pack(">H", len(body) + 2) + body
    return jpeg[:2] + seg + jpeg[2:]


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

def exif_fields_for_id(i: int) -> dict:
    """The deterministic per-id EXIF fixture fields: orientation cycles
    1..8, ISO in camera stops, capture time walks a calendar, GPS covers
    all four hemisphere quadrants through degree/minute/second RATIONALS
    with a non-trivial denominator."""
    return {
        "orientation": 1 + i % 8,
        "make": f"Acme Imaging {i % 5}",
        "model": f"Model X{i % 13}",
        "datetime": (f"2023:{1 + i % 12:02d}:{1 + i % 28:02d} "
                     f"{i % 24:02d}:00:00"),
        "iso": 100 * (1 + i % 32),
        "exposure": (1, 1 + i % 2000),
        "pixel_x": 16, "pixel_y": 16,
        "lat_ref": "N" if i % 2 == 0 else "S",
        "lat_dms": ((i % 90, 1), (i % 60, 1), (i * 7 % 600, 10)),
        "lon_ref": "E" if i % 4 < 2 else "W",
        "lon_dms": ((i % 180, 1), (i * 3 % 60, 1),
                    (i * 11 % 600, 10)),
    }


def exif_jpeg_post(payload: bytes, i: int) -> bytes:
    """Per-payload EXIF insertion (every odd id BIG-endian "MM" — both
    wild byte orders in one corpus), shaped as a ``post=`` hook for
    ``multimodal.synthesize_jpeg`` so render + attach run in ONE
    Arrow stage: payload bytes cross the JVM↔Python boundary
    once instead of three times (guide §4 — at sf0.1 the EXIF query's
    cost is the per-Python-stage framework floor, not kernel CPU)."""
    return build_exif_jpeg(payload, exif_fields_for_id(i),
                           big_endian=bool(i % 2))


def attach_exif(media_df: DataFrame, id_col: str = "media_id",
                payload_col: str = "payload") -> DataFrame:
    """Insert deterministic EXIF metadata into JPEG payloads (the
    standalone two-stage composition; `exif_jpeg_post` is the fused
    one-kernel equivalent — byte-identical output, pinned by
    test_exif_fused_synthesis_matches_two_stage). Every other column
    passes through; ``n_bytes`` is recomputed from the new payload."""
    cols = media_df.columns
    keep = [c for c in cols if c not in (id_col, payload_col, "n_bytes")]
    out = row_stage(media_df, id_col, payload_col,
                    lambda p, i: [(exif_jpeg_post(bytes(p), i),)],
                    f"{payload_col} binary", id_name=id_col, keep=keep)
    return out.select(*(F.length(payload_col).cast("long").alias(c)
                        if c == "n_bytes" else c for c in cols))


def exif_metadata(media_df: DataFrame, id_col: str = "media_id",
                  payload_col: str = "payload") -> DataFrame:
    """Extract EXIF without decoding pixels — the curation screening
    projection. Payloads without EXIF yield nulls."""
    def extract(p, _id) -> list[tuple]:
        meta = parse_jpeg_exif(bytes(p))
        if meta is None:
            return [(None,) * 11]
        exp = None
        if meta["exposure_num"] is not None:
            exp = meta["exposure_num"] / meta["exposure_den"]
        return [(meta["byte_order"], meta["orientation"], meta["make"],
                 meta["model"], meta["datetime"], meta["iso"], exp,
                 meta["pixel_x"], meta["pixel_y"], meta["lat"],
                 meta["lon"])]

    return row_stage(media_df, id_col, payload_col, extract,
                     "byte_order string, orientation int, make string, "
                     "model string, datetime string, iso int, "
                     "exposure_s double, pixel_x int, pixel_y int, "
                     "lat double, lon double")


__all__ = ["parse_exif_tiff", "parse_jpeg_exif", "build_exif_blob",
           "build_exif_jpeg", "attach_exif", "exif_metadata"]
