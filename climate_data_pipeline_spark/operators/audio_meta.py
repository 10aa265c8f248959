"""MP3 / Ogg metadata WITHOUT decode — pure struct parsing: the
screening stats an audio curation pipeline filters on (duration,
bitrate, sample rate, channel mode, tag presence) for the two
compressed containers whose CODECS are out of dependency-free scope
(MDCT synthesis stays loud — this module never emits samples, the
honest metadata-only contract ``operators/video.py`` uses for
non-MJPEG codecs).

MP3: ID3v2 preamble skip (syncsafe length), then the MPEG audio
frame-header walk — 11-bit sync, version (MPEG-1/2/2.5), layer
(I/II/III), the published bitrate and sample-rate index tables,
padding bit, channel mode — summing per-frame durations
(1152 samples per MPEG-1 Layer III frame, 576 for MPEG-2 LSF).
ID3v1 trailers are recognized and excluded from the frame walk.

Ogg: the "OggS" page walk — version 0, header-type flags (BOS/EOS),
absolute granule position, serial number, page sequence, the
spec's CRC-32 (polynomial 0x04C11DB7, UNreflected, init 0 — verified
per page, loud on mismatch), segment lacing; plus the Vorbis
identification header (channels, sample rate) from the BOS page.
Duration = last granule position / rate, the Vorbis convention.

Writers exist for synthesis: real frame headers with spec bitrate/
rate indices and junk payloads, real Ogg pages with correct lacing
and CRCs — so the walkers are exercised against properly framed
streams and a SQL oracle re-derives every stat from the row id.
"""

from __future__ import annotations

import struct

import numpy as np

# MPEG-1 Layer III bitrate table (kbps; index 1..14) and sample rates
MP3_BITRATES = (None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                224, 256, 320)
MP3_RATES = (44100, 48000, 32000, None)
# MPEG-2 LSF Layer III
MP3_BITRATES_V2 = (None, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112,
                   128, 144, 160)
MP3_RATES_V2 = (22050, 24000, 16000, None)


def _syncsafe(b: bytes) -> int:
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def parse_mp3_meta(data: bytes) -> dict:
    """Frame-header walk → {n_frames, duration_s, bitrate_kbps (mean),
    sample_rate, channels, has_id3v2, has_id3v1}. Never decodes
    audio; desynchronized streams raise."""
    pos = 0
    has_id3v2 = False
    if data[:3] == b"ID3":
        has_id3v2 = True
        if len(data) < 10:
            raise ValueError("ID3v2 header truncated")
        pos = 10 + _syncsafe(data[6:10])
    end = len(data)
    has_id3v1 = end >= 128 and data[end - 128:end - 125] == b"TAG"
    if has_id3v1:
        end -= 128
    n_frames = 0
    total_bits = 0
    total_samples = 0
    rate = None
    channels = None
    while pos + 4 <= end:
        h = struct.unpack_from(">I", data, pos)[0]
        if (h >> 21) & 0x7FF != 0x7FF:
            raise ValueError(f"MP3 frame sync lost at byte {pos}")
        version = (h >> 19) & 3          # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
        layer = (h >> 17) & 3            # 1 = Layer III
        if layer != 1:
            raise NotImplementedError(
                f"MPEG layer code {layer} not supported (Layer III "
                "frame geometry only)")
        bidx = (h >> 12) & 0xF
        ridx = (h >> 10) & 3
        padding = (h >> 9) & 1
        mode = (h >> 6) & 3
        if bidx == 15:
            raise ValueError("MP3 'bad' bitrate index 15")
        if version == 3:
            br, sr, spf = MP3_BITRATES[bidx], MP3_RATES[ridx], 1152
        elif version in (2, 0):
            br, sr, spf = MP3_BITRATES_V2[bidx], MP3_RATES_V2[ridx], 576
        else:
            raise ValueError("MP3 reserved version bits")
        if br is None or sr is None:
            raise ValueError("MP3 free-format/reserved bitrate or "
                             "reserved sample rate")
        if rate is None:
            rate = sr
            channels = 1 if mode == 3 else 2
        elif sr != rate:
            raise ValueError("MP3 stream changes sample rate "
                             "mid-stream")
        frame_len = (144 if version == 3 else 72) * br * 1000 // sr \
            + padding
        n_frames += 1
        total_bits += br
        total_samples += spf
        pos += frame_len
    if n_frames == 0:
        raise ValueError("MP3 payload with no audio frames")
    # one integer total, one division: deterministic, oracle-exact
    return {"n_frames": n_frames, "duration_s": total_samples / rate,
            "bitrate_kbps": total_bits / n_frames,
            "sample_rate": rate, "channels": channels,
            "has_id3v2": has_id3v2, "has_id3v1": has_id3v1}


def build_mp3(n_frames: int, bitrate_idx: int = 9, rate_idx: int = 0,
              mono: bool = False, id3v2: bytes | None = None,
              id3v1: bool = False, seed: int = 0) -> bytes:
    """Spec-framed MPEG-1 Layer III stream: real headers, deterministic
    junk payloads (this module never promises decodable audio)."""
    out = bytearray()
    if id3v2 is not None:
        n = len(id3v2)
        out += (b"ID3\x04\x00\x00"
                + bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                         (n >> 7) & 0x7F, n & 0x7F]) + id3v2)
    br = MP3_BITRATES[bitrate_idx]
    sr = MP3_RATES[rate_idx]
    rng = np.random.default_rng(seed)
    for i in range(n_frames):
        padding = i % 2                  # alternate padding bit
        h = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16) \
            | (bitrate_idx << 12) | (rate_idx << 10) | (padding << 9) \
            | ((3 if mono else 0) << 6)
        frame_len = 144 * br * 1000 // sr + padding
        out += struct.pack(">I", h)
        out += rng.integers(0, 255, frame_len - 4,
                            dtype=np.uint8).tobytes()
    if id3v1:
        out += b"TAG" + bytes(125)
    return bytes(out)


# Ogg CRC-32: polynomial 0x04C11DB7, not reflected, init/xorout 0
_OGG_CRC = []
for _b in range(256):
    _c = _b << 24
    for _ in range(8):
        _c = ((_c << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if _c & 0x80000000 \
            else (_c << 1) & 0xFFFFFFFF
    _OGG_CRC.append(_c)


# x^(8s) mod P32 per byte-distance s: CRC is GF(2)-linear, so a page
# folds as XOR_i clmul(byte_i, x^(8*(n-1-i)+32)) mod P — eight
# vectorized shift-XORs + one reduce + one table fold instead of the
# per-byte loop (same construction as operators/flac.py crc16)
_OGG_CRC_POW = [1]
_OGG_CRC_POW_NP = np.array(_OGG_CRC_POW, np.int64)


def _ogg_crc_pow(upto: int) -> np.ndarray:
    global _OGG_CRC_POW_NP
    t = _OGG_CRC_POW
    if len(t) <= upto:
        while len(t) <= upto:
            c = t[-1]
            t.append(((c << 8) & 0xFFFFFFFF)
                     ^ _OGG_CRC[(c >> 24) & 0xFF])
        _OGG_CRC_POW_NP = np.array(t, np.int64)
    return _OGG_CRC_POW_NP


def ogg_crc(data: bytes) -> int:
    n = len(data)
    # crossover measured on 2026-08 sandbox hardware (same shape as
    # flac.crc16: the table loop wins under ~0.5 KB)
    if n < 512:
        c = 0
        for b in data:
            c = ((c << 8) & 0xFFFFFFFF) ^ _OGG_CRC[((c >> 24) ^ b)
                                                   & 0xFF]
        return c
    pow_np = _ogg_crc_pow(n + 3)
    d = np.frombuffer(data, np.uint8).astype(np.int64)
    # byte i sits 8*(n-1-i)+32 bits above the remainder: exponent
    # index (n-1-i)+4 in units of 8 bits
    e = pow_np[4:n + 4][::-1]
    prod = (d & 1) * e
    for k in range(1, 8):
        prod ^= ((d >> k) & 1) * (e << k)
    v = int(np.bitwise_xor.reduce(prod))          # < 2^39
    return (v & 0xFFFFFFFF) ^ _OGG_CRC[v >> 32]


def parse_ogg_meta(data: bytes) -> dict:
    """Page walk → {n_pages, serial, last_granule, channels,
    sample_rate, duration_s, eos}. CRC verified per page; the BOS
    page must carry a Vorbis identification header."""
    pos = 0
    n_pages = 0
    serial = None
    last_granule = 0
    channels = None
    rate = None
    saw_eos = False
    while pos < len(data):
        if data[pos:pos + 4] != b"OggS":
            raise ValueError(f"Ogg capture pattern lost at byte {pos}")
        if data[pos + 4] != 0:
            raise ValueError("Ogg stream structure version != 0")
        flags = data[pos + 5]
        (granule,) = struct.unpack_from("<q", data, pos + 6)
        (ser,) = struct.unpack_from("<I", data, pos + 14)
        (crc,) = struct.unpack_from("<I", data, pos + 22)
        n_segs = data[pos + 26]
        lacing = data[pos + 27:pos + 27 + n_segs]
        body_len = sum(lacing)
        page_len = 27 + n_segs + body_len
        page = bytearray(data[pos:pos + page_len])
        if len(page) < page_len:
            raise ValueError("Ogg page truncated")
        page[22:26] = b"\x00\x00\x00\x00"
        if ogg_crc(bytes(page)) != crc:
            raise ValueError("Ogg page CRC mismatch")
        body = data[pos + 27 + n_segs:pos + page_len]
        if flags & 0x02:                 # BOS
            if body[:7] != b"\x01vorbis":
                raise NotImplementedError(
                    "non-Vorbis Ogg stream (identification header "
                    f"{body[:7]!r})")
            channels = body[11]
            (rate,) = struct.unpack_from("<I", body, 12)
        if serial is None:
            serial = ser
        elif ser != serial:
            raise NotImplementedError("multiplexed Ogg (two serials)")
        if granule >= 0:
            last_granule = max(last_granule, granule)
        saw_eos = saw_eos or bool(flags & 0x04)
        n_pages += 1
        pos += page_len
    if n_pages == 0:
        raise ValueError("no Ogg pages in payload")
    if rate is None:
        raise ValueError("Ogg stream without a BOS identification page")
    return {"n_pages": n_pages, "serial": serial,
            "last_granule": last_granule, "channels": channels,
            "sample_rate": rate,
            "duration_s": last_granule / rate, "eos": saw_eos}


def _ogg_page(serial: int, seq: int, granule: int, body: bytes,
              flags: int) -> bytes:
    lacing = []
    n = len(body)
    while True:
        lacing.append(min(n, 255))
        n -= lacing[-1]
        if lacing[-1] < 255:
            break
    head = (b"OggS\x00" + bytes([flags])
            + struct.pack("<qIIi", granule, serial, seq, 0)
            + bytes([len(lacing)]) + bytes(lacing))
    page = bytearray(head + body)
    crc = ogg_crc(bytes(page))
    struct.pack_into("<I", page, 22, crc)
    return bytes(page)


def build_ogg_vorbis(serial: int, rate: int, channels: int,
                     n_audio_pages: int, samples_per_page: int,
                     seed: int = 0) -> bytes:
    """Spec-framed Ogg stream: a real Vorbis identification BOS page,
    then audio pages with junk packets, correct lacing, granule
    positions and CRCs, EOS on the last page."""
    ident = (b"\x01vorbis" + struct.pack("<IB I i i i", 0, channels,
                                         rate, 0, 0, 0)
             + bytes([0x01]))
    out = bytearray(_ogg_page(serial, 0, 0, ident, 0x02))
    rng = np.random.default_rng(seed)
    for i in range(n_audio_pages):
        body = rng.integers(0, 256, 120 + (i * 37) % 300,
                            dtype=np.uint8).tobytes()
        granule = samples_per_page * (i + 1)
        flags = 0x04 if i == n_audio_pages - 1 else 0x00
        out += _ogg_page(serial, i + 1, granule, body, flags)
    return bytes(out)


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

def synthesize_compressed_audio(df, id_col: str, text_col: str):
    """Build REAL MP3 / Ogg-Vorbis containers deterministically from
    row ids, through four residue classes of ``media_id % 4``:

    - 0: MP3 stereo 128 kbps @ 44.1 kHz, ``20 + id%40`` frames
    - 1: MP3 mono 320 kbps @ 32 kHz with ID3v2 + ID3v1 tags,
         ``10 + id%30`` frames
    - 2: Ogg-Vorbis stereo @ 48 kHz, ``5 + id%20`` audio pages of
         960 samples each (real lacing + per-page CRCs)
    - 3: Ogg-Vorbis mono @ 44.1 kHz, ``3 + id%10`` pages of 441

    Frame payloads are junk by contract — the walkers under test
    never decode audio."""
    from ._kernel import media_payloads

    def blob(_text: str, media_id: int) -> bytes:
        c = media_id % 4
        if c == 0:
            return build_mp3(20 + media_id % 40, bitrate_idx=9,
                             rate_idx=0, seed=media_id)
        if c == 1:
            return build_mp3(10 + media_id % 30, bitrate_idx=14,
                             rate_idx=2, mono=True,
                             id3v2=b"tag" * (1 + media_id % 50),
                             id3v1=True, seed=media_id)
        if c == 2:
            return build_ogg_vorbis(media_id, 48000, 2,
                                    5 + media_id % 20, 960,
                                    seed=media_id)
        return build_ogg_vorbis(media_id, 44100, 1,
                                3 + media_id % 10, 441,
                                seed=media_id)

    return media_payloads(df, id_col, text_col, blob,
                          ["audio/mpeg"] * 2 + ["audio/ogg"] * 2)


def audio_container_meta(media_df, id_col: str = "media_id",
                         payload_col: str = "payload"):
    """MP3/Ogg screening projection: container, unit count, rate,
    channels, duration — zero decode, dispatched on magic bytes."""
    from ._kernel import row_stage

    def extract(p, _id) -> list[tuple]:
        b = bytes(p)
        if b[:4] == b"OggS":
            m = parse_ogg_meta(b)
            return [("ogg", m["n_pages"], m["sample_rate"],
                     m["channels"], m["duration_s"])]
        if b[:3] == b"ID3" or (len(b) >= 2 and b[0] == 0xFF
                               and b[1] & 0xE0 == 0xE0):
            m = parse_mp3_meta(b)
            return [("mp3", m["n_frames"], m["sample_rate"],
                     m["channels"], m["duration_s"])]
        raise NotImplementedError(
            f"no container walker for magic {b[:4]!r}")

    return row_stage(media_df, id_col, payload_col, extract,
                     "container string, n_units long, sample_rate int, "
                     "channels int, duration_s double")
