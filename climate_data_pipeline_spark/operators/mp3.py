"""MPEG-1 Layer III (MP3) MDCT-chain decoder — from scratch, numpy only.

Everything FORMULA-DEFINED in ISO/IEC 11172-3 is implemented and
pinned by fixtures: frame/side-info parsing, the bit reservoir,
scalefactor reading (both granule-sharing scfsi and short-window
layouts), the count1-region Huffman code, requantization (global
gain, scalefac_scale, preflag/pretab, subblock gains), mid/side
stereo, short-block reordering, alias-reduction butterflies, the
36-point and 3×12-point IMDCTs with all four window types,
overlap-add, and frequency inversion. The output is the MDCT chain's
time-domain SUBBAND samples (18 per granule in each of the 32
polyphase bands — the representation the final synthesis filterbank
consumes).

Honesty contract (the repo's never-silently-wrong rule): the spec's
two big TABULATED constant sets — the Annex-B big-values Huffman code
tables (~2000 codeword entries) and Table B.3's 512-tap synthesis
window — cannot be cross-checked in this environment (no spec text,
no external decoder), and entering them from memory risks exactly the
silent mis-decode this repo never ships. Streams that need them raise
``Mp3Unsupported`` BY NAME: big-values regions may only use Huffman
table 0 (all-zero), the count1 region table B (whose codes are the
4-bit one's complements — small enough to state with confidence), and
PCM synthesis is not offered at all. Count1-coded streams (spectral
values in {−1, 0, +1} scaled by the 8-bit global gain — the full
dynamic range) decode through the complete chain.

The SMALL transcribed tables this module does carry (the 16-entry
scalefac_compress slen pairs, the 22-entry pretab, the per-rate
scalefactor-band boundaries, the 8 alias coefficients) are each a
handful of widely-published values rather than thousands of codeword
entries; they are stated here with high confidence but the same
caveat applies — no in-sandbox cross-check exists. Their blast
radius is bounded: with the fixtures' zero scalefactors the slen and
band tables affect nothing but bit accounting and the short-block
reorder mapping, both of which are pinned structurally in
test_mp3_codec (energy-in-mapped-subband, bit-offset shift tests).

Reference parity: the reference pipeline has no audio decode at all
(`/root/reference/src/climate_pipeline/` is xarray/Zarr only); this
module exceeds it alongside the FLAC/WAV/AIFF decoders.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .audio_meta import MP3_BITRATES, MP3_RATES, _syncsafe


class Mp3Unsupported(NotImplementedError):
    """Named seam: the stream needs spec data or a mode this decoder
    deliberately does not carry (see module docstring)."""


# scalefac_compress → (slen1, slen2), ISO 11172-3 2.4.2.7
_SLEN = [(0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2), (1, 3),
         (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3), (4, 2), (4, 3)]

# preflag pretab (long scalefactor bands 0..21)
_PRETAB = np.array([0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
                    1, 1, 1, 1, 2, 2, 3, 3, 3, 2, 0], np.int64)

# scalefactor band boundaries (MPEG-1, Annex B Table B.8)
SFB_LONG = {
    44100: [0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90, 110,
            134, 162, 196, 238, 288, 342, 418, 576],
    48000: [0, 4, 8, 12, 16, 20, 24, 30, 36, 42, 50, 60, 72, 88, 106,
            128, 156, 190, 230, 276, 330, 384, 576],
    32000: [0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 54, 66, 82, 102, 126,
            156, 194, 240, 296, 364, 448, 550, 576],
}
SFB_SHORT = {
    44100: [0, 4, 8, 12, 16, 22, 30, 40, 52, 66, 84, 106, 136, 192],
    48000: [0, 4, 8, 12, 16, 22, 28, 38, 50, 64, 80, 100, 126, 192],
    32000: [0, 4, 8, 12, 16, 22, 30, 42, 58, 78, 104, 138, 180, 192],
}

# alias-reduction butterfly coefficients: ci from the spec, cs/ca derived
_CI = np.array([-0.6, -0.535, -0.33, -0.185, -0.095, -0.041, -0.0142,
                -0.0037])
_CS = 1.0 / np.sqrt(1.0 + _CI * _CI)
_CA = _CI * _CS

# --- deterministic trig (r11) ------------------------------------------
# Every trig constant in the chain is cos/sin of a RATIONAL multiple of
# pi. libm's cos/sin round differently across glibc builds, and a 1-ulp
# table shift propagates through IMDCT + overlap-add into the decoded
# samples — which broke the frozen _MP3_GOLD oracle constants when the
# sandbox host changed between rounds. These evaluate sin(pi*num/den)
# with EXACT integer quadrant folding + a fixed-order Taylor polynomial
# on [0, pi/4]: nothing but IEEE +,-,*,/ (each exactly rounded), so the
# tables are bit-identical on every host, forever.

_PI = 3.141592653589793  # float64 nearest to pi (0x1.921fb54442d18p+1)


def _tsin(x: float) -> float:
    """Taylor sin on [0, pi/4], fixed evaluation order."""
    x2 = x * x
    acc = 1.0
    for k in range(10, 0, -1):
        acc = 1.0 - acc * x2 / ((2 * k) * (2 * k + 1))
    return x * acc


def _tcos(x: float) -> float:
    """Taylor cos on [0, pi/4], fixed evaluation order."""
    x2 = x * x
    acc = 1.0
    for k in range(10, 0, -1):
        acc = 1.0 - acc * x2 / ((2 * k - 1) * (2 * k))
    return acc


def _sinpi(num: int, den: int) -> float:
    """sin(pi*num/den) — quadrant folding in exact integers, then
    Taylor on an argument <= pi/4 (full relative accuracy, no
    cancellation; den-2*num folding covers the cos branch)."""
    num %= 2 * den
    sign = 1.0
    if num >= den:
        num -= den
        sign = -1.0
    if 2 * num > den:
        num = den - num
    if 4 * num <= den:
        return sign * _tsin((_PI * num) / den)
    return sign * _tcos((_PI * (den - 2 * num)) / (2 * den))


def _cospi(num: int, den: int) -> float:
    """cos(pi*num/den) = sin(pi/2 - pi*num/den), exact in integers."""
    return _sinpi(den - 2 * num, 2 * den)


# IMDCT cosine matrices (formula-defined): 36-point for long blocks,
# 12-point for each short window
_COS36 = np.array([[_cospi((2 * i + 19) * (2 * k + 1), 72)
                    for k in range(18)] for i in range(36)])
_COS12 = np.array([[_cospi((2 * i + 7) * (2 * k + 1), 24)
                    for k in range(6)] for i in range(12)])
_W12 = np.array([_sinpi(2 * j + 1, 24) for j in range(12)])


# intensity-stereo L/R factors per is_pos 0..6: with ratio =
# tan(is_pos*pi/12), L gets ratio/(1+ratio) = sin/(sin+cos) and R gets
# 1/(1+ratio) = cos/(sin+cos) — the sin/cos form is algebraically
# identical, deterministic, and exact at is_pos=6 (tan undefined:
# everything panned left, which the huge-finite libm tan only
# approximated to within ~6e-17)
_IS_LR = [(_sinpi(p, 12) / (_sinpi(p, 12) + _cospi(p, 12)),
           _cospi(p, 12) / (_sinpi(p, 12) + _cospi(p, 12)))
          for p in range(7)]


def _win36(block_type: int) -> np.ndarray:
    w = np.array([_sinpi(2 * i + 1, 72) for i in range(36)])
    if block_type == 0:
        return w
    if block_type == 1:                   # start window
        out = w.copy()
        out[18:24] = 1.0
        out[24:30] = [_sinpi(2 * (i - 18) + 1, 24) for i in range(24, 30)]
        out[30:] = 0.0
        return out
    if block_type == 3:                   # stop window
        out = w.copy()
        out[:6] = 0.0
        out[6:12] = [_sinpi(2 * (i - 6) + 1, 24) for i in range(6, 12)]
        out[12:18] = 1.0
        return out
    raise ValueError(f"long-window block type {block_type}")


_WIN = {bt: _win36(bt) for bt in (0, 1, 3)}


def _crc16_mpeg(data: bytes) -> int:
    """The MPEG audio frame CRC: CRC-16 poly 0x8005, init 0xFFFF,
    unreflected (catalog name CRC-16/CMS, check 0xAEE7 — pinned in
    test_spec_vectors). Covers the last two header bytes + the side
    info for Layer III."""
    c = 0xFFFF
    for b in data:
        c ^= b << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 \
                else (c << 1) & 0xFFFF
    return c


class _Bits:
    """MSB-first bit reader over a bytes buffer."""

    def __init__(self, data: bytes, bitpos: int = 0):
        self.d = data
        self.p = bitpos

    def read(self, n: int) -> int:
        v = 0
        p, d = self.p, self.d
        for _ in range(n):
            v = (v << 1) | ((d[p >> 3] >> (7 - (p & 7))) & 1)
            p += 1
        self.p = p
        return v


class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def put(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def bytes_padded(self) -> bytes:
        bits = self.bits + [0] * (-len(self.bits) % 8)
        return bytes(int("".join(map(str, bits[i:i + 8])), 2)
                     for i in range(0, len(bits), 8))


# --------------------------------------------------------------------------
# frame + side info parsing
# --------------------------------------------------------------------------

def _parse_frames(data: bytes) -> tuple[list[dict], int, int]:
    """Walk the stream → (frames, sample_rate, channels). Each frame
    dict carries header fields, side-info granule parameters and the
    raw main-data bytes. MPEG-2/2.5 (LSF) raise by name."""
    pos = 0
    if data[:3] == b"ID3":
        if len(data) < 10:
            raise ValueError("ID3v2 header truncated")
        pos = 10 + _syncsafe(data[6:10])
    end = len(data)
    if end >= 128 and data[end - 128:end - 125] == b"TAG":
        end -= 128
    frames: list[dict] = []
    rate = channels = None
    while pos + 4 <= end:
        h = struct.unpack_from(">I", data, pos)[0]
        if (h >> 21) & 0x7FF != 0x7FF:
            raise ValueError(f"MP3 frame sync lost at byte {pos}")
        version = (h >> 19) & 3
        layer = (h >> 17) & 3
        if layer != 1:
            raise Mp3Unsupported(f"MPEG layer code {layer} (Layer III "
                                 "only)")
        if version != 3:
            raise Mp3Unsupported(
                "MPEG-2/2.5 lower-sampling-frequency Layer III "
                "(LSF side-info/scalefactor layout) not supported")
        protection = (h >> 16) & 1
        bidx = (h >> 12) & 0xF
        ridx = (h >> 10) & 3
        padding = (h >> 9) & 1
        mode = (h >> 6) & 3
        mode_ext = (h >> 4) & 3
        br_kbps, sr = MP3_BITRATES[bidx], MP3_RATES[ridx]
        if br_kbps is None or sr is None:
            raise ValueError("MP3 free-format/reserved bitrate or "
                             "reserved sample rate")
        nch = 1 if mode == 3 else 2
        if rate is None:
            rate, channels = sr, nch
        elif sr != rate or nch != channels:
            raise ValueError("MP3 stream changes format mid-stream")
        is_flag = mode == 1 and bool(mode_ext & 1)
        frame_len = 144 * br_kbps * 1000 // sr + padding
        body = pos + 4
        si_len = 17 if nch == 1 else 32
        if not protection:              # protection_bit 0 = CRC present
            (stored,) = struct.unpack_from(">H", data, body)
            body += 2
            want = _crc16_mpeg(data[pos + 2:pos + 4]
                               + data[body:body + si_len])
            if stored != want:
                raise ValueError(
                    f"MP3 frame CRC mismatch at byte {pos}: stored "
                    f"0x{stored:04X}, computed 0x{want:04X}")
        si = _parse_side_info(data[body:body + si_len], nch)
        main = bytes(data[body + si_len:pos + frame_len])
        frames.append({"ms": mode == 1 and bool(mode_ext & 2),
                       "is": is_flag, "main": main, **si})
        pos += frame_len
    if not frames:
        raise ValueError("MP3 payload with no audio frames")
    return frames, rate, channels


def _parse_side_info(si: bytes, nch: int) -> dict:
    br = _Bits(si)
    out: dict = {"main_data_begin": br.read(9)}
    br.read(5 if nch == 1 else 3)                       # private bits
    out["scfsi"] = [[br.read(1) for _ in range(4)] for _ in range(nch)]
    grs = []
    for _gr in range(2):
        chs = []
        for _ch in range(nch):
            g: dict = {
                "part23": br.read(12), "big_values": br.read(9),
                "global_gain": br.read(8),
                "scalefac_compress": br.read(4), "ws": br.read(1),
            }
            if g["ws"]:
                g["block_type"] = br.read(2)
                g["mixed"] = br.read(1)
                g["table_select"] = [br.read(5), br.read(5)]
                g["subblock_gain"] = [br.read(3) for _ in range(3)]
                g["region0"], g["region1"] = 7, 13  # spec defaults
                if g["block_type"] == 0:
                    raise ValueError("window switching with block "
                                     "type 0 is forbidden")
            else:
                g["block_type"], g["mixed"] = 0, 0
                g["table_select"] = [br.read(5) for _ in range(3)]
                g["region0"] = br.read(4)
                g["region1"] = br.read(3)
                g["subblock_gain"] = [0, 0, 0]
            g["preflag"] = br.read(1)
            g["scalefac_scale"] = br.read(1)
            g["count1table"] = br.read(1)
            chs.append(g)
        grs.append(chs)
    out["granules"] = grs
    return out


# --------------------------------------------------------------------------
# main-data decode per granule/channel
# --------------------------------------------------------------------------

def _read_scalefactors(br: _Bits, g: dict, scfsi: list[int],
                       prev: dict | None, gr: int) -> dict:
    s1, s2 = _SLEN[g["scalefac_compress"]]
    if g["ws"] and g["block_type"] == 2:
        if g["mixed"]:
            sf_l = [br.read(s1) for _ in range(8)]
            sf_s = [[0] * 3 for _ in range(13)]
            for sfb in range(3, 12):
                sl = s1 if sfb < 6 else s2
                for w in range(3):
                    sf_s[sfb][w] = br.read(sl)
            return {"l": sf_l + [0] * 14, "s": sf_s}
        sf_s = [[0] * 3 for _ in range(13)]
        for sfb in range(12):
            sl = s1 if sfb < 6 else s2
            for w in range(3):
                sf_s[sfb][w] = br.read(sl)
        return {"l": [0] * 22, "s": sf_s}
    # long blocks: granule 1 may share groups with granule 0 via scfsi
    groups = [(0, 6, 0), (6, 11, 1), (11, 16, 2), (16, 21, 3)]
    sf_l = [0] * 22
    for lo, hi, gi in groups:
        share = gr == 1 and scfsi[gi] and prev is not None
        for sfb in range(lo, hi):
            sl = s1 if sfb < 11 else s2
            sf_l[sfb] = prev["l"][sfb] if share else br.read(sl)
    return {"l": sf_l, "s": [[0] * 3 for _ in range(13)]}


def _huffman_decode(br: _Bits, g: dict, start_bit: int,
                    sfb_long: list[int]) -> np.ndarray:
    ix = np.zeros(576, np.int64)
    # big-values regions: only Huffman table 0 (the all-zero table,
    # which codes nothing and reads no bits) is available — the
    # Annex-B code tables are the documented loud seam
    if g["big_values"]:
        r0 = sfb_long[min(g["region0"] + 1, len(sfb_long) - 1)]
        r1 = sfb_long[min(g["region0"] + g["region1"] + 2,
                          len(sfb_long) - 1)]
        bounds = [0, min(r0, 2 * g["big_values"]),
                  min(r1, 2 * g["big_values"]), 2 * g["big_values"]]
        if g["ws"] and g["block_type"] == 2:
            bounds = [0, 36, 2 * g["big_values"], 2 * g["big_values"]]
        for region in range(3):
            if bounds[region + 1] <= bounds[region]:
                continue
            t = g["table_select"][region] \
                if region < len(g["table_select"]) else 0
            if t != 0:
                raise Mp3Unsupported(
                    f"big-values Huffman table {t} (Annex-B code "
                    "tables are unverifiable here; table 0 only)")
            # table 0: all values zero, zero bits consumed
    idx = 2 * g["big_values"]
    # count1 region: quadruples until part2_3_length is exhausted
    while br.p - start_bit < g["part23"] and idx <= 572:
        before = br.p
        if g["count1table"]:
            # table B: 4-bit codeword = one's complement of (v,w,x,y)
            q = br.read(4) ^ 0xF
        else:
            raise Mp3Unsupported("count1 Huffman table A (Annex-B "
                                 "code table; table B only)")
        vals = [(q >> 3) & 1, (q >> 2) & 1, (q >> 1) & 1, q & 1]
        for j, v in enumerate(vals):
            if v:
                sign = br.read(1)
                ix[idx + j] = -1 if sign else 1
        if br.p - start_bit > g["part23"]:
            # spec: a quadruple straddling the boundary is discarded
            ix[idx:idx + 4] = 0
            br.p = before
            break
        idx += 4
    return ix


def _line_to_short(l: int, short_bounds: list[int]) -> tuple[int, int, int]:
    """Huffman line index → (sfb, window, index-in-window) for pure
    short blocks (huffman order is sfb-major, then window-major)."""
    for s in range(len(short_bounds) - 1):
        lo, hi = 3 * short_bounds[s], 3 * short_bounds[s + 1]
        if lo <= l < hi:
            width = short_bounds[s + 1] - short_bounds[s]
            off = l - lo
            return s, off // width, off % width
    raise ValueError(f"line {l} out of range")


def _requantize(ix: np.ndarray, g: dict, sf: dict, rate: int
                ) -> np.ndarray:
    xr = np.zeros(576)
    nz = np.nonzero(ix)[0]
    if nz.size == 0:
        return xr
    # |ix| <= 1 for every supported stream (big-values table 0 decodes
    # to zeros; count1 table B codes +-1), so the 4/3 power is exactly
    # 1.0 on any libm (IEEE requires pow(1, y) == 1) — no host seam
    mag = np.abs(ix[nz]).astype(np.float64) ** (4.0 / 3.0)
    sgn = np.sign(ix[nz]).astype(np.float64)
    gg = 0.25 * (g["global_gain"] - 210)
    mult = 1.0 if g["scalefac_scale"] else 0.5
    if g["ws"] and g["block_type"] == 2 and not g["mixed"]:
        bounds = SFB_SHORT[rate]
        exps = np.empty(nz.size)
        for j, l in enumerate(nz):
            s, w, _i = _line_to_short(int(l), bounds)
            exps[j] = (gg - 2.0 * g["subblock_gain"][w]
                       - mult * sf["s"][s][w])
    else:
        long_bounds = SFB_LONG[rate]
        sfb_of = np.searchsorted(long_bounds, nz, side="right") - 1
        pre = g["preflag"] * _PRETAB[np.minimum(sfb_of, 21)]
        sfv = np.array([sf["l"][min(int(s), 21)] for s in sfb_of])
        exps = gg - mult * (sfv + pre)
        if g["ws"] and g["block_type"] == 2 and g["mixed"]:
            raise Mp3Unsupported("mixed short/long blocks (rare "
                                 "encoder mode; pure short/long only)")
    xr[nz] = sgn * mag * _exp2_quarter(exps)
    return xr


# 2^(f/4) for f = 0..3, correctly rounded float64 (derived once with
# 50-digit decimal arithmetic; committed as constants so no libm call
# can shift them per host)
_EXP2_Q = np.array([1.0,
                    float.fromhex("0x1.306fe0a31b715p+0"),   # 2^(1/4)
                    float.fromhex("0x1.6a09e667f3bcdp+0"),   # 2^(1/2)
                    float.fromhex("0x1.ae89f995ad3adp+0")])  # 2^(3/4)


def _exp2_quarter(exps: np.ndarray) -> np.ndarray:
    """Deterministic 2**exps for exponents that are exact multiples of
    1/4 (always true here: gains/scalefactors are integers and the
    scale step is 0.5 or 1.0, all exactly representable). libm exp2 is
    not correctly rounded on every glibc, so split into an exact
    power-of-two part (ldexp, pure bit manipulation) times one of four
    frozen quarter-step constants."""
    q = 4.0 * exps
    qi = np.rint(q).astype(np.int64)
    if not np.array_equal(q, qi.astype(np.float64)):
        raise Mp3Unsupported("non-quarter-integer requantizer exponent")
    n, f = np.divmod(qi, 4)
    return _EXP2_Q[f] * np.ldexp(1.0, n)


def _reorder_short(xr: np.ndarray, rate: int) -> np.ndarray:
    """Short-block reorder: huffman (sfb-major, window-major) order →
    subband-interleaved order dest = 18·(f//6) + 3·(f%6) + w where f
    is the line's frequency index within its window."""
    out = np.zeros(576)
    bounds = SFB_SHORT[rate]
    for s in range(len(bounds) - 1):
        width = bounds[s + 1] - bounds[s]
        base = 3 * bounds[s]
        for w in range(3):
            for i in range(width):
                f = bounds[s] + i
                out[18 * (f // 6) + 3 * (f % 6) + w] = \
                    xr[base + w * width + i]
    return out


def _alias_reduce(xr: np.ndarray) -> None:
    for sb in range(1, 32):
        b = 18 * sb
        for i in range(8):
            lo, hi = xr[b - 1 - i], xr[b + i]
            xr[b - 1 - i] = lo * _CS[i] - hi * _CA[i]
            xr[b + i] = hi * _CS[i] + lo * _CA[i]


def _matcols_det(A: np.ndarray, X: np.ndarray) -> np.ndarray:
    """Deterministic (A @ X): fixed-order column accumulation with
    elementwise IEEE ops only. BLAS dgemv/dgemm summation order (and
    FMA contraction) varies by host build, and a 1-ulp shift in a
    decoded sample breaks the frozen _MP3_GOLD bit contract — every
    sum here must be reproducible on any host, forever."""
    acc = A[:, 0:1] * X[0:1, :]
    for j in range(1, X.shape[0]):
        acc += A[:, j:j + 1] * X[j:j + 1, :]
    return acc


def _imdct_granule(xr: np.ndarray, g: dict, store: np.ndarray
                   ) -> np.ndarray:
    """Per-subband IMDCT + window + overlap-add + frequency inversion,
    vectorized across all 32 subbands (the granule shares one window
    type; mixed blocks are a loud seam upstream). ``store`` is the
    (32, 18) overlap state, updated in place; returns the granule's
    (18, 32) time-domain subband samples."""
    short = g["ws"] and g["block_type"] == 2
    Xm = xr.reshape(32, 18).T                    # (18, 32)
    if short:
        z = np.zeros((36, 32))
        for w in range(3):
            zw = _matcols_det(_COS12, Xm[w::3, :]) * _W12[:, None]
            z[6 + 6 * w:18 + 6 * w, :] += zw
    else:
        z = _matcols_det(_COS36, Xm) * _WIN[g["block_type"]][:, None]
    out = z[:18, :] + store.T
    store[:, :] = z[18:, :].T
    out[1::2, 1::2] = -out[1::2, 1::2]           # frequency inversion
    return out


def _intensity_process(xrs, ixs, sfs, g_pair, ms: bool, rate: int):
    """MPEG-1 intensity stereo (ISO 11172-3 2.4.3.4.9.3): in the
    scalefactor bands ABOVE the right channel's last nonzero spectral
    line, the left channel carries the summed signal and the RIGHT
    channel's scalefactors carry the position code —
    ratio = tan(is_pos·π/12), L = x·ratio/(1+ratio), R = x/(1+ratio);
    is_pos 7 is the no-processing escape (those bands fall back to MS
    when the MS flag rides along, else pass through). Below the bound
    plain stereo/MS applies. Long blocks only — intensity with short
    windows multiplies the bound bookkeeping per window and stays a
    named seam.

    DOCUMENTED DEVIATION (ADVICE r10): the bound derives from the right
    channel's last nonzero DECODED line, not the spec's zero_part
    boundary (the end of the big_values+count1 coded region). For this
    decoder's support matrix the two coincide except when the right
    channel's count1 region ends in all-zero quads — such externally
    encoded streams would get lower bands intensity-processed than a
    reference decoder. Self-consistent with every fixture/golden; a
    zero_part-exact bound is deferred until big-values decode exists
    (the seam that actually gates external streams)."""
    import bisect

    for g in g_pair:
        if g["ws"] and g["block_type"] == 2:
            raise Mp3Unsupported("intensity stereo with short blocks")
    bounds = SFB_LONG[rate]
    nz = np.nonzero(ixs[1])[0]
    last = int(nz[-1]) + 1 if nz.size else 0
    start_sfb = bisect.bisect_left(bounds, last)
    m, sd = xrs
    L, R = m.copy(), sd.copy()
    inv = 1.0 / np.sqrt(2.0)
    if ms:
        lo_end = bounds[min(start_sfb, 22)]
        L[:lo_end] = (m[:lo_end] + sd[:lo_end]) * inv
        R[:lo_end] = (m[:lo_end] - sd[:lo_end]) * inv
    for sfb in range(start_sfb, 22):
        lo, hi = bounds[sfb], bounds[sfb + 1]
        is_pos = sfs[1]["l"][min(sfb, 21)]
        if is_pos == 7:
            if ms:
                L[lo:hi] = (m[lo:hi] + sd[lo:hi]) * inv
                R[lo:hi] = (m[lo:hi] - sd[lo:hi]) * inv
            continue
        lf, rf = _IS_LR[is_pos]
        L[lo:hi] = m[lo:hi] * lf
        R[lo:hi] = m[lo:hi] * rf
    return [L, R]


def decode_mp3(data: bytes) -> tuple[np.ndarray, dict]:
    """Decode an MPEG-1 Layer III stream through the full MDCT chain →
    (samples, info). ``samples`` has shape (n_granules·18, 32, nch):
    time-domain subband samples (fs/32 per band — what the synthesis
    filterbank would consume; the 512-tap synthesis window is the
    documented loud seam, see module docstring). info carries
    sample_rate / channels / n_frames / n_granules."""
    frames, rate, nch = _parse_frames(data)
    reservoir = b""
    store = np.zeros((nch, 32, 18))
    prev_sf: list[dict | None] = [None] * nch
    chunks: list[np.ndarray] = []
    for f in frames:
        start_byte = len(reservoir) - f["main_data_begin"]
        if start_byte < 0:
            raise ValueError("MP3 bit reservoir underflow "
                             f"(main_data_begin {f['main_data_begin']} "
                             f"> {len(reservoir)} buffered bytes)")
        reservoir += f["main"]
        br = _Bits(reservoir, start_byte * 8)
        for gr in range(2):
            xrs, ixs, sfs = [], [], []
            for ch in range(nch):
                g = f["granules"][gr][ch]
                start_bit = br.p
                if start_bit + g["part23"] > len(reservoir) * 8:
                    raise ValueError(
                        f"part2_3_length {g['part23']} overruns the "
                        "bit reservoir (corrupt side info)")
                sf = _read_scalefactors(br, g, f["scfsi"][ch],
                                        prev_sf[ch], gr)
                if gr == 0:
                    prev_sf[ch] = sf
                ix = _huffman_decode(br, g, start_bit, SFB_LONG[rate])
                br.p = start_bit + g["part23"]   # ancillary-bit skip
                ixs.append(ix)
                sfs.append(sf)
                xrs.append(_requantize(ix, g, sf, rate))
            if nch == 2 and f["is"]:
                xrs = _intensity_process(xrs, ixs, sfs,
                                         f["granules"][gr], f["ms"],
                                         rate)
            elif nch == 2 and f["ms"]:
                m, s = xrs
                inv = 1.0 / np.sqrt(2.0)
                xrs = [(m + s) * inv, (m - s) * inv]
            gout = np.empty((18, 32, nch))
            for ch in range(nch):
                g = f["granules"][gr][ch]
                xr = xrs[ch]
                if g["ws"] and g["block_type"] == 2:
                    xr = _reorder_short(xr, rate)
                else:
                    _alias_reduce(xr)
                gout[:, :, ch] = _imdct_granule(xr, g, store[ch])
            chunks.append(gout)
        # the reservoir can never reach back more than 511 bytes
        reservoir = reservoir[-511:]
    samples = np.concatenate(chunks, axis=0)
    return samples, {"sample_rate": rate, "channels": nch,
                     "n_frames": len(frames),
                     "n_granules": 2 * len(frames)}


# --------------------------------------------------------------------------
# count1-coded encoder (fixture generator)
# --------------------------------------------------------------------------

_RATE_IDX = {44100: 0, 48000: 1, 32000: 2}


def encode_mp3_count1(lines: list[tuple[int, int]], n_frames: int = 2,
                      sample_rate: int = 44100, global_gain: int = 210,
                      block_type: int = 0, ms_stereo: bool = False,
                      bitrate_idx: int = 9,
                      scalefac_compress: int = 0,
                      scfsi_band0: bool = False,
                      protected: bool = False,
                      intensity: list[int] | None = None,
                      right_lines: list[tuple[int, int]] | None = None
                      ) -> bytes:
    """Build a REAL MPEG-1 Layer III stream whose spectral content is
    count1-coded: ``lines`` is a list of (line_index, ±1); every
    granule of every frame carries the same content at ``global_gain``.
    ``block_type`` 0 (long) or 2 (short, pure); ``ms_stereo`` emits a
    joint-stereo frame with an all-zero side channel (decodes to
    L = R = M/√2). The stream is decodable by any Layer III decoder —
    headers, side info, and the count1 table-B codes are all spec-
    layout; only the spectral coding REPERTOIRE is restricted.

    ``intensity``: 21 is_pos values (0..7) arm intensity-stereo coding
    (mode_ext bit 0, composable with ``ms_stereo``): channel 0 carries
    ``lines``; the RIGHT channel's scalefactors carry the is_pos codes
    (scalefac_compress 13 → 3 bits everywhere) and its spectral data is
    ``right_lines`` (count1-coded; their top line sets the intensity
    bound — empty means the whole spectrum is intensity-coded)."""
    if lines and max(idx for idx, _ in lines) > 572:
        raise ValueError("count1 lines end at 575 (last quadruple)")
    sr = sample_rate
    ridx = _RATE_IDX[sr]
    br_kbps = MP3_BITRATES[bitrate_idx]
    nch = 2 if (ms_stereo or intensity is not None) else 1
    if intensity is not None:
        if len(intensity) != 21 or any(not 0 <= v <= 7
                                       for v in intensity):
            raise ValueError("intensity needs 21 is_pos values in 0..7")
        if block_type == 2:
            raise ValueError("intensity fixtures are long-block only")
    # count1 payload bits
    nq = (max(idx for idx, _ in lines) // 4 + 1) if lines else 0
    quads = [[0, 0, 0, 0] for _ in range(nq)]
    for idx, sign in lines:
        if sign not in (1, -1):
            raise ValueError("count1 values are ±1")
        quads[idx // 4][idx % 4] = sign
    # long-block scalefactor field (all-zero VALUES, but nonzero
    # scalefac_compress exercises the reader's slen bit accounting;
    # scfsi_band0 shares group 0 from granule 0 into granule 1)
    s1, s2 = _SLEN[scalefac_compress]
    sf_bits_g0 = 11 * s1 + 10 * s2
    sf_bits_g1 = (5 * s1 if scfsi_band0 else 11 * s1) + 10 * s2
    if block_type == 2 and scalefac_compress:
        raise ValueError("zero-valued scalefactor exercise is wired "
                         "for long blocks only")
    def quad_bits(ls: list[tuple[int, int]]) -> _BitWriter:
        n = (max(i for i, _ in ls) // 4 + 1) if ls else 0
        qs = [[0, 0, 0, 0] for _ in range(n)]
        for idx, sign in ls:
            if sign not in (1, -1):
                raise ValueError("count1 values are ±1")
            qs[idx // 4][idx % 4] = sign
        w = _BitWriter()
        for q in qs:
            code = sum((1 << (3 - j)) for j, v in enumerate(q) if v)
            w.put(code ^ 0xF, 4)
            for v in q:
                if v:
                    w.put(1 if v < 0 else 0, 1)
        return w

    payload = quad_bits(lines)
    part23 = {0: len(payload.bits) + sf_bits_g0,
              1: len(payload.bits) + sf_bits_g1}
    # right channel of an intensity frame: is_pos scalefactors at
    # scalefac_compress 13 (slen 3/3 → 63 bits) + its own count1 data
    r_payload = quad_bits(right_lines or []) if intensity is not None \
        else None
    part23_r = (63 + len(r_payload.bits)) if r_payload is not None else 0

    def granule_bits(w: _BitWriter, gr: int, content: bool) -> None:
        if not content and intensity is not None:
            w.put(part23_r, 12)
        else:
            w.put(part23[gr] if content else 0, 12)  # part2_3_length
        w.put(0, 9)                            # big_values
        w.put(global_gain, 8)
        w.put(13 if (not content and intensity is not None)
              else scalefac_compress, 4)
        if block_type == 2 and content:
            w.put(1, 1)                        # window switching
            w.put(2, 2)                        # block type 2
            w.put(0, 1)                        # not mixed
            w.put(0, 5), w.put(0, 5)           # table_select ×2
            for _ in range(3):
                w.put(0, 3)                    # subblock gains
        else:
            w.put(0, 1)                        # no window switching
            for _ in range(3):
                w.put(0, 5)                    # table_select ×3
            w.put(0, 4), w.put(0, 3)           # region counts
        w.put(0, 1)                            # preflag
        w.put(0, 1)                            # scalefac_scale
        w.put(1, 1)                            # count1 table B

    si = _BitWriter()
    si.put(0, 9)                               # main_data_begin
    si.put(0, 5 if nch == 1 else 3)            # private bits
    for ch in range(nch):
        si.put(1 if (scfsi_band0 and ch == 0) else 0, 1)
        for _ in range(3):
            si.put(0, 1)                       # scfsi groups 1-3
    for gr in range(2):
        for ch in range(nch):
            granule_bits(si, gr, content=(ch == 0))
    side = si.bytes_padded()
    assert len(side) == (17 if nch == 1 else 32)

    main = _BitWriter()
    for gr in range(2):
        for ch in range(nch):
            if ch == 0:
                nsf = sf_bits_g0 if gr == 0 else sf_bits_g1
                for _ in range(nsf):
                    main.put(0, 1)             # zero scalefactors
                main.bits.extend(payload.bits)
            elif intensity is not None:
                for v in intensity:            # is_pos codes, 3 bits
                    main.put(v, 3)
                main.bits.extend(r_payload.bits)
    main_bytes = main.bytes_padded()

    frame_len = 144 * br_kbps * 1000 // sr
    # include the 2 CRC bytes when protected (r11, ADVICE fix: a
    # near-full protected frame used to pass the check yet overflow
    # frame_len, shifting the next frame's sync by 2 bytes)
    need = 4 + (2 if protected else 0) + len(side) + len(main_bytes)
    if need > frame_len:
        raise ValueError(f"content ({need}B) exceeds the frame "
                         f"({frame_len}B) — raise bitrate_idx")
    mode = 1 if nch == 2 else 3                # joint stereo / mono
    mode_ext = (2 if ms_stereo else 0) | (1 if intensity is not None
                                          else 0)
    h = ((0x7FF << 21) | (3 << 19) | (1 << 17)
         | ((0 if protected else 1) << 16)
         | (bitrate_idx << 12) | (ridx << 10) | (0 << 9)
         | (mode << 6) | (mode_ext << 4))
    hdr = struct.pack(">I", h)
    crc = (struct.pack(">H", _crc16_mpeg(hdr[2:4] + side))
           if protected else b"")
    frame = (hdr + crc + side + main_bytes).ljust(frame_len, b"\x00")
    return frame * n_frames


# --------------------------------------------------------------------------
# driver-facing synthesis + feature extraction (mm_decode_mp3)
# --------------------------------------------------------------------------

# fixture classes (media_id % 7): every structural axis of the MDCT
# chain — silence, single lines in different subbands, the alias
# boundary, MS stereo, short blocks, a second sample rate, dense ±1s
_MP3_CLASSES = {
    0: dict(lines=[]),
    1: dict(lines=[(0, 1)]),
    2: dict(lines=[(17, 1), (18, -1)]),            # alias butterflies
    3: dict(lines=[(4, 1)], ms_stereo=True),       # MS: L = R = M/√2
    4: dict(lines=[(5, 1)], block_type=2),         # short IMDCT+reorder
    5: dict(lines=[(9, -1)], sample_rate=32000),
    6: dict(lines=[(i, 1 if i % 2 == 0 else -1) for i in range(16)]),
}


def synthesize_mp3(df, id_col: str, text_col: str):
    """Render documents into REAL MPEG-1 Layer III streams (2 frames,
    4 granules): the class cycles ``media_id % 7`` over the fixture
    repertoire above; the first text byte sets the amplitude via
    ``global_gain = 210 + 4·(byte % 8)`` — a power-of-two gain, so the
    decoded features scale EXACTLY by 2^k (the oracle's contract)."""
    from ._kernel import payload_stage

    memo: dict[tuple[int, int], bytes] = {}

    def blob(text: str, mid: int) -> bytes:
        raw = text.encode("utf-8") or b"\x00"
        k = raw[0] % 8
        key = (mid % 7, k)
        if key not in memo:
            memo[key] = encode_mp3_count1(
                n_frames=2, global_gain=210 + 4 * k,
                **_MP3_CLASSES[mid % 7])
        return memo[key]

    return payload_stage(df, id_col, text_col, blob)


def mp3_mdct_features(media_df, id_col: str = "media_id",
                      payload_col: str = "payload"):
    """Decode MP3 payloads executor-side through the full MDCT chain
    (one Arrow row stage, zero payload shuffles) → per-stream
    (sample_rate, channels, n_frames, n_sub_samples, rms, peak) over
    the time-domain subband samples."""
    from ._kernel import byte_memo, row_stage

    def _feats(payload: bytes) -> tuple:
        s, info = decode_mp3(payload)
        return (int(info["sample_rate"]), int(info["channels"]),
                int(info["n_frames"]), int(s.size),
                # fsum: exactly rounded sum (order-independent),
                # so the rms never depends on numpy reductions
                math.sqrt(math.fsum((s * s).ravel()) / s.size)
                if s.size else 0.0,
                float(np.abs(s).max()) if s.size else 0.0)

    # content-addressed decode dedup: features are a pure function
    # of the payload bytes, and real corpora (and the fixtures)
    # carry byte-identical streams many times over — decode each
    # distinct payload once per task and reuse the feature tuple.
    # Bounded by ACCUMULATED KEY BYTES: the memo keys on the full
    # payload, so an entry-count cap alone would scale worst-case
    # memory with payload size. Oversized payloads just decode
    # without memoizing.
    feats = byte_memo(_feats, 128 * 1024 * 1024)
    return row_stage(media_df, id_col, payload_col,
                     lambda p, _id: [feats(bytes(p))],
                     "sample_rate int, channels int, n_frames long, "
                     "n_sub_samples long, rms double, peak double")
