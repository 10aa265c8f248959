"""Real VIDEO path — MJPEG in AVI (RIFF) and MP4 (ISO-BMFF),
dependency-free: both containers are plain struct trees (public
Microsoft/OpenDML and ISO/IEC 14496-12 specs) and each frame is a
JPEG, so with ``operators/jpeg.py`` in the repo the whole video
modality graduates from the fake byte-window decoder to genuinely
decoded frames. ``parse_video`` dispatches on the container magic;
every frame-level operator below (sampling, hashing, dedup) accepts
either container transparently.

Scope: AVI with one 'vids' stream of 'MJPG' frames ('00dc'/'00db'
chunks, optional idx1 index) and BMFF video tracks with JPEG sample
entries (``operators/mp4.py`` — box walk + stsd/stts/stsc/stsz/stco
sample tables; ``mp4_info`` reads metadata for ANY codec). Anything
needing a real video decoder — H.264/H.265/VP9, interleaved audio,
OpenDML extensions — raises loudly per payload, same contract as the
image/audio decoders in ``multimodal.py``.

Spark shape: frame decode is a row-MULTIPLYING ``mapInPandas`` (one
output row per sampled frame), the UDTF pattern — partition-parallel
across payloads, Arrow-batched, no driver involvement. At 100 TB the
payload column is the dominant I/O; frame sampling drops the decode
cost by the sampling factor before any pixel work happens.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .jpeg import decode_jpeg, encode_jpeg_baseline
from .mp4 import build_mp4_mjpeg, parse_mp4_mjpeg
from .text import _spread


def parse_video(data: bytes) -> dict:
    """Container dispatch on magic bytes: RIFF/AVI or ISO-BMFF (ftyp),
    both to the same {width, height, fps, frames} contract."""
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        return parse_avi_mjpeg(data)
    if len(data) >= 12 and data[4:8] == b"ftyp":
        return parse_mp4_mjpeg(data)
    raise NotImplementedError(
        f"no pure-python demuxer for video container magic "
        f"{data[:12]!r} (AVI/RIFF and MP4/ISO-BMFF supported)")


def _riff_chunks(data: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_len) walking a RIFF level;
    chunks are word-aligned (odd sizes carry a pad byte)."""
    pos = start
    while pos + 8 <= end:
        fourcc = data[pos:pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        yield fourcc, pos + 8, size
        pos += 8 + size + (size & 1)


def build_avi_mjpeg(frames: list[bytes], width: int, height: int,
                    fps: int = 10, with_index: bool = True) -> bytes:
    """Assemble a spec-shaped AVI: RIFF('AVI ' LIST(hdrl: avih,
    LIST(strl: strh 'vids'/'MJPG', strf BITMAPINFOHEADER))
    LIST(movi: '00dc' per frame) [idx1])."""
    n = len(frames)
    avih = struct.pack("<10I", 10 ** 6 // max(fps, 1),
                       max((len(f) for f in frames), default=0) * fps,
                       0, 0x10, n, 0, 1, 0, width, height) + bytes(16)
    strh = (b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIIi", 0, 0, 0, 0,
                                            1, fps, 0, n, 0, 10000, -1)
            + struct.pack("<4H", 0, 0, width, height))
    strf = struct.pack("<IiiHH4sIiiII", 40, width, height, 1, 24,
                       b"MJPG", width * height * 3, 0, 0, 0, 0)

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) & 1 else b""
        return fourcc + struct.pack("<I", len(payload)) + payload + pad

    def lst(kind: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", kind + payload)

    strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strl)
    movi_body = b"movi"
    offsets = []
    for f in frames:
        offsets.append(len(movi_body))     # offset of ckid from 'movi'
        movi_body += chunk(b"00dc", f)
    movi = chunk(b"LIST", movi_body)
    idx = b""
    if with_index:
        entries = b"".join(
            b"00dc" + struct.pack("<III", 0x10, off, len(f))
            for off, f in zip(offsets, frames))
        idx = chunk(b"idx1", entries)
    return chunk(b"RIFF", b"AVI " + hdrl + movi + idx)


def parse_avi_mjpeg(data: bytes) -> dict:
    """Parse an MJPEG AVI into {width, height, fps, frames: [bytes]},
    validating against both the sequential movi walk and (when present)
    the idx1 index. Loud on non-MJPEG streams."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    end = 8 + struct.unpack_from("<I", data, 4)[0]
    width = height = 0
    usec_per_frame = 0
    frames: list[bytes] = []
    idx_entries: list[tuple[int, int]] = []
    movi_at = None
    for fourcc, p, ln in _riff_chunks(data, 12, min(end, len(data))):
        if fourcc == b"LIST":
            kind = data[p:p + 4]
            if kind == b"hdrl":
                for f2, p2, l2 in _riff_chunks(data, p + 4, p + ln):
                    if f2 == b"avih":
                        (usec_per_frame,) = struct.unpack_from("<I",
                                                               data, p2)
                        width, height = struct.unpack_from("<II",
                                                           data, p2 + 32)
                    elif f2 == b"LIST" and data[p2:p2 + 4] == b"strl":
                        for f3, p3, l3 in _riff_chunks(data, p2 + 4,
                                                       p2 + l2):
                            if f3 == b"strh":
                                if data[p3:p3 + 4] != b"vids":
                                    raise NotImplementedError(
                                        "non-video AVI stream "
                                        f"{data[p3:p3 + 4]!r}")
                                if data[p3 + 4:p3 + 8] != b"MJPG":
                                    raise NotImplementedError(
                                        "AVI codec "
                                        f"{data[p3 + 4:p3 + 8]!r} (only "
                                        "MJPG has a pure-python decoder)")
            elif kind == b"movi":
                movi_at = p
                for f2, p2, l2 in _riff_chunks(data, p + 4, p + ln):
                    if f2 in (b"00dc", b"00db"):
                        frames.append(data[p2:p2 + l2])
        elif fourcc == b"idx1":
            for i in range(0, ln, 16):
                ck = data[p + i:p + i + 4]
                _, off, sz = struct.unpack_from("<III", data, p + i + 4)
                if ck in (b"00dc", b"00db"):
                    idx_entries.append((off, sz))
    if movi_at is None:
        raise ValueError("AVI without a movi list")
    if idx_entries:
        if len(idx_entries) != len(frames):
            raise ValueError("idx1 frame count disagrees with movi walk")
        # two offset conventions exist in the wild: relative to the
        # 'movi' fourcc (the common one) and absolute from the start of
        # the file — probe the first entry's ckid to pick the base
        off0 = idx_entries[0][0]
        base = None
        for cand in (movi_at, 0):
            if data[cand + off0:cand + off0 + 4] in (b"00dc", b"00db"):
                base = cand
                break
        if base is None:
            raise ValueError("idx1 offsets match neither movi-relative "
                             "nor absolute convention")
        for (off, sz), f in zip(idx_entries, frames):
            got = data[base + off + 8:base + off + 8 + sz]
            if got != f:
                raise ValueError("idx1 offset does not point at the "
                                 "movi chunk it claims")
    fps = round(10 ** 6 / usec_per_frame) if usec_per_frame else 0
    return {"width": width, "height": height, "fps": fps,
            "frames": frames}


def synthesize_avi_mjpeg(df: DataFrame, id_col: str, text_col: str,
                         n_frames: int = 6, fps: int = 10,
                         container: str = "avi") -> DataFrame:
    """Build REAL MJPEG videos deterministically from text rows:
    ``n_frames`` 16×16 grayscale baseline-JPEG frames per document,
    frame ``f`` made of four 8×8 block-constant tiles whose values are
    the cycled UTF-8 text bytes at positions ``4f .. 4f+3`` (DC quant
    step 8 ⇒ every frame round-trips exactly), packed into a
    spec-shaped container. ``container``: ``"avi"`` (RIFF with a
    validated idx1 index), ``"mp4"`` (ISO-BMFF, 'jpeg' sample entry,
    two-samples-per-chunk stsc), or ``"mixed"`` — even ids AVI, odd
    ids MP4, so one query exercises both demuxers under the SAME
    oracle (the container never changes the pixels). A SQL oracle can
    re-derive any sampled frame's pixel mean straight from the text
    bytes while the decoder has to get the container walk, the index /
    sample-table validation and the whole JPEG path right."""
    if container not in ("avi", "mp4", "mixed"):
        raise ValueError(f"unknown container {container!r}")
    out_schema = ("media_id long, media_type string, payload binary, "
                  "n_bytes long")

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q = np.ones((8, 8), np.int64)
        q[0, 0] = 8
        # the encoder is a pure function of the 4 tile bytes (the
        # dedup premise: equal tuples → byte-identical JPEG), and
        # corpus text 4-grams repeat heavily — memoize per executor
        memo: dict[tuple, bytes] = {}

        def frame(vals: np.ndarray) -> bytes:
            key = tuple(vals.tolist())
            got = memo.get(key)
            if got is None:
                px = np.repeat(np.repeat(vals.reshape(2, 2), 8, 0),
                               8, 1)
                got = encode_jpeg_baseline(px.astype(np.uint8),
                                           quant_tables=(q, q))
                if len(memo) < 200_000:       # ~60 MB cap
                    memo[key] = got
            return got

        def vid(text: str, media_id: int) -> tuple[bytes, str]:
            raw = (text.encode("utf-8") or b"\x00")
            bts = np.frombuffer(raw, dtype=np.uint8)
            frames = []
            for f in range(n_frames):
                frames.append(frame(bts[(4 * f + np.arange(4))
                                        % len(bts)]))
            use_mp4 = (container == "mp4"
                       or (container == "mixed" and media_id % 2 == 1))
            if use_mp4:
                return (build_mp4_mjpeg(frames, 16, 16, fps=fps),
                        "video/mp4")
            return (build_avi_mjpeg(frames, 16, 16, fps=fps),
                    "video/x-msvideo")

        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            built = [vid(t, i) for t, i in
                     zip(pdf[text_col].fillna(""), ids)]
            payloads = [b for b, _ in built]
            yield pd.DataFrame({
                "media_id": ids,
                "media_type": [m for _, m in built],
                "payload": payloads,
                "n_bytes": pd.Series([len(p) for p in payloads],
                                     dtype="int64"),
            })

    return (_spread(df).select(F.col(id_col), F.col(text_col))
              .mapInPandas(_synth, schema=out_schema))


def decode_video_frames(df: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL frame sampling + decode: walk each AVI's movi list, keep
    every ``every_n``-th frame, decode it through the baseline-JPEG
    path, and emit one row per sampled frame (media_id, frame_idx,
    width, height, frame_mean). Row-multiplying Arrow ``mapInPandas``;
    skipped frames are never entropy-decoded — at scale the sampling
    factor divides the decode cost, not just the output size."""
    out_schema = ("media_id long, frame_idx int, width int, height int, "
                  "frame_mean double")

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # content-addressed frame-decode dedup (the mp3_mdct_features
        # pattern): (width, height, mean) is a pure function of the
        # frame's JPEG bytes, and MJPEG corpora repeat frames heavily
        # (shared intro/outro cards, block-constant synthetics — the
        # sf0.1 fixture set has 911 distinct frames, 306,966 key bytes,
        # across 15k sampled decodes). Bounded by accumulated key bytes
        # like the mp3 memo; within one task of one run, never across
        # runs. The cap is per task, so N concurrent tasks pin up to
        # N × 32 MB: below the ~60 MB sibling memos, and still ~100×
        # the sf0.1 key bytes.
        memo: dict[bytes, tuple] = {}
        memo_bytes = 0
        MEMO_BYTES_MAX = 32 * 1024 * 1024

        def frame_stats(fb: bytes) -> tuple:
            nonlocal memo_bytes
            got = memo.get(fb)
            if got is None:
                px = decode_jpeg(fb)
                got = (int(px.shape[1]), int(px.shape[0]),
                       float(px.astype(np.float64).mean()))
                if memo_bytes + len(fb) <= MEMO_BYTES_MAX:
                    memo[fb] = got
                    memo_bytes += len(fb)
            return got

        for pdf in batches:
            rows = {"media_id": [], "frame_idx": [], "width": [],
                    "height": [], "frame_mean": []}
            for mid, p in zip(pdf["media_id"].astype("int64"),
                              pdf["payload"]):
                meta = parse_video(bytes(p))
                for idx in range(0, len(meta["frames"]), every_n):
                    w_, h_, mean_ = frame_stats(
                        bytes(meta["frames"][idx]))
                    rows["media_id"].append(int(mid))
                    rows["frame_idx"].append(idx)
                    rows["width"].append(w_)
                    rows["height"].append(h_)
                    rows["frame_mean"].append(mean_)
            yield pd.DataFrame({
                "media_id": pd.Series(rows["media_id"], dtype="int64"),
                "frame_idx": pd.Series(rows["frame_idx"], dtype="int32"),
                "width": pd.Series(rows["width"], dtype="int32"),
                "height": pd.Series(rows["height"], dtype="int32"),
                "frame_mean": rows["frame_mean"],
            })

    return df.mapInPandas(_decode, schema=out_schema)


def video_frame_hashes(df: DataFrame) -> DataFrame:
    """Frame-level fingerprints WITHOUT decoding: walk each AVI's movi
    list and emit ``(media_id, frame_idx, frame_md5, frame_bytes)`` —
    one row per frame, md5 over the raw entropy-coded JPEG bytes. The
    primitive under video exact dedup: byte-identical frames (shared
    intro/outro cards, re-encoded duplicates of the same source, test
    patterns) are caught by the container walk alone, so the
    fingerprint pass costs RIFF parsing + one hash per frame — no
    Huffman, no IDCT, no pixels. Pixel-level near-dup (different
    encoder settings, same content) belongs to the decode path; this
    operator is the cheap first cut, exactly like byte-level payload
    dedup in `curate_media_corpus` runs before any codec work."""
    out_schema = ("media_id long, frame_idx int, frame_md5 string, "
                  "frame_bytes long")

    def _hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = {"media_id": [], "frame_idx": [], "frame_md5": [],
                    "frame_bytes": []}
            for mid, p in zip(pdf["media_id"].astype("int64"),
                              pdf["payload"]):
                meta = parse_video(bytes(p))
                for idx, fr in enumerate(meta["frames"]):
                    rows["media_id"].append(int(mid))
                    rows["frame_idx"].append(idx)
                    rows["frame_md5"].append(
                        hashlib.md5(fr).hexdigest())
                    rows["frame_bytes"].append(len(fr))
            yield pd.DataFrame({
                "media_id": pd.Series(rows["media_id"], dtype="int64"),
                "frame_idx": pd.Series(rows["frame_idx"], dtype="int32"),
                "frame_md5": rows["frame_md5"],
                "frame_bytes": pd.Series(rows["frame_bytes"],
                                         dtype="int64"),
            })

    return df.mapInPandas(_hashes, schema=out_schema)


def synthesize_frame_hashes(df: DataFrame, id_col: str, text_col: str,
                            n_frames: int = 6) -> DataFrame:
    """Fused synthesize→fingerprint for the frame-dedup bench path:
    one ``mapInPandas`` builds each document's MJPEG frames and emits
    ``(media_id, frame_md5)`` directly — the frame BYTES never cross
    an Arrow boundary (the generic ``synthesize_avi_mjpeg`` →
    ``video_frame_hashes`` chain pays two Python worker stages and a
    full payload serialization between them; the fingerprints are the
    only thing the dedup report needs). Identical frames by
    construction ⇔ identical 4-byte tile tuples, so the md5 is
    computed per DISTINCT tuple and memoized."""
    import hashlib

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q = np.ones((8, 8), np.int64)
        q[0, 0] = 8
        memo: dict[tuple, str] = {}

        def fhash(vals: np.ndarray) -> str:
            key = tuple(vals.tolist())
            got = memo.get(key)
            if got is None:
                px = np.repeat(np.repeat(vals.reshape(2, 2), 8, 0),
                               8, 1)
                got = hashlib.md5(encode_jpeg_baseline(
                    px.astype(np.uint8),
                    quant_tables=(q, q))).hexdigest()
                if len(memo) < 500_000:
                    memo[key] = got
            return got

        for pdf in batches:
            out_ids, out_md5 = [], []
            for mid, text in zip(pdf.iloc[:, 0].astype("int64"),
                                 pdf.iloc[:, 1].fillna("")):
                raw = (text.encode("utf-8") or b"\x00")
                bts = np.frombuffer(raw, dtype=np.uint8)
                for f in range(n_frames):
                    out_ids.append(int(mid))
                    out_md5.append(fhash(
                        bts[(4 * f + np.arange(4)) % len(bts)]))
            yield pd.DataFrame({
                "media_id": pd.Series(out_ids, dtype="int64"),
                "frame_md5": out_md5})

    return (_spread(df).select(F.col(id_col), F.col(text_col))
            .mapInPandas(_synth,
                         schema="media_id long, frame_md5 string"))


def frame_dedup_report(df: DataFrame,
                       ids: DataFrame | None = None,
                       hashes: DataFrame | None = None) -> DataFrame:
    """Corpus-wide frame-level exact-dup report over video payloads:
    for EVERY video (zero-frame containers included, with all-zero
    counts), how many of its frames are byte-duplicated elsewhere in
    the corpus (ANOTHER video shares the frame, or the same video
    repeats it), and the count of distinct frames. The filter signal a
    video curation pass uses to drop slideshows / re-encode twins
    before the expensive pixel work.

    ``ids`` (optional, one ``media_id`` per video): the zero-frame
    restoration branch needs the id universe, and deriving it from
    ``df`` costs a second full pass over the payload column (column
    pruning cannot reach inside a mapInPandas synthesizer or a decode
    stage). Pass the cheap id source when one exists — the catalog /
    metadata table the payloads were produced from.

    Plan: ONE container-walk fingerprint pass (the narrow hash
    projection is lazily localCheckpoint-ed so the count branch and
    the score branch don't walk the payloads twice; unlike a persist()
    pin — which CacheManager holds for the session unless the caller
    unpersists — checkpoint blocks are released by the ContextCleaner
    once the report DataFrame is dropped), one COMBINABLE count shuffle on
    the frame hash — map-side partials collapse a viral frame (a black
    card duplicated a billion times) to one row per task, where a
    count-window over the hash would sort the billion rows in a single
    partition — then a broadcast of only the DUPLICATED hashes back
    onto the hash stream (map-side, no second hash shuffle) and one
    final aggregate on media_id. Never frame×frame."""
    # LAZY checkpoint: materialized by the first action (the broadcast
    # side's build job lands the blocks before the main branch reads
    # them), so constructing the report stays side-effect free while
    # the payload walk still happens once and the blocks are released
    # with the DataFrame instead of pinned in CacheManager.
    # ``hashes`` (media_id, frame_md5) skips the payload walk entirely
    # — the fused-synthesis fast path (synthesize_frame_hashes).
    if hashes is not None:
        h = (hashes.select("media_id", "frame_md5")
             .localCheckpoint(eager=False))
    else:
        h = (video_frame_hashes(df).select("media_id", "frame_md5")
             .localCheckpoint(eager=False))
    dup_hashes = (h.groupBy("frame_md5")
                   .agg(F.count("*").alias("__n"))
                   .where(F.col("__n") > 1)
                   .select("frame_md5", F.lit(1).alias("__dup")))
    flagged = h.join(F.broadcast(dup_hashes), "frame_md5", "left")
    report = (flagged.groupBy("media_id")
              .agg(F.count("*").alias("n_frames"),
                   F.countDistinct("frame_md5").alias("n_distinct"),
                   F.count("__dup").alias("n_duplicated"))
              .select("media_id", "n_frames",
                      F.col("n_distinct").cast("long"),
                      F.col("n_duplicated").cast("long")))
    # zero-frame videos produce no hash rows — restore them with
    # all-zero counts so the report covers every input video
    if ids is None:
        if df is None:
            raise ValueError("frame_dedup_report(hashes=...) needs "
                             "ids= — zero-frame videos are absent "
                             "from the hash stream")
        ids = df.select("media_id").distinct()
    else:
        ids = ids.select("media_id").distinct()
    return (ids.join(report, "media_id", "left")
            .select("media_id",
                    F.coalesce("n_frames", F.lit(0)).alias("n_frames"),
                    F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
                    F.coalesce("n_duplicated",
                               F.lit(0)).alias("n_duplicated")))
