"""Payload synthesizers: one shared stage, byte-identical output.

Every ``synthesize_*`` payload builder runs through
``operators/_kernel.payload_stage``; the digests below pin each one's
rows (schema, ids, media types, payload bytes, byte counts) over one
fixed input whose ids cover every residue class the builders branch
on, crossed with ASCII, non-ASCII, long, empty and null text."""

from __future__ import annotations

import ast
import hashlib
import pathlib

import pytest

from climate_data_pipeline_spark.operators import audio_meta, mp3, video
from climate_data_pipeline_spark.operators import multimodal as MM
from climate_data_pipeline_spark.operators.exif import exif_jpeg_post
from climate_data_pipeline_spark.sources import grib2, hdf5, warc

PKG = (pathlib.Path(__file__).resolve().parents[1]
       / "climate_data_pipeline_spark")

TEXTS = ["hello world 42", "héllo ☃ Ünïcode 日本語", "",
         None, "The quick brown fox jumps over the lazy dog. " * 3]

# id i carries TEXTS[(i // 7) % 5]: each text kind meets all residues
# of every modulus up to 7 (7 consecutive ids per kind)
N_IDS = 35

CASES = {
    "media": lambda d: MM.synthesize_media(d, "doc_id", "text"),
    "png": lambda d: MM.synthesize_png(d, "doc_id", "text"),
    "png_subbyte": lambda d: MM.synthesize_png(d, "doc_id", "text",
                                               subbyte_every=11),
    "png_gray": lambda d: MM.synthesize_png(d, "doc_id", "text",
                                            rgb_every=0),
    "jpeg": lambda d: MM.synthesize_jpeg(d, "doc_id", "text"),
    "jpeg_progressive": lambda d: MM.synthesize_jpeg(
        d, "doc_id", "text", progressive_every=5),
    "jpeg_exif": lambda d: MM.synthesize_jpeg(d, "doc_id", "text",
                                              post=exif_jpeg_post),
    "gif": lambda d: MM.synthesize_gif(d, "doc_id", "text"),
    "bmp": lambda d: MM.synthesize_bmp(d, "doc_id", "text"),
    "tiff": lambda d: MM.synthesize_tiff(d, "doc_id", "text"),
    "webp": lambda d: MM.synthesize_webp(d, "doc_id", "text"),
    "flac": lambda d: MM.synthesize_flac(d, "doc_id", "text"),
    "audio_formats": lambda d: MM.synthesize_audio_formats(d, "doc_id",
                                                           "text"),
    "ico": lambda d: MM.synthesize_ico(d, "doc_id", "text"),
    "avi_mjpeg": lambda d: video.synthesize_avi_mjpeg(d, "doc_id", "text"),
    "avi_mjpeg_mp4": lambda d: video.synthesize_avi_mjpeg(
        d, "doc_id", "text", container="mp4"),
    "avi_mjpeg_mixed": lambda d: video.synthesize_avi_mjpeg(
        d, "doc_id", "text", container="mixed"),
    "mp3": lambda d: mp3.synthesize_mp3(d, "doc_id", "text"),
    "compressed_audio": lambda d: audio_meta.synthesize_compressed_audio(
        d, "doc_id", "text"),
    "grib2": lambda d: grib2.synthesize_grib2(d, "doc_id", "text"),
    "grib2_complex": lambda d: grib2.synthesize_grib2_complex(
        d, "doc_id", "text"),
    "grib2_interval": lambda d: grib2.synthesize_grib2_interval(
        d, "doc_id", "text"),
    "grib2_reduced": lambda d: grib2.synthesize_grib2_reduced(
        d, "doc_id", "text"),
    "grib2_missing": lambda d: grib2.synthesize_grib2_missing(
        d, "doc_id", "text"),
    "grib2_lambert": lambda d: grib2.synthesize_grib2_lambert(
        d, "doc_id", "text"),
    "grib2_jpeg2000": lambda d: grib2.synthesize_grib2_jpeg2000(
        d, "doc_id", "text"),
    "grib2_aec": lambda d: grib2.synthesize_grib2_aec(d, "doc_id", "text"),
    "grib2_spectral": lambda d: grib2.synthesize_grib2_spectral(
        d, "doc_id", "text"),
    "grib2_spaceview": lambda d: grib2.synthesize_grib2_spaceview(
        d, "doc_id", "text"),
    "hdf5_szip": lambda d: hdf5.synthesize_hdf5_szip(d, "doc_id", "text"),
    "hdf5_so_float": lambda d: hdf5.synthesize_hdf5_so_float(
        d, "doc_id", "text"),
    "hdf5_nbit_so": lambda d: hdf5.synthesize_hdf5_nbit_so(
        d, "doc_id", "text"),
    "warc": lambda d: warc.synthesize_warc(d, "doc_id", "text"),
}

# sha256 of each case's rows, computed with the per-synthesizer
# mapInPandas stages the shared stage replaced
DIGESTS = {
    "audio_formats":
        "73a4d483202e644bb2f248d36cb4e081c345615045801ee146acd8f08e139f90",
    "avi_mjpeg":
        "394e7a6d094dd1220849eb697a83e74028687599d2027be7708c0d9cfc42d4d7",
    "avi_mjpeg_mixed":
        "049d8397c3bd686877c84dbba5fd85f3cd00a8d9691ad54c9465b978e8303754",
    "avi_mjpeg_mp4":
        "baf9fd265deca18756d2215e3e0986abfeeb42974b4f40edfafc91b625656a8e",
    "bmp":
        "b15c7970080466e1ed6a47c3e1eca42b7f45c106b4de0e9660a604d78c38063f",
    "compressed_audio":
        "624df6b0fcd893d8e5de76f864495f7034933c90f593dcada6f54c5d818274a6",
    "flac":
        "410a556c783e3d2039cad3b9e9605ef2893b98140fdd9d65aa9616f66c0cb183",
    "gif":
        "23f2dd2bfaa9fae41305f77e66daa859c4106a01b2091f7ef08c46a9db217823",
    "grib2":
        "42dbf534a36c97e97d47561dda01addac8715a984ce936a82ed752f9562adb9e",
    "grib2_aec":
        "0e58c91cdb40da703a7e9e4744473b09c62ba60f7bf7cbc99cb283989363ad83",
    "grib2_complex":
        "8558cfb8e7cdf8309f0597cb18e4a2ec183a72c7d8e8ca2b0bd9398c5652da48",
    "grib2_interval":
        "9d6f8b3d6497d706975d82525484ffb9841bdb861d32e56ec88e971c71b2b7c3",
    "grib2_jpeg2000":
        "b80b4c85f1620eac79b504592631ee85d0003af65f7bd44b977c79f46c1dc51e",
    "grib2_lambert":
        "c7f057f4343b2a2235c584f5b3b6b22ddf6181e591d09ad664033283597c7d4c",
    "grib2_missing":
        "ebb4df1d0eafbb7b611e4720b5ada2ed6a43daa4b6f73d7b847b0762bc3e76d3",
    "grib2_reduced":
        "719d30bb01d0c0301883ecf70abe10685aa4ab2de11b650e5120e46af387b291",
    "grib2_spaceview":
        "a699e508a49bd4929796da82e587a58a3ce2fe89ec4f707191e28fb255506c61",
    "grib2_spectral":
        "47ca4843ac1fa5bd1bc1229af7d2eb7f42e1a47b92568bab08e245f1d0674f29",
    "hdf5_nbit_so":
        "a2d30d1492a7ef943bfe93041704e824d4b9dc75bfa4394cc9cd2ee1a91967fd",
    "hdf5_so_float":
        "57b2409803aa22ff3528d607636a84f130df3ce7ed38b7d21ff41779efb19bd8",
    "hdf5_szip":
        "6a1bc02158eb325bd1b3c270631bad387d3360a35d6279bc2e013dfa00f35dbd",
    "ico":
        "a4ce0f76975bbd5577f5b039ffa456771954c9750e28a3ea5a275d0ad2de70bd",
    "jpeg":
        "c358221de05f428470217b497dc908f7568ff4574228c32407cbcb2f246d8ac6",
    "jpeg_exif":
        "b7a9a9a53413a089b2520e8655401183a96a2ba4603d3e43ce68aea7ec7c277f",
    "jpeg_progressive":
        "dd940ac370aac156cd0e74943c387eec666977e02f33bd27cda29adc49786890",
    "media":
        "0329f9e2893669a4ef5da10124b394a63332ed257b18aba4651d7b34b37f53e2",
    "mp3":
        "adb46a6007c19d23f0ca7c2cb53de3ac4572da602adf817fa6164fb7521884c4",
    "png":
        "1712fc8ac1a02e1d4de2991dcbfe41060e5cdaeaf3cb85e99b4e680df1aa4843",
    "png_gray":
        "45cf4416237d7935ae24db137cf8fdedad5b7a441ec01fdff2e4be9217cd28ec",
    "png_subbyte":
        "ca0ac87b89230deb4bcb7088dcd85f37793c11e7bfa83052023743bcb98b8a58",
    "tiff":
        "642487accd14b8873e5b7c5b4ade497c46f2f234a524b6107181be0cb23d9bb7",
    "warc":
        "91c973e6b2d3d1601d25268c0fb4f9f6f47c95e3c7c8532423702cbb491cbcf6",
    "webp":
        "324abb64779e237f242d754221aaf938b02dda9cd06a7e518a30c4c79f9b6aeb",
}


def _digest(df) -> str:
    h = hashlib.sha256(df.schema.simpleString().encode())
    for row in sorted(df.collect(), key=lambda r: r[0]):
        for v in row:
            b = (bytes(v) if isinstance(v, (bytes, bytearray))
                 else repr(v).encode())
            h.update(len(b).to_bytes(8, "little") + b)
    return h.hexdigest()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, TEXTS[(i // 7) % len(TEXTS)]) for i in range(N_IDS)]
    return spark.createDataFrame(rows, "doc_id long, text string") \
                .repartition(2)


@pytest.mark.parametrize("name", sorted(CASES))
def test_synthesizer_bytes_pinned(docs, name):
    assert _digest(CASES[name](docs)) == DIGESTS[name]


# synthesizers that keep a stage of their own, with the reason
OWN_STAGE = {
    "synthesize_frame_hashes": "emits n_frames (media_id, frame_md5) "
                               "rows per document and no payload",
}


def _synthesizers():
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.FunctionDef)
                    and node.name.startswith("synthesize_")):
                yield path.relative_to(PKG), node


def test_synthesizers_run_through_the_shared_stage():
    """No payload synthesizer runs a Python stage of its own: each one
    hands its per-row builder to `payload_stage`, so the copied batch
    loops cannot grow back."""
    wrong = []
    for path, fn in _synthesizers():
        own = any(isinstance(n, ast.Attribute)
                  and n.attr in ("mapInPandas", "mapInArrow",
                                 "applyInPandas")
                  for n in ast.walk(fn))
        if own != (fn.name in OWN_STAGE):
            wrong.append(f"{path}:{fn.lineno} {fn.name}")
    assert not wrong, wrong


def test_every_payload_synthesizer_is_pinned():
    names = {fn.name for _, fn in _synthesizers()} - set(OWN_STAGE)
    source = pathlib.Path(__file__).read_text()
    assert not {n for n in names if f".{n}(" not in source}
