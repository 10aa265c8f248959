"""Per-row Python stages: one shared runner, pinned output.

Every ``synthesize_*`` payload builder and every decoder runs through
``operators/_kernel.row_stage`` (the builders through its
``payload_stage`` wrapper). The digests below pin each synthesizer's
rows (schema, ids, media types, payload bytes, byte counts) over one
fixed input whose ids cover every residue class the builders branch
on, crossed with ASCII, non-ASCII, long, empty and null text, and each
decoder's rows over those payloads."""

from __future__ import annotations

import ast
import hashlib
import pathlib

import pytest
from pyspark.sql import functions as F

from climate_data_pipeline_spark.operators import audio_meta, mp3, video
from climate_data_pipeline_spark.operators import multimodal as MM
from climate_data_pipeline_spark.operators.exif import (
    attach_exif, exif_jpeg_post, exif_metadata)
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
    "frame_hashes": lambda d: video.synthesize_frame_hashes(
        d, "doc_id", "text"),
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
    "frame_hashes":
        "201eb2e409cbd364f90ed69a782049dafdeabe84080f22fb927944239db42567",
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


def _typed(case, *types):
    """The payloads of one synthesizer case, restricted to media types."""
    return lambda d: CASES[case](d).where(F.col("media_type").isin(*types))


def _sitemaps(d):
    """One sitemap document per id: a ``<urlset>`` of ``1 + id % 4``
    entries with every optional field pattern, a ``<sitemapindex>``
    for every 11th id."""
    ns = ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'

    def doc(i):
        if i % 11 == 0:
            return (f"<sitemapindex{ns}><sitemap><loc>https://h{i}.org/"
                    f"s.xml</loc><lastmod>2024-03-01</lastmod></sitemap>"
                    f"</sitemapindex>")
        urls = "".join(
            f"<url><loc>https://h{i}.org/p/{k}</loc>"
            + (f"<lastmod>2024-01-0{k + 1}</lastmod>" if k % 2 == 0
               else "")
            + ("<changefreq>daily</changefreq>" if k % 3 == 0 else "")
            + (f"<priority>0.{k + 1}</priority>" if k % 3 != 2 else "")
            + "</url>" for k in range(1 + i % 4))
        return f'<?xml version="1.0"?><urlset{ns}>{urls}</urlset>'

    xml = d.sparkSession.createDataFrame(
        [(i, doc(i)) for i in range(N_IDS)], "doc_id long, xml string")
    return warc.sitemap_extract(xml, "xml", "doc_id")


_IMAGES = ["media", "png", "png_subbyte", "png_gray", "jpeg",
           "jpeg_progressive", "jpeg_exif", "gif", "bmp", "tiff", "webp",
           "ico", "flac", "audio_formats", "avi_mjpeg", "avi_mjpeg_mp4",
           "avi_mjpeg_mixed"]
_GRIB_LONG = ["grib2", "grib2_complex", "grib2_reduced", "grib2_missing",
              "grib2_lambert", "grib2_jpeg2000", "grib2_aec",
              "grib2_spaceview"]

# every decoder over the payloads pinned above: (payload frame builder,
# decoder) by case name
DECODE_CASES = {
    **{f"decode_media_real/{c}": (CASES[c], MM.decode_media_real)
       for c in _IMAGES},
    "decode_media/media": (CASES["media"], MM.decode_media),
    "audio_features/media": (_typed("media", "audio/wav"),
                             MM.audio_features),
    "audio_features/audio_formats": (
        _typed("audio_formats", "audio/wav;codec=ulaw",
               "audio/wav;codec=alaw", "audio/wav;bits=24"),
        MM.audio_features),
    "resize_image_area/png_gray": (CASES["png_gray"],
                                   MM.resize_image_area),
    "resize_image_area/media": (_typed("media", "image/x-portable-graymap"),
                                lambda m: MM.resize_image_area(m, 4)),
    "resize_image_area/jpeg": (CASES["jpeg"], MM.resize_image_area),
    "byte_histogram_features/media": (CASES["media"],
                                      MM.byte_histogram_features),
    "frame_sample/avi_mjpeg": (CASES["avi_mjpeg"],
                               lambda m: MM.frame_sample(m, every_n=64)),
    "decode_video_frames/avi_mjpeg_mixed": (CASES["avi_mjpeg_mixed"],
                                            video.decode_video_frames),
    "decode_video_frames/avi_mjpeg_every1": (
        CASES["avi_mjpeg"], lambda m: video.decode_video_frames(m, 1)),
    "video_frame_hashes/avi_mjpeg_mixed": (CASES["avi_mjpeg_mixed"],
                                           video.video_frame_hashes),
    "mp3_mdct_features/mp3": (CASES["mp3"], mp3.mp3_mdct_features),
    "audio_container_meta/compressed_audio": (
        CASES["compressed_audio"], audio_meta.audio_container_meta),
    "exif_metadata/jpeg_exif": (CASES["jpeg_exif"], exif_metadata),
    # no payload carries EXIF: every batch is all-null
    "exif_metadata/jpeg": (CASES["jpeg"], exif_metadata),
    "attach_exif/jpeg": (CASES["jpeg"], attach_exif),
    **{f"grib2_long/{c}": (CASES[c], grib2.grib2_long)
       for c in _GRIB_LONG},
    "grib2_interval_stats/grib2_interval": (CASES["grib2_interval"],
                                            grib2.grib2_interval_stats),
    "grib2_spectral_long/grib2_spectral": (CASES["grib2_spectral"],
                                           grib2.grib2_spectral_long),
    **{f"hdf5_szip_stats/{c}": (CASES[c], hdf5.hdf5_szip_stats)
       for c in ("hdf5_szip", "hdf5_so_float", "hdf5_nbit_so")},
    "warc_extract/warc": (CASES["warc"], warc.warc_extract),
    "warc_extract/warc_text": (
        CASES["warc"], lambda m: warc.warc_extract(m, include_text=True)),
    "sitemap_extract/xml": (lambda d: d, _sitemaps),
}

# sha256 of each decoder's rows, computed with the per-decoder
# mapInPandas stages the shared row stage replaced; the one exception
# is audio_features/audio_formats (μ-law, A-law and 24-bit WAVs the old
# stage rejected), whose values test_extensions checks against numpy
DECODE_DIGESTS = {
    "attach_exif/jpeg":
        "b7a9a9a53413a089b2520e8655401183a96a2ba4603d3e43ce68aea7ec7c277f",
    "audio_container_meta/compressed_audio":
        "65cb0a34269dcb3840fdbc57a014240b48f79a43b33f87fda9da4921e8d12ba2",
    "audio_features/audio_formats":
        "2a9f6f529a659b5240f2bdbbd8915d5de73b8049a9113a014b2616bf6084e1b9",
    "audio_features/media":
        "125393d65295ec6b0b7f88d96cf2af3eff40811fb5cf5e3d6b75ea243f1a69c0",
    "byte_histogram_features/media":
        "7b5ef53f6a73fec7bc03734cf246bd5167103b354e594297d5bc422f782565eb",
    "decode_media/media":
        "2c7036463a31e05ae5fd6193da25da55bb23e527a602077ff87ffeee756a3dc3",
    "decode_media_real/audio_formats":
        "e6aeb7a1520d659cfc93fdee67c89d9be2ea4d760bf34377580c4d35f6a3d5f4",
    "decode_media_real/avi_mjpeg":
        "49f83113cbc9348d566e02f6ef5ba48008df0f669d2a5d53d605c54459c0a66b",
    "decode_media_real/avi_mjpeg_mixed":
        "c5e37674ad0f477a55ec8c15dbff65b80339697049f05e88ce044e767732da87",
    "decode_media_real/avi_mjpeg_mp4":
        "f6841500b33eff78c50f5f0312809b695ca59687b69a9708d2bca19839566da3",
    "decode_media_real/bmp":
        "c0984be78dd93b52e3382ce1dd93bf8bd0df0d85785aef25c23e0c63613c02a7",
    "decode_media_real/flac":
        "fac2b13fb30a903d8c0850001f5cf1c329da4385ffc1aee4bb8be2f3afefa6a1",
    "decode_media_real/gif":
        "95ab4969cab74073f072e400511ea34d3feb88612dbd9402aee322de4764c4f8",
    "decode_media_real/ico":
        "a18e5cb50ab8be96a65e1cbd36d3f13b81f421bc317b5fc4320988ab1fc5675a",
    "decode_media_real/jpeg":
        "1fec47aa953b18d822f4ef65a4ecf374c02b42fe2f1c433f15a81c482328c4aa",
    "decode_media_real/jpeg_exif":
        "b049f787b245e7174befda55194d3d5af889691d1b88e4077fffdd72b03a6611",
    "decode_media_real/jpeg_progressive":
        "d363a7b0a0787e4357438c27c8bfef26d5a74e99874f5e591d948ee4560b86fc",
    "decode_media_real/media":
        "c7e767742bc8d497623c6b9ea4428dbbed1103a6957a6cc0ff01d5ec3409f814",
    "decode_media_real/png":
        "3a55985c1ac5543dabc31a4731782cb8469cc785f625b2353be4ef17cf07afcf",
    "decode_media_real/png_gray":
        "d73b43647795e47dae91b72fc5c16d9d03a1fb855c136f2545aa5daa5b102bc9",
    "decode_media_real/png_subbyte":
        "f37c1885867c1eb3feae845bdab85aacb52d6113133404c3c5e41d09095d161c",
    "decode_media_real/tiff":
        "d5cda369f9112a9b791efb5a14f78d5064fea58b0806eb8eb4193efce1140387",
    "decode_media_real/webp":
        "7406385359040d2d485aa82240ac2ecd3675f694dae14956a3cd34ad644418d6",
    "decode_video_frames/avi_mjpeg_every1":
        "b66f86362628d5fb0f3e6ed42fe07c94ccc66a59815a501827f30f892aefdb59",
    "decode_video_frames/avi_mjpeg_mixed":
        "1f69d95abb14517df36e29feab6a39695b73d5758ad7e1eeaf578e34d2d65b9f",
    "exif_metadata/jpeg":
        "4efba6c335c267cb00bcd6250ae5a0e667bb554cb14cee097871484f0853dac6",
    "exif_metadata/jpeg_exif":
        "c21bfca3e88f6cd906d8b25053d133f1b969a5607b4d77129a848db09702131c",
    "frame_sample/avi_mjpeg":
        "cff96fe18be97c6013ff42d9dbe93441842f2661b6100a510c8fc00764e75323",
    "grib2_interval_stats/grib2_interval":
        "f5aa548b1e552ae9347f1097b7d963df1f8b08e518ad9240ae9ca2311748dd7e",
    "grib2_long/grib2":
        "8f18e4164b1ae49478816c0e105a43fc61f78d7ed6f82b952148fd57a0b633cf",
    "grib2_long/grib2_aec":
        "3fdb8534e4691d7b317bd710c0eb63854a98ac85c17e369849d2a93eff18cff1",
    "grib2_long/grib2_complex":
        "aa126e2954313d52c8393bec6c1c52059febf69acbc949baec683687bf4b3df8",
    "grib2_long/grib2_jpeg2000":
        "5e239f3635f69dd3512644e97bd75bcbe1e0977c45f42dd3da4e7183c4f2dd19",
    "grib2_long/grib2_lambert":
        "7df6c87bb8ac5d07fcdba82e703305c0a8eceb71f68623b71b40966c9d447f8e",
    "grib2_long/grib2_missing":
        "68922ad29d04c7d4485aa9dbaf6d0dfb27e5d32572addfbb718141ea57bdd164",
    "grib2_long/grib2_reduced":
        "1d79d77de8e4a2fe897517b2e7f55de1d06407ba3c4cb985b7fcb88ee5e0af5f",
    "grib2_long/grib2_spaceview":
        "9b4e3f58ba66895ddb4149b734db0cfc82bba1a2149f139d1861d1462c64671b",
    "grib2_spectral_long/grib2_spectral":
        "5f640007175ac43f812e91f54a1f3aca41ad98243b231fee31b20341bb9d2110",
    "hdf5_szip_stats/hdf5_nbit_so":
        "2bb3a48355bbd5b8a40b49041e818725c8166a96256385e67bd6cb71a3644bfa",
    "hdf5_szip_stats/hdf5_so_float":
        "265d80fa0cda09dc1d4afc878f01c3cbca70743d02489b434f011512f98304c1",
    "hdf5_szip_stats/hdf5_szip":
        "646247f4d405482c677d70421797ab5c4704dbf1cee250064f79a23e916b9b33",
    "mp3_mdct_features/mp3":
        "0cd4c36a1ea175f4b4f51354bc1bb7e958384123033ba32ad0c1c9aeef5fcc22",
    "resize_image_area/jpeg":
        "8c4469984d355d56de1a6d1a1a9b9bafefd7518bbf6e43d070b17c372ce80afa",
    "resize_image_area/media":
        "1c26a2056f26ec3c2df4a774b59f98e0191baa28a6d2cf710089de0d61f4d877",
    "resize_image_area/png_gray":
        "ad715b9a351e9470b5cd24acfb1560b71e1752effa967ec03b39abd10157f71a",
    "sitemap_extract/xml":
        "38426e3fd502b3854a71254da1febc12079df5a4118b137608abc5f9e02a6bbf",
    "video_frame_hashes/avi_mjpeg_mixed":
        "ed7bfa85fe7eee0fac11865cd0bedf49bdeb77f991d0a51740fca427bc8a953e",
    "warc_extract/warc":
        "70799197706afa78d38a592402b910d5424fa222cc275ffbdf09bdd871175895",
    "warc_extract/warc_text":
        "c9bce1a60455d6ef56657210317625118333d7d74fe38090b9f31120ec7515db",
}


@pytest.mark.parametrize("name", sorted(DECODE_CASES))
def test_decoder_rows_pinned(docs, name):
    payloads, decode = DECODE_CASES[name]
    assert _digest(decode(payloads(docs))) == DECODE_DIGESTS[name]


# package functions outside _kernel.py that keep a Python stage of their
# own, with the reason: none of them maps one input column row by row
STAYING_STAGES = {
    "operators/dedup.py:_components_single_task":
        "one task runs union-find over the whole edge list",
    "operators/similarity.py:cosine_topk_blocked":
        "batch-vectorized scorer over whole Arrow batches",
    "operators/text.py:_bpe_single_task":
        "one task runs the merge loop over the whole vocabulary",
    "sources/netcdf.py:chunk_tasks_long":
        "chunk-per-task reader over chunk keys",
    "sources/netcdf.py:read_netcdf3_many":
        "binaryFile reader of whole files",
    "sources/safetensors.py:_spanned_embedding_df":
        "reads byte spans of one file per task",
    "sources/warc.py:robots_screen":
        "reads two input columns of a joined frame",
}

_STAGE_CALLS = ("mapInPandas", "mapInArrow", "applyInPandas")


def _functions():
    """Module-level functions and class methods of the package; a nested
    helper counts as part of the function that defines it."""
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            for fn in (node.body if isinstance(node, ast.ClassDef)
                       else [node]):
                if isinstance(fn, ast.FunctionDef):
                    yield path.relative_to(PKG), fn


def _calls(fn, names) -> bool:
    return any(isinstance(n, (ast.Attribute, ast.Name))
               and getattr(n, "attr", getattr(n, "id", None)) in names
               for n in ast.walk(fn))


def _synthesizers():
    return ((p, fn) for p, fn in _functions()
            if fn.name.startswith("synthesize_"))


def test_synthesizers_run_through_the_shared_stage():
    """No payload synthesizer runs a Python stage of its own: each one
    hands its per-row builder to `payload_stage` or `row_stage`, so the
    copied batch loops cannot grow back."""
    wrong = [f"{path}:{fn.lineno} {fn.name}"
             for path, fn in _synthesizers() if _calls(fn, _STAGE_CALLS)]
    assert not wrong, wrong


def test_only_named_stages_map_outside_the_kernel():
    """Every per-row Python stage runs through `_kernel.row_stage`:
    outside `_kernel.py`, only the STAYING_STAGES functions call
    `mapInPandas`/`mapInArrow`, and each of them still does."""
    found = {f"{path.as_posix()}:{fn.name}"
             for path, fn in _functions()
             if path.name != "_kernel.py"
             and _calls(fn, ("mapInPandas", "mapInArrow"))}
    assert found == set(STAYING_STAGES)


def test_every_payload_synthesizer_is_pinned():
    names = {fn.name for _, fn in _synthesizers()}
    source = pathlib.Path(__file__).read_text()
    assert not {n for n in names if f".{n}(" not in source}


def test_every_row_stage_decoder_is_pinned():
    """Each package function that hands a per-row function to
    `row_stage` has a case in DECODE_CASES (or CASES)."""
    names = {fn.name for path, fn in _functions()
             if path.name != "_kernel.py"
             and _calls(fn, ("row_stage",))}
    cases = " ".join(DECODE_CASES) + " " + pathlib.Path(
        __file__).read_text()
    assert len(names) >= 19
    assert not {n for n in names
                if f"{n}/" not in cases and f".{n}(" not in cases}
