"""One way to run a per-row payload builder as a Spark stage.

Every ``synthesize_*`` payload builder in the package (image, audio and
video codecs, GRIB2, HDF5, WARC) is a pure function
``build(text, id) -> bytes``. ``payload_stage`` is the one Arrow
``mapInPandas`` stage that runs such a function over a DataFrame; the
builders keep only their per-row logic. ``media_payloads`` adds the
media frame ``(media_id, media_type, payload, n_bytes)`` as a Spark
projection on top, so the byte counts and media types never cross the
Arrow boundary.

State a builder captures (a memo dict, a quantization table) is pickled
with it and deserialized afresh for each task, so a captured memo lives
for one task and its cap bounds one task's memory.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import _spread


def payload_stage(df: DataFrame, id_col: str, text_col: str,
                  build: Callable[[str, int], bytes],
                  id_name: str = "media_id") -> DataFrame:
    """``(id_name long, payload binary)``: one row per input row, the
    payload ``build(text, id)`` with null text read as ``""`` and the id
    as a Python int."""
    def _stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf.iloc[:, 0].astype("int64")
            yield pd.DataFrame({
                id_name: ids,
                "payload": [build(t, i) for t, i in
                            zip(pdf.iloc[:, 1].fillna(""), ids)]})

    return (_spread(df).select(F.col(id_col), F.col(text_col))
            .mapInPandas(_stage, schema=f"{id_name} long, payload binary"))


def media_frame(df: DataFrame, media_type: str | Sequence[str]
                ) -> DataFrame:
    """``(media_id, payload)`` → the media frame
    ``multimodal.MEDIA_SCHEMA``, with ``n_bytes = length(payload)``.
    ``media_type`` is one type for every row, or a list read at
    ``media_id % len(list)`` (Python's non-negative modulus, as the
    builders branch on it)."""
    if isinstance(media_type, str):
        mtype = F.lit(media_type)
    else:
        mtype = F.element_at(F.array(*map(F.lit, media_type)),
                             F.pmod("media_id", F.lit(len(media_type)))
                             .cast("int") + 1)
    return df.select("media_id", mtype.alias("media_type"), "payload",
                     F.length("payload").cast("long").alias("n_bytes"))


def media_payloads(df: DataFrame, id_col: str, text_col: str,
                   build: Callable[[str, int], bytes],
                   media_type: str | Sequence[str]) -> DataFrame:
    """``payload_stage`` framed by ``media_frame``."""
    return media_frame(payload_stage(df, id_col, text_col, build),
                       media_type)
