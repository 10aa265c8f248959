"""One way to run a per-row Python function as a Spark stage.

Every per-row Python stage in the package — the ``synthesize_*``
payload builders and the decoders (image, audio, video, EXIF, GRIB2,
HDF5, WARC, sitemaps) — is a pure function of one input value and its
row id that returns that row's output rows. ``row_stage`` is the one
Arrow ``mapInPandas`` stage that runs such a function over a
DataFrame; the callers keep only their per-row logic and a DDL
schema. The runner owns the rest:

- the ``select`` of the id, the input column and any ``keep``
  columns: ``mapInPandas`` is opaque to Spark's column pruning, so
  without it every other column would cross the Arrow boundary for
  nothing;
- the batch loop;
- repeating the id and the ``keep`` values once per output row, so a
  function returns zero, one or many rows per input row;
- one typed pandas frame per batch, built from the schema. Integer
  columns are nullable (``Int64``/``Int32``), so a batch whose values
  are all null needs no special case.

``payload_stage`` is ``row_stage`` for builders
``build(text, id) -> bytes``, and ``media_payloads`` adds the media
frame ``(media_id, media_type, payload, n_bytes)`` as a Spark
projection on top, so byte counts and media types never cross the
Arrow boundary.

``byte_memo`` is the one memo for a function of payload bytes: keyed
by the bytes, bounded by the total size of its keys. State a function
captures (a memo, a quantization table) is pickled with it and
deserialized afresh for each task, so a memo lives for one task and
its cap bounds one task's memory.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                               StructField, StructType)

from .text import _spread

# pandas dtype per Spark type (None reads as null in every one);
# anything else (strings, binary, arrays) travels as object
_PANDAS_DTYPE = {LongType: "Int64", IntegerType: "Int32",
                 DoubleType: "float64"}


def row_stage(df: DataFrame, id_col: str, in_col: str,
              fn: Callable[[object, int], Iterable[tuple]], schema: str,
              *, id_name: str = "media_id",
              keep: Sequence[str] = ()) -> DataFrame:
    """``(id_name long, *keep, *schema)``: for each input row, the rows
    ``fn(value, id)`` returns — tuples matching the DDL ``schema`` —
    each prefixed with the row's id (a Python int) and its ``keep``
    values. ``value`` is the ``in_col`` value as pandas gives it
    (``None`` for null)."""
    keep = tuple(keep)
    fields = StructType.fromDDL(schema).fields
    out = StructType([StructField(id_name, LongType()),
                      *(df.schema[c] for c in keep), *fields])
    dtypes = [_PANDAS_DTYPE.get(type(f.dataType), object) for f in fields]
    names = [f.name for f in fields]

    def _stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf.iloc[:, 0].astype("int64")
            rows: list[tuple] = []
            counts = np.zeros(len(pdf), np.int64)
            for j, (v, i) in enumerate(zip(pdf.iloc[:, 1], ids.tolist())):
                n = len(rows)
                rows.extend(fn(v, i))
                counts[j] = len(rows) - n
            take = np.repeat(np.arange(len(pdf)), counts)
            frame = {id_name: ids.to_numpy()[take]}
            for k, c in enumerate(keep):
                frame[c] = pdf.iloc[:, 2 + k].array.take(take)
            for k, (name, dt) in enumerate(zip(names, dtypes)):
                frame[name] = pd.Series([r[k] for r in rows], dtype=dt)
            yield pd.DataFrame(frame)

    return (df.select(F.col(id_col), F.col(in_col), *map(F.col, keep))
            .mapInPandas(_stage, schema=out))


def byte_memo(fn: Callable[[bytes], object],
              max_bytes: int) -> Callable[[bytes], object]:
    """``fn`` memoized on its bytes argument. The memo holds at most
    ``max_bytes`` of keys; a key that does not fit is computed and not
    stored."""
    memo: dict[bytes, object] = {}
    size = 0

    def memoized(key: bytes):
        nonlocal size
        if key in memo:
            return memo[key]
        got = fn(key)
        if size + len(key) <= max_bytes:
            memo[key] = got
            size += len(key)
        return got

    return memoized


def payload_stage(df: DataFrame, id_col: str, text_col: str,
                  build: Callable[[str, int], bytes],
                  id_name: str = "media_id") -> DataFrame:
    """``(id_name long, payload binary)``: one row per input row, the
    payload ``build(text, id)`` with null text read as ``""``."""
    return row_stage(_spread(df), id_col, text_col,
                     lambda t, i: ((build("" if t is None else t, i),),),
                     "payload binary", id_name=id_name)


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
