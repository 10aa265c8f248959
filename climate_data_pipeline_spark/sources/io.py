"""Parquet sources and layout-tuned sinks.

Spark-first equivalents of the reference's ingest layer
(`/root/reference/src/climate_pipeline/ingest/netcdf_reader.py:13-77` lazy
scan with projection/predicates, `ingest/arco_converter.py:110-160` chunked
compressed sink): ``spark.read.parquet`` gives lazy scans with Catalyst
column pruning + predicate pushdown for free; the sink presets mirror the
reference's access-pattern chunking (`ingest/arco_converter.py:20-107`,
`processing/chunking.py:17-103`) as partition/sort layouts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# Columns stored as parquet TIMESTAMP(NANOS), which Spark's vectorized
# reader rejects outright. With ``nanosAsLong`` they surface as raw int64
# nanoseconds; the loader converts to TimestampType (µs) with integer
# floor-division — the same truncation DuckDB applies, so oracle
# comparisons stay exact.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan. Filters/projections applied downstream reach the
    scan via Catalyst (predicate pushdown + column pruning) — the Spark
    analogue of the reference's read-time variable/time/bbox selection
    (`ingest/netcdf_reader.py:34-77`)."""
    return _load_parquet_ns(spark, f"{sf_dir}/{name}.parquet",
                            _NANOS_TS_COLS.get(name, ()))


def _load_parquet_ns(spark: SparkSession, path: str,
                     ns_cols: Sequence[str]) -> DataFrame:
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        dt = dict(df.dtypes).get(c) if c in df.columns else None
        if dt == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dt == "timestamp_ntz":
            # newer Spark reads parquet TIMESTAMP(NANOS) natively as NTZ
            # (µs-truncated, same as DuckDB); keep the loader invariant that
            # event time is TIMESTAMP so watermarks/unix_micros work. The
            # NTZ→LTZ cast interprets wall-clock in the session zone and all
            # calendar functions read it back in the same zone — results are
            # tz-invariant for every query in the registry.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def ntz_timestamp_columns(path: str) -> tuple[str, ...]:
    """Columns a parquet store encodes as tz-naive timestamps
    (isAdjustedToUTC=false — Spark surfaces them as TIMESTAMP_NTZ, and
    the NANOS unit needs the legacy conf) — read from the footer of ONE
    of the data files Spark reads (`_data_files`; pyarrow, driver-side
    metadata only). Lets arbitrary registrations normalize event time
    exactly like the named testdata tables, instead of keying on file
    names."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = _data_files(path)
    if not files:
        return ()
    schema = pq.read_schema(files[0])
    return tuple(f.name for f in schema
                 if pa.types.is_timestamp(f.type) and f.type.tz is None)


def load_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet load for ANY store: tz-naive timestamp columns (NTZ or
    legacy NANOS) are detected from the footer and normalized to
    TimestampType the same way `load_table` does for the named
    tables."""
    return _load_parquet_ns(spark, path, ntz_timestamp_columns(path))


def load_tables(spark: SparkSession, sf_dir: str,
                names: Sequence[str] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str,
                   names: Sequence[str] = TABLES) -> None:
    """Register each table as a temp view so operators can be expressed in
    Spark SQL as well as the DataFrame API (same Catalyst plan)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def scan(spark: SparkSession, sf_dir: str, name: str,
         columns: Sequence[str] | None = None,
         predicate: Column | str | None = None,
         time_col: str | None = None,
         time_range: tuple[str, str] | None = None) -> DataFrame:
    """Projected + filtered scan — the reference's `read_netcdf_lazy`
    (`ingest/netcdf_reader.py:34-77`): select a subset of variables and
    apply a time-range predicate at read. In Spark both reach the parquet
    reader automatically (check `.explain`: PushedFilters / ReadSchema).

    Raises ValueError on unknown columns, matching the reference's
    explicit validation (`ingest/netcdf_reader.py:59-64`).
    """
    df = load_table(spark, sf_dir, name)
    if columns:
        missing = [c for c in columns if c not in df.columns]
        if missing:
            raise ValueError(f"columns not found in {name}: {missing}")
        df = df.select(*columns)
    if time_range is not None:
        if time_col is None:
            raise ValueError("time_range requires time_col")
        df = df.where(F.col(time_col).between(*time_range))
    if predicate is not None:
        df = df.where(predicate)
    return df


def bbox_filter(df: DataFrame, lat_col: str, lon_col: str,
                bbox: tuple[float, float, float, float],
                normalize_lon: bool = True) -> DataFrame:
    """Spatial bounding-box predicate — the reference's `_apply_bbox`
    (`ingest/netcdf_reader.py:114-156`), row-model edition.

    ``bbox`` is (west, south, east, north). Handles:
    - longitude stored in [0, 360): normalized to [-180, 180) first
      (reference lines 132-137);
    - antimeridian-crossing boxes (west > east): the reference concatenates
      two slices (lines 150-154); in the row model that's a single OR
      predicate — no union, still one scan;
    - descending latitude needs no special case (no coordinate order).
    """
    west, south, east, north = bbox
    lat = F.col(lat_col)
    lon = F.col(lon_col) if not normalize_lon else (
        F.when(F.col(lon_col) >= 180.0, F.col(lon_col) - 360.0)
         .otherwise(F.col(lon_col)))
    lat_pred = lat.between(south, north)
    if west <= east:
        lon_pred = (lon >= west) & (lon <= east)
    else:  # crosses the antimeridian
        lon_pred = (lon >= west) | (lon <= east)
    return df.where(lat_pred & lon_pred)


# ---------------------------------------------------------------------------
# Sink layout presets — the Spark re-expression of the reference's
# access-pattern chunking (`ingest/arco_converter.py:20-107`: "timeseries"
# = long time chunks / small spatial; "spatial" = single-timestep full-grid
# chunks; "balanced" = ~cube-root 4MB target). In a long/tall table the
# same trade-off is: which columns co-locate in files, and what order
# within files (parquet row-group min/max pruning = the chunk index).
# ---------------------------------------------------------------------------

LAYOUTS = ("timeseries", "spatial", "balanced")


def write_parquet(df: DataFrame, path: str, *,
                  layout: str = "balanced",
                  entity_cols: Sequence[str] = (),
                  time_col: str | None = None,
                  partition_cols: Sequence[str] = (),
                  compression: str = "zstd",
                  overwrite: bool = False,
                  target_files: int | None = None) -> str:
    """Write with an access-pattern layout preset.

    - ``timeseries``: co-locate each entity's full history — range-partition
      by entity, sort by (entity, time) within files → a per-entity series
      read touches few files/row-groups (reference `arco_converter.py:37-44`).
    - ``spatial``: co-locate each timestamp's cross-section — directory
      partition by a coarse time bucket when time_col given, sort by entity
      within → a single-time snapshot prunes to one directory
      (reference `arco_converter.py:45-52`). The bucket is a REAL,
      documented partition column ``t_bucket`` (month of ``time_col``)
      that readers of the store see like any lake-style ``date=``
      partition key — it is derivable from ``time_col``, so dropping it
      is always safe.
    - ``balanced``: range-partition by (entity, time) mixed (reference
      `arco_converter.py:53-60`).

    Compression codecs zstd/lz4/gzip mirror `arco_converter.py:163-179`
    and are parquet built-ins. Overwrite protection (mode ``errorifexists``)
    mirrors `arco_converter.py:131-137`.
    """
    if layout not in LAYOUTS:
        raise ValueError(f"unknown layout {layout!r}; expected one of {LAYOUTS}")
    entity = list(entity_cols)
    writer_df = df
    part_cols = list(partition_cols)

    if layout == "timeseries" and entity:
        n = target_files or max(df.sparkSession.sparkContext.defaultParallelism, 1)
        writer_df = df.repartitionByRange(n, *entity)
        if time_col:
            writer_df = writer_df.sortWithinPartitions(*entity, time_col)
    elif layout == "spatial" and time_col:
        bucket = F.date_trunc("month", F.col(time_col)).cast("date") \
                  .alias("t_bucket")
        writer_df = df.withColumn("t_bucket", bucket)
        part_cols = ["t_bucket", *part_cols]
        if entity:
            writer_df = writer_df.sortWithinPartitions(*entity)
    else:  # balanced
        keys = [*entity, *( [time_col] if time_col else [] )]
        if keys:
            n = target_files or max(df.sparkSession.sparkContext.defaultParallelism, 1)
            writer_df = df.repartitionByRange(n, *keys)

    writer = (writer_df.write
              .option("compression", compression)
              .mode("overwrite" if overwrite else "errorifexists"))
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(path)
    return path


# footer key under which Spark's parquet writer stores the row schema
_SPARK_ROW_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def parquet_info(spark: SparkSession, path: str) -> dict:
    """Store stats — the analogue of the reference's `get_zarr_info`
    (`ingest/arco_converter.py:214-246`) — read from the store's files
    and footers, with no Spark job on a Spark-written store: file count
    and bytes on disk from a walk of the data files Spark would read,
    the row count as the sum of the footers' ``num_rows``, and the
    schema as ``spark.read.parquet(path)`` reports it. That schema is
    the row schema Spark wrote into the first footer, handed to
    ``spark.read.schema`` so that Spark's file index still adds and
    types the hive partition columns (e.g. ``t_bucket: date``); a store
    whose footer lacks it (written by another tool) has its schema
    inferred by Spark (one job). No codec is reported."""
    import json
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    files = _data_files(path)
    footers = [pq.read_metadata(f) for f in files]
    row_schema = footers[0].metadata.get(_SPARK_ROW_SCHEMA) \
        if footers and footers[0].metadata else None
    reader = spark.read
    if row_schema is not None:
        reader = reader.schema(StructType.fromJson(json.loads(row_schema)))
    schema = reader.parquet(path).schema
    return {
        "path": path,
        "schema": {f.name: f.dataType.simpleString() for f in schema.fields},
        "num_files": len(files),
        "bytes_stored": sum(os.path.getsize(f) for f in files),
        "num_rows": sum(m.num_rows for m in footers),
    }


def _data_files(path: str) -> list[str]:
    """The ``.parquet`` files of a store that Spark's file index lists:
    names starting with ``_`` or ``.`` are hidden, except ``_`` in a
    ``key=value`` partition directory. Sorted; a file path lists itself."""
    import os

    if os.path.isfile(path):
        return [path]

    def hidden(name: str) -> bool:
        return name.startswith(".") or (name.startswith("_")
                                        and "=" not in name)

    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not hidden(d)]
        files += [os.path.join(root, f) for f in names
                  if f.endswith(".parquet") and not hidden(f)]
    return sorted(files)


def _hive_partition_keys(path: str) -> list[str]:
    """Partition column names of a hive-layout store: one ``key=value``
    directory level per key, walked down the first branch."""
    import os

    keys: list[str] = []
    cur = path
    while True:
        subs = sorted(d for d in os.listdir(cur)
                      if "=" in d and os.path.isdir(os.path.join(cur, d)))
        if not subs:
            return keys
        keys.append(subs[0].split("=", 1)[0])
        cur = os.path.join(cur, subs[0])


def compact_parquet(spark: SparkSession, path: str, *,
                    target_file_mb: int = 128,
                    target_files: int | None = None,
                    sort_cols: Sequence[str] = (),
                    compression: str = "zstd") -> dict:
    """Rewrite a parquet directory into ~target_file_mb files — the
    small-files compaction every long-running ingest needs (streaming
    sinks and per-batch appends accumulate KB-scale files whose
    open/footer overhead dominates scans at scale; mirrors the
    reference's rechunk-on-convert, `ingest/arco_converter.py:110-160`).

    Sizing uses the *current on-disk bytes* (already compressed), so the
    target is honest about output size. With ``sort_cols`` the rewrite
    also re-sorts within files (repartitionByRange + sortWithinPartitions)
    to restore min/max row-group pruning that interleaved appends destroy.
    A hive-partitioned store (``key=value`` directories — the LSH index,
    training shards, spatial layouts) is rewritten WITH the same
    partitionBy so pruning contracts survive compaction. The rewrite
    goes to a temp sibling then swaps; a crash between the two renames
    is recovered on the next call (the backup is restored if the live
    path vanished, discarded if the swap completed)."""
    import math
    import os
    import shutil

    old = path.rstrip("/") + ".__compact_old"
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)    # prior swap completed; stale backup
        else:
            os.rename(old, path)  # prior run died mid-swap: recover

    info = parquet_info(spark, path)
    part_keys = _hive_partition_keys(path)
    n_files = target_files or max(
        1, math.ceil(info["bytes_stored"] / (target_file_mb << 20)))
    df = spark.read.parquet(path)
    if sort_cols:
        out = (df.repartitionByRange(n_files, *sort_cols)
                 .sortWithinPartitions(*sort_cols))
    elif part_keys:
        # one task per partition value → one compacted file per dir
        out = df.repartition(*part_keys)
    else:
        out = df.repartition(n_files)
    tmp = path.rstrip("/") + ".__compact_tmp"
    writer = out.write.option("compression", compression).mode("overwrite")
    if part_keys:
        writer = writer.partitionBy(*part_keys)
    writer.parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    after = parquet_info(spark, path)
    return {"files_before": info["num_files"], "files_after": after["num_files"],
            "bytes_before": info["bytes_stored"], "bytes_after": after["bytes_stored"],
            "num_rows": after["num_rows"]}


def pruning_report(path: str, column: str, lo, hi) -> dict:
    """Data-skipping audit from parquet footers: what fraction of row
    groups would a ``column BETWEEN lo AND hi`` scan actually read?

    This is the observability half of the layout presets: after
    ``write_parquet(layout='timeseries')`` a time-range predicate should
    skip most row groups (footer min/max disjoint from [lo, hi]); if the
    skipped fraction is ~0 the sort order didn't survive the write and
    the layout needs fixing. Pure footer metadata of the data files
    Spark reads (`_data_files`) — no data read."""
    import pyarrow.parquet as pq

    total = kept = no_stats = 0
    for f in _data_files(path):
        md = pq.ParquetFile(f).metadata
        try:
            ci = [md.schema.column(i).name for i in range(md.num_columns)].index(column)
        except ValueError:
            raise KeyError(f"column {column!r} not in {f}")
        for rg in range(md.num_row_groups):
            total += 1
            stats = md.row_group(rg).column(ci).statistics
            if stats is None or not stats.has_min_max:
                no_stats += 1
                kept += 1  # must read when stats are absent
                continue
            if not (stats.max < lo or stats.min > hi):
                kept += 1
    return {"row_groups": total, "read": kept, "skipped": total - kept,
            "no_stats": no_stats,
            "skip_fraction": round((total - kept) / total, 4) if total else 0.0}


# Layout advisor — the Spark re-expression of the reference's chunk-size
# advisor (`processing/chunking.py:17-104` determine_optimal_chunks,
# `:144-183` estimate_chunk_memory, `:186-223` suggest_chunks_for_workflow).
# In the long/tall table world "chunks" become (a) parquet file/row-group
# layout for the table sinks and (b) grid chunk dims for the Zarr/HDF5
# sinks — both advised here from the same workflow-scoring rules.
# ---------------------------------------------------------------------------

_ROW_BYTES = {"long": 8, "double": 8, "integer": 4, "float": 4,
              "timestamp": 8, "timestamp_ntz": 8, "date": 4, "short": 2,
              "byte": 1, "boolean": 1, "string": 24}


def estimate_row_bytes(df: DataFrame) -> int:
    """Schema-derived bytes/row (strings estimated at 24 B; arrays at
    8 B x a nominal 16 elements) — the memory-estimator input."""
    total = 0
    for f in df.schema.fields:
        t = f.dataType.typeName()
        if t == "array":
            total += 8 * 16
        else:
            total += _ROW_BYTES.get(t, 16)
    return max(total, 1)


def classify_workflow(workflow: Sequence[str]) -> str:
    """Score planned operations into an access pattern — the reference's
    keyword rules verbatim (`processing/chunking.py:203-219`): temporal
    words push 'timeseries', spatial words push 'spatial', point/series
    extraction counts double for time continuity."""
    time_priority = spatial_priority = 0
    for op in workflow:
        s = op.lower()
        if any(w in s for w in ("temporal", "time", "annual", "monthly",
                                "trend")):
            time_priority += 1
        if any(w in s for w in ("spatial", "map", "region", "bbox")):
            spatial_priority += 1
        if any(w in s for w in ("point", "timeseries", "extract")):
            time_priority += 2
    if time_priority > spatial_priority * 1.5:
        return "timeseries"
    if spatial_priority > time_priority * 1.5:
        return "spatial"
    return "balanced"


def suggest_layout(df: DataFrame, workflow: Sequence[str], *,
                   row_count: int | None = None,
                   entity_cols: Sequence[str] = (),
                   time_col: str | None = None,
                   target_file_mb: int = 128) -> dict:
    """Advise a `write_parquet` layout for a planned workflow: the
    access pattern from :func:`classify_workflow`, a target file count
    sized so each file is ~``target_file_mb`` of row data (the parquet
    analogue of the reference's 4 MB-chunk target, scaled to
    Spark-task-sized files), and ready-to-splat ``write_kwargs``.

    An OFFLINE diagnostic like `parquet_info` — passing no
    ``row_count`` runs one count() job."""
    n = row_count if row_count is not None else df.count()
    rb = estimate_row_bytes(df)
    total_mb = n * rb / (1 << 20)
    files = max(1, round(total_mb / target_file_mb))
    pattern = classify_workflow(workflow)
    kwargs = {"layout": pattern, "entity_cols": list(entity_cols),
              "time_col": time_col, "target_files": files}
    return {"layout": pattern, "estimated_total_mb": round(total_mb, 2),
            "estimated_row_bytes": rb, "target_files": files,
            "estimated_file_mb": round(total_mb / files, 2),
            "write_kwargs": kwargs}


def suggest_grid_chunks(dim_sizes: dict[str, int],
                        workflow: Sequence[str],
                        dtype_bytes: int = 8,
                        target_mb: float = 4.0,
                        dims_roles: dict[str, str] | None = None) -> dict:
    """Chunk dims for the Zarr/HDF5 grid sinks — the reference's
    `determine_optimal_chunks` rules (`processing/chunking.py:51-93`):
    'timeseries' = long time x ~100 spatial points; 'spatial' = one
    timestep x sqrt-side spatial tiles; 'balanced' = cube-root split of
    the byte target. Feed the result to `long_to_zarr(chunks=...)` /
    `long_to_hdf5(chunks=...)`."""
    from .netcdf import detect_dims

    roles = dims_roles or detect_dims(
        list(dim_sizes), {d: "float64" for d in dim_sizes})
    tdim, latd, lond = roles.get("time"), roles.get("lat"), roles.get("lon")
    pattern = classify_workflow(workflow)
    target = int(target_mb * (1 << 20))
    chunks: dict[str, int] = {}
    if pattern == "timeseries":
        if tdim:
            chunks[tdim] = min(dim_sizes[tdim],
                               max(1, target // (dtype_bytes * 100)))
        for d in (latd, lond):
            if d:
                chunks[d] = min(dim_sizes[d], 10)
    elif pattern == "spatial":
        if tdim:
            chunks[tdim] = 1
        side = int((target // dtype_bytes) ** 0.5)
        for d in (latd, lond):
            if d:
                chunks[d] = min(dim_sizes[d], side)
    else:
        known = [d for d in (tdim, latd, lond) if d]
        if known:
            per_dim = int((target // dtype_bytes) ** (1 / len(known)))
            for d in known:
                chunks[d] = min(dim_sizes[d], max(1, per_dim))
    for d, size in dim_sizes.items():
        if d not in chunks:
            chunks[d] = size if size <= 100 else min(size, 100)
    elems = 1
    for d, c in chunks.items():
        elems *= c
    return {"pattern": pattern, "chunks": chunks,
            "chunk_mb": round(elems * dtype_bytes / (1 << 20), 3),
            "n_chunks": int(__import__("math").prod(
                -(-dim_sizes[d] // chunks[d]) for d in dim_sizes))}
