"""Tests for source loaders and layout-preset sinks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from climate_data_pipeline_spark.sources.io import (
    load_table,
    parquet_info,
    scan,
    write_parquet,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_events_nanos_timestamp_loads(events):
    assert dict(events.dtypes)["ts"] == "timestamp"
    assert events.where(F.col("ts").isNull()).count() == 0


def test_scan_validates_and_pushes(spark, sf_small):
    with pytest.raises(ValueError, match="columns not found"):
        scan(spark, sf_small, "orders", columns=["nope"])
    df = scan(spark, sf_small, "orders", columns=["o_orderkey", "o_orderdate"],
              time_col="o_orderdate", time_range=("1996-01-01", "1996-12-31"))
    assert df.columns == ["o_orderkey", "o_orderdate"]
    assert df.count() > 0


def test_write_layout_timeseries(spark, events, tmp_path):
    path = str(tmp_path / "ts_layout")
    write_parquet(events, path, layout="timeseries",
                  entity_cols=["user_id"], time_col="ts", target_files=4)
    back = spark.read.parquet(path)
    assert back.count() == events.count()
    info = parquet_info(spark, path)
    assert info["num_files"] >= 1 and info["bytes_stored"] > 0
    # range partitioning on user_id → each user's rows land in ONE file
    by_user = (back.withColumn("f", F.input_file_name())
                   .groupBy("user_id")
                   .agg(F.countDistinct("f").alias("nf")))
    assert by_user.agg(F.max("nf")).first()[0] == 1


def test_write_layout_spatial(spark, events, tmp_path):
    path = str(tmp_path / "sp_layout")
    write_parquet(events, path, layout="spatial",
                  entity_cols=["user_id"], time_col="ts")
    back = spark.read.parquet(path)
    assert back.count() == events.count()
    # directory-partitioned by time bucket → time-slice reads prune dirs
    assert "t_bucket" in back.columns
    pruned = back.where(F.col("t_bucket") == "2024-01-01")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(t_bucket" in plan


def test_write_layout_balanced_and_overwrite_protection(spark, events, tmp_path):
    path = str(tmp_path / "bal_layout")
    write_parquet(events, path, layout="balanced",
                  entity_cols=["user_id"], time_col="ts", target_files=4)
    with pytest.raises(Exception):  # reference's overwrite protection (S7)
        write_parquet(events, path, layout="balanced",
                      entity_cols=["user_id"], time_col="ts")
    write_parquet(events.limit(10), path, layout="balanced",
                  entity_cols=["user_id"], overwrite=True, target_files=1)
    assert spark.read.parquet(path).count() == 10


def test_unknown_layout_rejected(events, tmp_path):
    with pytest.raises(ValueError, match="unknown layout"):
        write_parquet(events, str(tmp_path / "x"), layout="zarr")


def test_compact_parquet_reduces_files_preserves_data(spark, events, tmp_path):
    from climate_data_pipeline_spark.sources.io import compact_parquet

    path = str(tmp_path / "fragmented")
    events.repartition(64).write.parquet(path)  # simulate append fragmentation
    before = spark.read.parquet(path)
    n_rows, sum_val = before.count(), before.agg(F.sum("event_id")).first()[0]

    rep = compact_parquet(spark, path, target_file_mb=128)
    assert rep["files_before"] == 64 and rep["files_after"] < 8
    after = spark.read.parquet(path)
    assert after.count() == n_rows
    assert after.agg(F.sum("event_id")).first()[0] == sum_val
    assert not [p for p in tmp_path.iterdir() if "__compact" in p.name]


def test_compact_with_sort_restores_pruning(spark, events, tmp_path):
    from climate_data_pipeline_spark.sources.io import (
        compact_parquet, pruning_report)

    path = str(tmp_path / "interleaved")
    # unsorted write: every row group spans the full user_id range
    events.repartition(16).write.parquet(path)
    scrambled = pruning_report(path, "user_id", 0, 5)
    assert scrambled["skip_fraction"] == 0.0

    compact_parquet(spark, path, target_files=8, sort_cols=["user_id"])
    sorted_rep = pruning_report(path, "user_id", 0, 5)
    assert sorted_rep["skipped"] > 0  # narrow key range now skips row groups
    assert sorted_rep["row_groups"] >= 2


def test_compact_preserves_hive_partitions_and_recovers(spark, events,
                                                        tmp_path):
    """Regression: compacting a hive-partitioned store must keep the
    key=value directory layout (the LSH index / shard contract), and a
    stale .__compact_old from a crashed swap must be recovered, not
    block the next run."""
    import os

    from climate_data_pipeline_spark.sources.io import compact_parquet

    path = str(tmp_path / "parts")
    (events.withColumn("bucket", F.col("user_id") % 4)
           .repartition(16).write.partitionBy("bucket").parquet(path))
    n = spark.read.parquet(path).count()
    compact_parquet(spark, path)
    dirs = sorted(d for d in os.listdir(path) if d.startswith("bucket="))
    assert dirs == [f"bucket={i}" for i in range(4)]   # layout intact
    assert spark.read.parquet(path).count() == n
    # crashed-mid-swap recovery: live path gone, backup present
    os.rename(path, path + ".__compact_old")
    compact_parquet(spark, path)
    assert spark.read.parquet(path).count() == n
    # completed-swap stale backup: discarded, compaction proceeds
    os.makedirs(path + ".__compact_old/junk")
    compact_parquet(spark, path)
    assert not os.path.exists(path + ".__compact_old")
    assert spark.read.parquet(path).count() == n


def test_convert_dataset_failed_path_returns_failed_dict(spark, sf_small,
                                                         tmp_path):
    """Regression: when the underlying job fails (output exists,
    overwrite=False), convert_dataset must return the reference-shaped
    failed dict — not crash on the missing output_info key."""
    from climate_data_pipeline_spark.plans.jobs import convert_dataset

    out = str(tmp_path / "occupied")
    assert convert_dataset(spark, sf_small, "region", out)["verified"]
    r = convert_dataset(spark, sf_small, "region", out)  # second run
    assert r["status"] == "failed" and "error" in r
    assert "verified" not in r


def test_catalog_aliased_nanos_parquet_normalizes(spark, sf_small):
    """Regression: a nanos-timestamp parquet registered under an alias
    (path basename != name) must load with ts as TIMESTAMP — not crash
    the vectorized reader or surface raw int64 nanoseconds."""
    from climate_data_pipeline_spark.sources.catalog import Catalog
    from climate_data_pipeline_spark.sources.io import load_table

    cat = Catalog(spark)
    cat.register("era5_events", f"{sf_small}/events.parquet")
    df = cat.load("era5_events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    want = load_table(spark, sf_small, "events") \
        .agg(F.max("ts")).first()[0]
    assert df.agg(F.max("ts")).first()[0] == want


def test_pruning_report_unknown_column(spark, events, tmp_path):
    from climate_data_pipeline_spark.sources.io import pruning_report

    path = str(tmp_path / "pr")
    events.limit(100).write.parquet(path)
    with pytest.raises(KeyError):
        pruning_report(path, "nope", 0, 1)


def test_schema_evolution_merge(spark, tmp_path):
    """Appended batches may add columns (schema evolution): reading with
    mergeSchema unifies old and new footers; old rows surface NULL for
    the added column — no rewrite of existing files required."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "evolving")
    spark.range(5).select("id", F.lit(1.0).alias("v")) \
         .write.parquet(base)
    spark.range(5, 8).select("id", F.lit(2.0).alias("v"),
                             F.lit("new").alias("tag")) \
         .write.mode("append").parquet(base)
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"id", "v", "tag"}
    rows = {r["id"]: r["tag"] for r in merged.collect()}
    assert rows[0] is None and rows[7] == "new"
    assert merged.count() == 8


def test_layout_advisor(spark, sf_small):
    """The chunk-size-advisor analogue: workflow scoring matches the
    reference's keyword rules; estimates size files to the target."""
    from climate_data_pipeline_spark.sources.io import (
        classify_workflow,
        estimate_row_bytes,
        load_table,
        suggest_grid_chunks,
        suggest_layout,
    )

    assert classify_workflow(["timeseries_extract", "trend"]) == "timeseries"
    assert classify_workflow(["spatial_slice", "region_map"]) == "spatial"
    assert classify_workflow(["temporal_mean", "bbox_map"]) == "balanced"

    li = load_table(spark, sf_small, "lineitem")
    assert estimate_row_bytes(li) > 50
    out = suggest_layout(li, ["point timeseries"], row_count=10_000_000,
                         entity_cols=["l_orderkey"], time_col="l_shipdate",
                         target_file_mb=128)
    assert out["layout"] == "timeseries" and out["target_files"] >= 1
    assert abs(out["estimated_file_mb"] - 128) / 128 < 0.5
    assert out["write_kwargs"]["layout"] == "timeseries"

    g = suggest_grid_chunks({"time": 10_000, "lat": 721, "lon": 1440},
                            ["spatial maps"], dtype_bytes=4)
    assert g["pattern"] == "spatial" and g["chunks"]["time"] == 1
    assert g["chunks"]["lat"] > 100 and g["chunk_mb"] <= 8
    ts = suggest_grid_chunks({"time": 10_000, "lat": 721, "lon": 1440},
                             ["point extract"], dtype_bytes=4)
    assert ts["chunks"]["lat"] == 10 and ts["chunks"]["time"] > 1000


@pytest.mark.parametrize("layout", ["timeseries", "balanced", "spatial"])
def test_parquet_info_reads_footers_without_a_job(spark, tmp_path, layout,
                                                   spark_jobs_of):
    """`parquet_info` reports the schema and row count
    `spark.read.parquet` sees — hive partition columns typed, as the
    spatial layout's `t_bucket: date` — from footers alone: no Spark
    job on a Spark-written store."""
    df = spark.range(500).select(
        (F.col("id") % 7).alias("user_id"),
        F.timestamp_seconds(F.col("id") * 7200).alias("ts"),
        (F.col("id") * 0.5).alias("value"))
    path = str(tmp_path / layout)
    write_parquet(df, path, layout=layout, entity_cols=["user_id"],
                  time_col="ts", target_files=3)
    info, n_jobs = spark_jobs_of(lambda: parquet_info(spark, path))
    back = spark.read.parquet(path)
    assert info["schema"] == {f.name: f.dataType.simpleString()
                              for f in back.schema.fields}
    assert info["num_rows"] == back.count() == 500
    assert n_jobs == 0
    if layout == "spatial":
        assert info["schema"]["t_bucket"] == "date"


def test_parquet_info_on_a_pyarrow_file(spark, tmp_path):
    """A file without Spark's row-schema footer key (written by pyarrow)
    still reports Spark's schema and the footers' row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "arrow")
    import os
    os.makedirs(path)
    table = pa.table({"k": pa.array(range(40), pa.int32()),
                      "t": pa.array(range(40), pa.timestamp("us", "UTC")),
                      "v": pa.array([i / 4 for i in range(40)])})
    pq.write_table(table, f"{path}/part-0.parquet", row_group_size=16)
    pq.write_table(table.slice(0, 5), f"{path}/part-1.parquet")
    info = parquet_info(spark, path)
    back = spark.read.parquet(path)
    assert info["schema"] == {f.name: f.dataType.simpleString()
                              for f in back.schema.fields}
    assert info["num_rows"] == back.count() == 45
    assert info["num_files"] == 2


def test_footer_helpers_skip_files_spark_ignores(spark, tmp_path):
    """A leftover `_temporary/` file of a failed write (tz-naive ``ts``)
    next to the live part file (UTC ``ts``): `ntz_timestamp_columns`
    and `pruning_report` read only the file Spark reads."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from climate_data_pipeline_spark.sources.io import (
        ntz_timestamp_columns,
        pruning_report,
    )

    path = str(tmp_path / "store")
    os.makedirs(f"{path}/_temporary/0")
    for sub, tz in (("", "UTC"), ("_temporary/0/", None)):
        pq.write_table(
            pa.table({"ts": pa.array(range(4), pa.timestamp("us", tz)),
                      "v": pa.array(range(4), pa.int32())}),
            f"{path}/{sub}part-00000.parquet")
    assert dict(spark.read.parquet(path).dtypes)["ts"] == "timestamp"
    assert ntz_timestamp_columns(path) == ()
    assert pruning_report(path, "v", 0, 10)["row_groups"] == 1
