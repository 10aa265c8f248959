"""Batch-job entry points (SURVEY.md §2.10 O4+O6): the engine-side
equivalent of the reference's Celery tasks — load → apply an op-dict
plan → write with a layout preset → verify the output.

Reference: `process_dataset` (`tasks/celery_tasks.py:33-81`, op
interpreter at 210-231) and `convert_to_zarr_task`
(`celery_tasks.py:160-207`, load → convert → verify info). In Spark these
are plain functions: enqueueing/retries belong to whatever scheduler
submits the job (Airflow, spark-submit cron, Celery itself) — the engine
contract is the deterministic plan in the middle.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence

from pyspark.sql import SparkSession

from ..sources.io import load_table, parquet_info, write_parquet
from .ops import run_ops

# progress callback signature: (state, step, elapsed_seconds) — the
# engine-side mirror of Celery's ``self.update_state(state="PROCESSING",
# meta={"step": ...})`` protocol (`tasks/celery_tasks.py:53-68`)
ProgressFn = Callable[[str, str, float], None]


class JobTimeLimitExceeded(Exception):
    """Raised between job stages when ``time_limit`` (the analogue of
    the reference's ``task_time_limit=3600``, `celery_tasks.py:28`) is
    exhausted; the job entry points catch it and return the
    reference-shaped failed result dict."""


class _Progress:
    """Stage clock for the batch jobs: emits (PROCESSING, step,
    elapsed) to the caller's callback, records the step sequence for
    the result manifest, and enforces the soft time limit at stage
    boundaries (Spark actions are coarse, so between-stage checks are
    the natural preemption points — a hard kill is the scheduler's
    job, as with Celery's SIGKILL at the hard limit)."""

    def __init__(self, callback: ProgressFn | None,
                 time_limit: float | None):
        self._cb = callback
        self._limit = time_limit
        self._t0 = time.monotonic()
        self.steps: list[str] = []

    def step(self, name: str) -> None:
        elapsed = time.monotonic() - self._t0
        if self._limit is not None and elapsed > self._limit:
            raise JobTimeLimitExceeded(
                f"time limit {self._limit}s exceeded after "
                f"{elapsed:.1f}s at step {name!r}")
        self.steps.append(name)
        if self._cb is not None:
            self._cb("PROCESSING", name, elapsed)


def _failed(exc: Exception, **extra) -> dict:
    # the reference's failed-result shape (`celery_tasks.py:77-81`)
    return {"status": "failed", "error": str(exc), **extra}


def process_dataset(spark: SparkSession, sf_dir: str, table: str,
                    output_path: str, operations: Sequence[dict] = (),
                    layout: str = "balanced",
                    entity_cols: Sequence[str] = (),
                    time_col: str | None = None,
                    compression: str = "zstd",
                    overwrite: bool = False,
                    progress: ProgressFn | None = None,
                    time_limit: float | None = 3600.0) -> dict:
    """load → op-dict plan → layout-preset write → verify.

    Returns the reference's result-dict shape
    (`celery_tasks.py:70-77`): status, output path, output info —
    plus the emitted ``steps`` sequence. ``progress`` receives
    ``("PROCESSING", step, elapsed_s)`` per stage — loading, one step
    per operation (named like the reference's
    ``op.get("name", f"operation_{i}")``), saving, verifying — the
    state protocol of `celery_tasks.py:53-68`; ``time_limit`` is the
    soft analogue of the reference's 1 h ``task_time_limit``, checked
    at stage boundaries, returning the failed-result shape when
    exhausted."""
    prog = _Progress(progress, time_limit)
    try:
        # compile-time validation of the WHOLE plan up front (op names,
        # aggregate specs) — per-op application below is only for
        # progress granularity; everything stays lazy until the write
        from .ops import compile_ops
        compile_ops(list(operations))
        prog.step("loading")
        df = load_table(spark, sf_dir, table)
        for i, op in enumerate(operations):
            prog.step(op.get("name", op.get("op", f"operation_{i}")))
            df = run_ops(df, [op])
        prog.step("saving")
        write_parquet(df, output_path, layout=layout,
                      entity_cols=entity_cols, time_col=time_col,
                      compression=compression, overwrite=overwrite)
        prog.step("verifying")
        info = parquet_info(spark, output_path)
    except Exception as exc:
        # the reference task catches ANY exception and returns the
        # failed-result dict instead of raising (`celery_tasks.py:77-81`)
        # — op/IO/engine errors included, not just the time limit
        return _failed(exc, output_path=output_path, steps=prog.steps)
    return {
        "status": "completed",
        "input": f"{sf_dir}/{table}.parquet",
        "output_path": output_path,
        "operations_applied": len(operations),
        "output_info": info,
        "steps": prog.steps,
    }


def convert_dataset(spark: SparkSession, sf_dir: str, table: str,
                    output_path: str, layout: str = "balanced",
                    entity_cols: Sequence[str] = (),
                    time_col: str | None = None,
                    compression: str = "zstd",
                    overwrite: bool = False) -> dict:
    """Pure format/layout conversion (O6) — process_dataset with no ops;
    verifies row-count parity between input and output."""
    result = process_dataset(spark, sf_dir, table, output_path,
                             operations=(), layout=layout,
                             entity_cols=entity_cols, time_col=time_col,
                             compression=compression, overwrite=overwrite)
    if result.get("status") != "completed":
        return result          # failed dict: nothing to verify (and no
        #                        output_info key to crash on)
    in_rows = load_table(spark, sf_dir, table).count()
    out_rows = result["output_info"]["num_rows"]
    result["verified"] = in_rows == out_rows
    if not result["verified"]:
        result["status"] = "verification_failed"
    return result


def convert_netcdf(spark: SparkSession, nc_path: str, output_path: str,
                   variables: Sequence[str] | None = None,
                   time_range: tuple[str, str] | None = None,
                   layout: str = "timeseries",
                   compression: str = "zstd",
                   overwrite: bool = False) -> dict:
    """The reference's `convert_to_zarr_task` end-to-end
    (`tasks/celery_tasks.py:160-207`): NetCDF in → analysis-ready
    columnar store out, with read-time projection/predicates and a
    layout preset replacing the chunking strategy. Reads through
    `open_netcdf_long`: NetCDF4/HDF5 files chunk-per-task (each stored
    chunk decoded by its own task), classic CDF-1/CDF-2 files and the
    HDF5 files that reader refuses decoded on the driver — no external
    NetCDF libraries. Verification decodes nothing: the row count of
    the written store (summed from its parquet footers by
    `parquet_info`) must equal the cell count the input's header and
    coordinates give for the selected variables and time range."""
    from ..sources.netcdf import open_netcdf_long

    df, in_rows = open_netcdf_long(spark, nc_path, variables=variables,
                                   time_range=time_range)
    time_col = "time" if "time" in df.columns else None
    entity = [c for c in ("lat", "lon") if c in df.columns]
    write_parquet(df, output_path, layout=layout, entity_cols=entity,
                  time_col=time_col, compression=compression,
                  overwrite=overwrite)
    info = parquet_info(spark, output_path)
    return {
        "status": "completed" if info["num_rows"] == in_rows
        else "verification_failed",
        "input": nc_path,
        "output": output_path,
        "verified": info["num_rows"] == in_rows,
        "output_info": info,
    }


def write_training_shards(df, output_path: str, id_col: str,
                          n_shards: int, salt: str = "",
                          compression: str = "zstd",
                          overwrite: bool = False,
                          progress: ProgressFn | None = None,
                          time_limit: float | None = None) -> dict:
    """Materialize the pre-training corpus as ``shard=K/`` directories in
    the deterministic interleaved order of
    `operators/sampling.training_shards`: one shuffle onto the shard key
    (`repartition(n_shards, shard)` — each shard lives in exactly one
    task), rows sorted by manifest order within the task, and a
    `partitionBy("shard")` write, so every shard directory holds exactly
    ONE file in manifest order. A training reader that streams the
    shard directories in (shard, row) order reproduces the manifest
    exactly — verified here by re-deriving the manifest from the
    written files.

    Scale: shard count IS the write parallelism; no global sort, no
    driver-side state, identical output for any input partitioning.

    ``progress``/``time_limit`` follow the Celery-state protocol of
    `process_dataset` — ("PROCESSING", step, elapsed) per stage
    (sharding → writing → verifying), soft limit at stage boundaries,
    any-exception → the reference-shaped failed dict."""
    from pyspark.sql import functions as F

    from ..operators.sampling import training_shards

    prog = _Progress(progress, time_limit)
    try:
        spark = df.sparkSession
        prog.step("sharding")
        sharded = training_shards(df, id_col, n_shards, salt)
        mode = "overwrite" if overwrite else "errorifexists"
        prog.step("writing")
        (sharded.repartition(n_shards, F.col("shard"))
                .sortWithinPartitions("shard", "pos")
                .write.mode(mode).option("compression", compression)
                .partitionBy("shard")
                .parquet(output_path))
        prog.step("verifying")
        out = spark.read.parquet(output_path)
        n_in = df.count()
        n_out = out.count()
        shards_seen = out.select("shard").distinct().count()
        ok = n_in == n_out and shards_seen <= n_shards
    except Exception as exc:
        return _failed(exc, output=output_path, steps=prog.steps)
    return {
        "status": "completed" if ok else "verification_failed",
        "output": output_path,
        "verified": ok,
        "rows": n_out,
        "n_shards": shards_seen,
        "steps": prog.steps,
    }


def curate_corpus(spark: SparkSession, sf_dir: str, output_dir: str,
                  text_col: str = "text", id_col: str = "doc_id",
                  split_weights: dict | None = None,
                  keep_split: str = "train", n_shards: int = 8,
                  salt: str = "", quality_filter: bool = False,
                  lm_filter: bool = False, normalize: bool = False,
                  near_dedup: bool = False,
                  progress: ProgressFn | None = None,
                  time_limit: float | None = 3600.0,
                  docs_df=None) -> dict:
    """The full training-data curation job in one call: load documents →
    [optional Unicode NFC normalization] → [optional heuristic quality
    gate] → [optional LM-perplexity gate] →
    exact dedup → [optional MinHash-LSH near-dedup] →
    deterministic split (keep one named split) → shard
    manifest → one-file-per-shard write (`write_training_shards`) — each
    stage the same op the DSL/operators expose, composed lazily so
    Catalyst sees one plan until the write. Returns stage row counts so
    the job's yield (what each gate, dedup and the split removed) is
    auditable.

    ``normalize`` NFC-canonicalizes the text column FIRST
    (`operators/text.nfc_normalize`) so that visually-identical
    decomposed/composed variants hash identically through every later
    gate and the dedup itself. ``quality_filter`` applies the composite heuristic gate of
    `text_keep_filter` (quality blend ≥ 0.49, 25–90 words, char entropy
    ≥ 2.8); ``lm_filter`` applies `operators/text.lm_perplexity`'s
    fluency flag. Gates run before dedup so every later stage pays for
    surviving documents only. ``near_dedup`` adds a MinHash-LSH pass
    AFTER exact dedup (`operators/dedup.minhash_pairs` banded
    candidates at jaccard_est ≥ 0.5 → `duplicate_clusters` → keep the
    canonical member per cluster) — the C4/RefinedWeb-style near-dup
    stage, banded so candidate volume never approaches all-pairs; it
    runs after the exact pass so signatures are computed only for
    byte-unique survivors.

    ``progress``/``time_limit`` follow the same Celery-state protocol
    as `process_dataset`: each stage emits ("PROCESSING", step,
    elapsed) and the soft limit is checked at stage boundaries; on
    exhaustion the reference-shaped failed dict (with the steps run so
    far) is returned."""
    prog = _Progress(progress, time_limit)
    # pinned frames are unpersisted here, not inside the staged body,
    # so a failure in ANY stage (not just the final write) releases
    # the MEMORY_AND_DISK caches instead of leaking them for the
    # session
    pinned: list = []
    try:
        return _curate_corpus_staged(
            spark, sf_dir, output_dir, text_col, id_col, split_weights,
            keep_split, n_shards, salt, quality_filter, lm_filter,
            normalize, near_dedup, prog, pinned, docs_df=docs_df)
    except Exception as exc:
        # any-exception → failed dict, mirroring celery_tasks.py:77-81
        return _failed(exc, output_dir=output_dir, steps=prog.steps)
    finally:
        for frame in pinned:
            frame.unpersist()


def _curate_corpus_staged(spark, sf_dir, output_dir, text_col, id_col,
                          split_weights, keep_split, n_shards, salt,
                          quality_filter, lm_filter, normalize,
                          near_dedup, prog: _Progress,
                          pinned: list, docs_df=None) -> dict:
    from pyspark.sql import functions as F

    from pyspark import StorageLevel

    from ..operators import text as TX
    from ..operators.dedup import exact_dedup
    from ..operators.sampling import deterministic_split

    # every stage count is an action — pin each counted frame so the
    # count that audits a stage ALSO materializes it, and later stages
    # (and the final write) read the cache instead of re-running every
    # upstream gate/dedup (un-pinned, the job cost ~6 end-to-end passes)

    def pin(frame):
        frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
        pinned.append(frame)
        return frame

    prog.step("loading")
    docs = docs_df if docs_df is not None \
        else load_table(spark, sf_dir, "documents")
    doc_cols = docs.columns
    n_in = docs.count()
    if normalize:
        prog.step("normalize")
        docs = (TX.nfc_normalize(docs, text_col, alias="__norm")
                  .withColumn(text_col, F.col("__norm"))
                  .select(*doc_cols))
    # disabled gates report the pass-through count (the previous
    # stage's n) so every stage count in the manifest is uniformly an
    # integer — consumers doing arithmetic/serialization never see a
    # null
    if quality_filter:
        prog.step("quality_filter")
        m = TX.char_entropy(TX.quality_score(docs, text_col), text_col)
        nw = F.size(TX.words(text_col))
        docs = (m.where(((F.round(F.col("quality_score") * 1e6) / 1e6) >= 0.49)
                        & nw.between(25, 90)
                        & (F.round("char_entropy", 6) >= 2.8))
                 .select(*doc_cols))
        docs = pin(docs)
        n_quality = docs.count()
    else:
        n_quality = n_in
    if lm_filter:
        prog.step("lm_filter")
        keep_ids = (TX.lm_perplexity(docs, text_col, id_col)
                    .where("keep").select(id_col))
        docs = pin(docs.join(keep_ids, id_col, "left_semi"))
        n_lm = docs.count()
    else:
        n_lm = n_quality
    prog.step("dedup")
    keep = exact_dedup(docs, text_col, id_col) \
        .select(F.col("keep_id").alias(id_col))
    deduped = pin(docs.join(keep, id_col, "left_semi"))
    n_dedup = deduped.count()
    if near_dedup:
        prog.step("near_dedup")
        from ..operators.dedup import duplicate_clusters, minhash_pairs
        pairs = minhash_pairs(deduped, text_col, id_col)
        drop = (duplicate_clusters(pairs)
                .where(~F.col("is_canonical"))
                .select(F.col("id").alias(id_col)))
        deduped = pin(deduped.join(drop, id_col, "left_anti"))
        n_near = deduped.count()
    else:
        n_near = n_dedup
    prog.step("split")
    weights = split_weights or {"train": 0.9, "holdout": 0.1}
    split = deterministic_split(deduped, id_col, weights)
    kept = pin(split.where(F.col("split") == keep_split).drop("split"))
    n_split = kept.count()
    prog.step("writing")
    result = write_training_shards(kept, output_dir, id_col, n_shards,
                                   salt=salt, overwrite=True)
    result.update({
        "n_input": n_in,
        "n_after_quality": n_quality,
        "n_after_lm": n_lm,
        "n_after_dedup": n_dedup,
        "n_after_near_dedup": n_near,
        "n_written": n_split,
        "quality_removed": n_in - n_quality,
        "lm_removed": n_quality - n_lm,
        "dedup_removed": n_lm - n_dedup,
        "near_dedup_removed": n_dedup - n_near,
        "split_removed": n_near - n_split,
        "kept_split": keep_split,
        "steps": prog.steps,
    })
    return result


def build_lsh_index(corpus, path: str, id_col: str = "vec_id",
                    vec_col: str = "embedding", n_planes: int = 6,
                    dim: int = 64, seed: str = "cdps",
                    overwrite: bool = False,
                    progress: ProgressFn | None = None,
                    time_limit: float | None = None) -> dict:
    """Persist an LSH ANN index: the corpus's (id, vector, bucket)
    table written as parquet PARTITIONED BY bucket, so a probe touches
    only its buckets' directories — the partition-pruned disk layout is
    the at-rest form of the bucket equi-join. Build cost is one corpus
    scan + one shuffle onto the bucket key (each bucket lands in one
    task → one file per bucket directory); planes are seed-derived, so
    the index needs no side metadata beyond (seed, n_planes, dim) —
    recorded in the returned manifest for the query side to reuse.

    ``progress``/``time_limit``: Celery-state protocol of
    `process_dataset` — ("PROCESSING", step, elapsed) per stage
    (hashing → writing → verifying), soft limit at stage boundaries,
    any-exception → the reference-shaped failed dict."""
    from pyspark.sql import functions as F

    from ..operators.similarity import lsh_buckets

    prog = _Progress(progress, time_limit)
    try:
        prog.step("hashing")
        b = lsh_buckets(corpus, id_col, vec_col, n_planes, seed=seed,
                        dim=dim)
        mode = "overwrite" if overwrite else "errorifexists"
        prog.step("writing")
        (b.repartition(F.col("bucket"))
          .write.mode(mode).partitionBy("bucket").parquet(path))
        prog.step("verifying")
        n = corpus.sparkSession.read.parquet(path).count()
    except Exception as exc:
        return _failed(exc, path=path, steps=prog.steps)
    return {"status": "completed", "path": path, "rows": n,
            "n_planes": n_planes, "dim": dim, "seed": seed,
            "steps": prog.steps}


def query_lsh_index(spark, path: str, queries, k: int = 3,
                    query_id: str = "q_id", query_vec: str = "q_vec",
                    corpus_id: str = "vec_id",
                    corpus_vec: str = "embedding", n_planes: int = 6,
                    dim: int = 64, seed: str = "cdps",
                    multiprobe: bool = True,
                    progress: ProgressFn | None = None,
                    time_limit: float | None = None):
    """Search a persisted LSH index with static partition pruning: the
    query set's probe buckets (own bucket + Hamming-1 neighbors when
    ``multiprobe``) collect driver-side — bounded by |Q|×(n_planes+1),
    and |Q| is small by the contract of this path — and push into the
    index read as a partition-column IN-filter, so only the probed
    bucket directories are ever scanned (PartitionFilters in the plan;
    asserted in tests). Results are identical to
    `operators/similarity.lsh_ann_multiprobe` (or `lsh_ann`) against
    the in-memory corpus — same planes, same candidates, same
    ranking.

    ``progress``/``time_limit``: unlike the write jobs this returns a
    lazy DataFrame, but its one driver-side action (collecting the
    probe-bucket set) runs here — the protocol reports hashing →
    probing → planning so a scheduler sees the same step stream as
    every other multi-stage job."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.similarity import cosine_batch, lsh_buckets

    prog = _Progress(progress, time_limit)
    prog.step("hashing")
    qb = (lsh_buckets(queries.withColumnRenamed(query_vec, corpus_vec),
                      query_id, corpus_vec, n_planes, seed=seed, dim=dim)
          .withColumnRenamed(corpus_vec, query_vec))
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p)).cast("long")
              for p in range(n_planes)])
        qp = qb.select(query_id, query_vec,
                       F.explode(probes).alias("bucket"))
    else:
        qp = qb.select(query_id, query_vec, "bucket")
    prog.step("probing")
    probe_buckets = [r["bucket"] for r in
                     qp.select("bucket").distinct().collect()]
    prog.step("planning")
    idx = (spark.read.parquet(path)
           .where(F.col("bucket").isin(probe_buckets)))
    cand = (idx.join(qp, "bucket")
               .where(F.col(query_id) != F.col(corpus_id)))
    cos = F.round(cosine_batch(F.col(query_vec), F.col(corpus_vec)), 6)
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(),
                                             F.col(corpus_id).asc())
    return (cand.withColumn("cosine", cos)
                .withColumn("rank", F.row_number().over(w).cast("long"))
                .where(F.col("rank") <= k)
                .select(query_id, corpus_id, "cosine", "rank"))


def append_lsh_index(batch, path: str, id_col: str = "vec_id",
                     vec_col: str = "embedding", n_planes: int = 6,
                     dim: int = 64, seed: str = "cdps",
                     progress: ProgressFn | None = None,
                     time_limit: float | None = None) -> dict:
    """Incremental index maintenance: hash ONLY the new vectors with the
    index's (seed, n_planes, dim) and append partition-wise — existing
    bucket directories gain one file per touched bucket, untouched
    buckets are never rewritten or read. Cost ∝ batch size, zero base
    re-hash; queries see old + new rows through the same
    partition-pruned read with no coordination (parquet appends are
    atomic at file granularity).

    ``progress``/``time_limit``: the Celery-state protocol of
    `process_dataset` — ("PROCESSING", step, elapsed) per stage,
    soft limit at stage boundaries, any-exception → the
    reference-shaped failed dict."""
    from pyspark.sql import functions as F

    from ..operators.similarity import lsh_buckets

    prog = _Progress(progress, time_limit)
    try:
        prog.step("counting")
        # Count BEFORE the append: a soft time-limit or failure after
        # the write has committed must not hand the caller a 'failed'
        # dict they would retry into a double-append.
        n = batch.count()
        prog.step("hashing")
        b = lsh_buckets(batch, id_col, vec_col, n_planes, seed=seed,
                        dim=dim)
        prog.step("appending")
        (b.repartition(F.col("bucket"))
          .write.mode("append").partitionBy("bucket").parquet(path))
    except Exception as exc:
        return _failed(exc, path=path, steps=prog.steps)
    return {"status": "completed", "path": path,
            "rows_appended": n, "steps": prog.steps}


def curate_media_corpus(spark: SparkSession, sf_dir: str,
                        output_dir: str, media=None, n_shards: int = 4,
                        min_dim: int = 8, mean_range: tuple = (5.0, 250.0),
                        min_samples: int = 100, rms_floor: float = 1.0,
                        progress: ProgressFn | None = None,
                        time_limit: float | None = 3600.0) -> dict:
    """The multimodal curation job end-to-end: media payloads →
    EXACT byte-level dedup → decode survivors → per-modality quality
    screen → sharded parquet + audited manifest. The multimodal twin of
    `curate_corpus`, with the stages ordered for 100 TB: dedup hashes
    ONLY the payload bytes (one md5 per row, one combinable
    min-aggregate shuffle) so duplicated payloads are dropped BEFORE
    any codec work, and the decode — the expensive Arrow stage — runs
    on byte-unique survivors only.

    Screen rules (the blank/clipped/silence cuts a media curation pass
    applies): images keep ``min_dim`` ≤ both dimensions and
    ``mean_range[0]`` ≤ pixel mean ≤ ``mean_range[1]`` (drops blank
    and saturated frames); audio keeps ≥ ``min_samples`` samples and
    RMS ≥ ``rms_floor`` (drops stubs and near-silence); video keeps
    ``min_dim`` and the frame-mean range applied to the clip mean.

    ``media`` defaults to `synthesize_media` over the documents table
    (even ids PGM, odd ids WAV) so the job is runnable against the
    driver testdata; pass any (media_id, media_type, payload, n_bytes)
    frame for a real corpus. Progress/time-limit/failure follow the
    `process_dataset` Celery-state protocol."""
    from pyspark.sql import functions as F

    from ..operators.multimodal import decode_media_real, synthesize_media

    prog = _Progress(progress, time_limit)
    pinned: list = []

    def pin(frame):
        from pyspark import StorageLevel
        frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
        pinned.append(frame)
        return frame

    try:
        prog.step("loading")
        if media is None:
            docs = load_table(spark, sf_dir, "documents")
            media = synthesize_media(docs, "doc_id", "text")
        media = pin(media)
        n_in = media.count()

        prog.step("dedup_bytes")
        # combinable min-agg on the payload hash (map-side partials
        # collapse viral duplicates before the shuffle), then a
        # broadcast-friendly semi join keeps one canonical row per
        # distinct payload — the same first-occurrence shape as
        # segment_dedup, never payload×payload
        hashed = media.withColumn("__h", F.md5(F.col("payload")))
        keep = (hashed.groupBy("__h")
                      .agg(F.min("media_id").alias("media_id")))
        # the semi join keeps the min-id row per hash — but a payload
        # ingested twice UNDER THE SAME id (a re-read shard unioned in)
        # matches twice, so collapse identical survivors explicitly
        unique = pin(hashed.join(keep, ["__h", "media_id"], "left_semi")
                           .dropDuplicates(["__h"])
                           .drop("__h"))
        n_unique = unique.count()

        prog.step("decoding")
        decoded = pin(decode_media_real(unique))
        n_decoded = decoded.count()

        prog.step("screening")
        lo, hi = mean_range
        is_image = F.col("kind") == "image"
        is_audio = F.col("kind") == "audio"
        is_video = F.col("kind") == "video"
        kept = pin(decoded.where(
            (is_image & (F.col("width") >= min_dim)
             & (F.col("height") >= min_dim)
             & F.col("mean_value").between(lo, hi))
            | (is_audio & (F.col("n_samples") >= min_samples)
               & (F.col("mean_value") >= rms_floor))
            | (is_video & (F.col("width") >= min_dim)
               & (F.col("height") >= min_dim)
               & F.col("mean_value").between(lo, hi))))
        by_kind = {r["kind"]: r["n"] for r in
                   kept.groupBy("kind").agg(F.count("*").alias("n"))
                       .collect()}
        n_kept = sum(by_kind.values())

        prog.step("writing")
        (kept.repartition(n_shards)
             .write.mode("overwrite").parquet(output_dir))
        prog.step("verifying")
        info = parquet_info(spark, output_dir)
        if info["num_rows"] != n_kept:
            return _failed(ValueError(
                f"shard rows {info['num_rows']} != kept {n_kept}"),
                output_dir=output_dir, steps=prog.steps)
    except Exception as exc:
        return _failed(exc, output_dir=output_dir, steps=prog.steps)
    finally:
        for frame in pinned:
            frame.unpersist()
    return {
        "status": "completed",
        "output_dir": output_dir,
        "stage_counts": {"input": n_in, "unique_payloads": n_unique,
                         "decoded": n_decoded, "kept": n_kept},
        "kept_by_kind": by_kind,
        "n_shards": n_shards,
        "output_info": info,
        "steps": prog.steps,
    }


def curate_web_corpus(spark: SparkSession, sf_dir: str,
                      output_dir: str, warc_df=None,
                      min_status: int = 200, max_status: int = 299,
                      min_chars: int = 1,
                      quality_filter: bool = False,
                      near_dedup: bool = False,
                      split_weights: dict | None = None,
                      keep_split: str = "train", n_shards: int = 8,
                      salt: str = "",
                      progress: ProgressFn | None = None,
                      time_limit: float | None = 3600.0) -> dict:
    """The crawl-to-corpus job end to end: WARC archives → record
    walk + HTML text extraction (``sources/warc.py``) → HTTP-status /
    minimum-length screens → the SAME staged curation pipeline as
    `curate_corpus` (quality gates, exact dedup, optional MinHash
    near-dedup, deterministic split, sharded write) over the
    RECOVERED text. Stage order is the 100 TB story: the extraction
    is one Arrow ``mapInPandas`` over payload bytes that never leave
    their executor, status/length screens drop junk before any
    hashing, and everything downstream reuses the audited corpus
    stages unchanged.

    ``warc_df`` is any (doc_id, payload) frame of WARC archives —
    defaults to `synthesize_warc` over the documents table so the job
    runs against driver testdata. Returns the curate_corpus audit
    dict extended with the crawl screens' counts."""
    from pyspark.sql import functions as F

    from ..sources.warc import synthesize_warc, warc_extract

    prog = _Progress(progress, time_limit)
    try:
        prog.step("warc_extract")
        if warc_df is None:
            docs = load_table(spark, sf_dir, "documents")
            warc_df = synthesize_warc(docs, "doc_id", "text")
        extracted = warc_extract(warc_df, include_text=True)
        n_records = extracted.count()
        prog.step("http_screen")
        kept = extracted.where(
            (F.col("http_status").between(min_status, max_status))
            & (F.col("n_chars") >= min_chars))
        n_http_ok = kept.count()
        corpus = kept.select("doc_id", "uri", "text")
        result = curate_corpus(
            spark, sf_dir, output_dir, text_col="text",
            id_col="doc_id", split_weights=split_weights,
            keep_split=keep_split, n_shards=n_shards, salt=salt,
            quality_filter=quality_filter, near_dedup=near_dedup,
            progress=progress, time_limit=time_limit,
            docs_df=corpus)
        result["n_warc_records"] = n_records
        result["n_http_ok"] = n_http_ok
        # curate_corpus always returns its own steps — PREPEND the
        # crawl stages so the audit lists the whole pipeline
        result["steps"] = prog.steps + result.get("steps", [])
        return result
    except Exception as exc:
        return _failed(exc, output_dir=output_dir, steps=prog.steps)
