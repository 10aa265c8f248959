"""Structured Streaming analogues (SURVEY.md §2.9).

The reference is strictly batch — its Celery tasks are deferred batch
jobs, not streams — so streaming is deliberately OFF the core path. These
demos show the incremental formulations of the batch operators for the
case where events arrive continuously:

- ``streaming_rollup``: the tumbling-window incremental version of the
  monthly/daily mean (A1), with a watermark bounding state for late data.
- ``streaming_sessionize``: session_window — the stateful analogue of the
  batch lag+cumsum sessionization in operators/relational.py.

Both read a parquet directory as a file stream (swap for kafka in
production) and are driven to completion synchronously in tests via the
memory sink + ``processAllAvailable``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import _NANOS_TS_COLS


def _read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streams need an explicit schema; reuse the batch reader's (with the
    # nanos column surfaced as long, converted exactly like the batch path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # file-stream sources need a directory; glob-filter to the events table
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    for c in _NANOS_TS_COLS.get("events", ()):
        dt = dict(stream.dtypes).get(c)
        if dt == "bigint":
            stream = stream.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dt == "timestamp_ntz":
            # newer Spark reads parquet TIMESTAMP(NANOS) natively as NTZ;
            # event-time watermarks require TIMESTAMP — cast (session tz
            # is pinned UTC in the package session, so wall-clock is kept)
            stream = stream.withColumn(c, F.col(c).cast("timestamp"))
    return stream


def streaming_rollup(spark: SparkSession, sf_dir: str,
                     window: str = "1 day",
                     watermark: str = "1 hour",
                     exact_scale: int | None = None) -> DataFrame:
    """Tumbling-window mean/count per event_type with late-data watermark —
    the incremental A1. State per (window, event_type) is dropped once the
    watermark passes, so state size is bounded at any input rate.

    ``exact_scale`` swaps the float mean for the package's scaled-integer
    exact sum (``functions.exact``): the incremental per-batch partial
    aggregation then accumulates in associative longs, so the final
    value is bit-identical to the batch rollup REGARDLESS of how input
    files were split into micro-batches — the property the
    ``stream_rollup_parity`` oracle check rests on."""
    from ..functions.exact import exact_sum

    ev = _read_events_stream(spark, sf_dir)
    if exact_scale is not None:
        val, val_name = exact_sum("value", exact_scale), "sum_value"
    else:
        val, val_name = F.avg("value"), "avg_value"
    return (ev.withWatermark("ts", watermark)
              .groupBy(F.window("ts", window).alias("w"), "event_type")
              .agg(F.count("*").alias("n"), val.alias(val_name))
              .select(F.col("w.start").alias("window_start"),
                      "event_type", "n", val_name))


def streaming_sessionize(spark: SparkSession, sf_dir: str,
                         gap: str = "30 minutes",
                         watermark: str = "1 hour") -> DataFrame:
    """session_window aggregation — the stateful streaming counterpart of
    the batch gap-based sessionization."""
    ev = _read_events_stream(spark, sf_dir)
    return (ev.withWatermark("ts", watermark)
              .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
              .agg(F.count("*").alias("n_events"))
              .select(F.col("sw.start").alias("session_start"),
                      F.col("sw.end").alias("session_end"),
                      "user_id", "n_events"))


def streaming_enrich(spark: SparkSession, sf_dir: str,
                     dim: DataFrame, on: str = "event_type") -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the events
    stream joins against a static (slowly-changing) dimension. Spark
    plans this as a broadcast hash join per micro-batch — no stream
    state, no watermark needed, and the static side is re-resolvable
    (swap the dim table between batches for SCD-style refresh). The
    semantics are proven equal to the batch join in test_plans."""
    ev = _read_events_stream(spark, sf_dir)
    return ev.join(F.broadcast(dim), on, "left")


def run_stream_to_memory(df: DataFrame, name: str,
                         output_mode: str = "append") -> None:
    """Drive a streaming DataFrame to completion against the memory sink
    (test/demo harness)."""
    q = (df.writeStream.outputMode(output_mode)
           .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def streaming_running_zscore(spark: SparkSession, sf_dir: str,
                             min_history: int = 5) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    a per-user running anomaly detector. State = Welford (n, mean, M2)
    per user; each micro-batch emits the batch's events z-scored against
    the history *before* the batch, then folds the batch into state.

    This is the pattern the reference has no analogue for (strictly batch,
    SURVEY.md §2.9) and the one genuinely stateful extension point
    Structured Streaming adds: bounded per-key state, incremental updates,
    timeout-based eviction (unused here — event-time bounded input).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _read_events_stream(spark, sf_dir)
    out_schema = ("user_id long, event_id long, value double, "
                  "history_n long, zscore double")
    state_schema = "n long, mean double, m2 double"

    def detect(key, pdfs, state: GroupState):
        # closure-local imports/helpers only (cloudpickle ships by value)
        import math

        import pandas as pd

        (user_id,) = key
        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        outs = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            pre_n, pre_mean, pre_m2 = n, mean, m2
            std = (math.sqrt(pre_m2 / (pre_n - 1))
                   if pre_n > 1 else float("nan"))
            z = ((pdf["value"] - pre_mean) / std
                 if pre_n >= min_history and std and std > 0
                 else pd.Series([float("nan")] * len(pdf),
                                index=pdf.index))
            outs.append(pd.DataFrame({
                "user_id": user_id, "event_id": pdf["event_id"],
                "value": pdf["value"],
                "history_n": pre_n, "zscore": z}))
            for v in pdf["value"]:          # Welford fold
                n += 1
                delta = v - mean
                mean += delta / n
                m2 += delta * (v - mean)
        state.update((n, mean, m2))
        yield pd.concat(outs)

    return (ev.groupBy("user_id")
              .applyInPandasWithState(detect, out_schema, state_schema,
                                      "append",
                                      GroupStateTimeout.NoTimeout))


def streaming_dedup(spark: SparkSession, sf_dir: str,
                    watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup — the incremental form of
    ``operators/dedup.exact_dedup`` for at-least-once delivery: the input
    stream is unioned with itself (every event delivered twice) and
    ``dropDuplicatesWithinWatermark`` on the event key recovers each
    exactly once. State = one entry per key seen within the watermark
    horizon, evicted as event time advances — bounded regardless of
    stream length, which is the property that makes streaming dedup
    viable at all (an unbounded key set would OOM any executor)."""
    ev = _read_events_stream(spark, sf_dir)
    dup = ev.union(ev)
    return (dup.withWatermark("ts", watermark)
               .dropDuplicatesWithinWatermark(["event_id"]))


def streaming_ingest_once(spark: SparkSession, sf_dir: str,
                          target_dir: str) -> "object":
    """Idempotent streaming ingestion: ``foreachBatch`` dedupes each
    micro-batch *within* the batch, anti-joins it against the parquet
    target on the event key, and appends only genuinely new rows. Because
    every append is guarded by the anti-join, replaying the source (or
    restarting the stream without checkpoint state) cannot duplicate data
    — the exactly-once guarantee lives in the sink protocol, not the
    stream state. This is the Delta-less MERGE-on-stream pattern; at
    scale the anti-join prunes via partition filters on the target.

    Returns the started StreamingQuery (caller drives/stops it).
    """
    ev = _read_events_stream(spark, sf_dir)

    def upsert(batch_df, batch_id):
        import os

        batch = batch_df.dropDuplicates(["event_id"])
        # explicit existence probe, not try/except Exception: a
        # transient read error (torn footer, permission, FS hiccup)
        # must FAIL the batch — swallowing it would append without the
        # anti-join and permanently duplicate replayed events, which is
        # the exact guarantee this sink exists to provide
        if os.path.isdir(target_dir) and any(
                not f.startswith((".", "_"))
                for f in os.listdir(target_dir)):
            existing = (batch_df.sparkSession.read.parquet(target_dir)
                        .select("event_id"))
            batch = batch.join(existing, "event_id", "left_anti")
        batch.write.mode("append").parquet(target_dir)

    return (ev.union(ev)  # at-least-once delivery simulation
              .writeStream.foreachBatch(upsert)
              .option("checkpointLocation", target_dir + "_chk")
              .start())


def streaming_interval_join(spark: SparkSession, sf_dir: str,
                            tolerance: str = "1 hour",
                            watermark: str = "2 hours") -> DataFrame:
    """Stream-stream interval join: clicks attributed to the views they
    followed within ``tolerance``, both sides unbounded streams.

    This is the join family batch can't fake incrementally: both inputs
    grow forever, so Spark buffers each side in state and the join is
    only feasible because (a) both sides carry watermarks and (b) the
    join condition bounds event-time distance — together they give the
    state store a provable eviction horizon (a view older than
    watermark + tolerance can never match a future click and is
    dropped). Without the time bound the state is unbounded and Spark
    rejects the query in append mode.

    Semantics are proven equal to the batch join with the identical
    condition in test_plans."""
    views = (_read_events_stream(spark, sf_dir)
             .where(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("ts").alias("view_ts"),
                     F.col("event_id").alias("view_id"))
             .withWatermark("view_ts", watermark))
    clicks = (_read_events_stream(spark, sf_dir)
              .where(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("ts").alias("click_ts"),
                      F.col("event_id").alias("click_id"))
              .withWatermark("click_ts", watermark))
    cond = F.expr(f"""
        v_user = c_user
        AND click_ts >= view_ts
        AND click_ts <= view_ts + interval {tolerance}
    """)
    return (views.join(clicks, cond)
            .select(F.col("v_user").alias("user_id"),
                    "view_id", "click_id", "view_ts", "click_ts"))


def make_zscore_detector(min_history: int = 5):
    """StatefulProcessor class for the per-user running z-score — a
    module-level factory so the kernel is unit-drivable with a stub
    handle where the protobuf state-server transport isn't installed
    (the parity test runs the LOGIC everywhere; the transport itself
    exercises only on protobuf-equipped hosts)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Detector(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "welford", "n long, mean double, m2 double")

        def handleInputRows(self, key, rows, timerValues):
            import math

            import pandas as pd

            (user_id,) = key
            cur = self._state.get()
            n, mean, m2 = (cur[0], cur[1], cur[2]) if cur is not None \
                else (0, 0.0, 0.0)
            for pdf in rows:
                pdf = pdf.sort_values(["ts", "event_id"])
                pre_n, pre_mean, pre_m2 = n, mean, m2
                std = (math.sqrt(pre_m2 / (pre_n - 1))
                       if pre_n > 1 else float("nan"))
                z = ((pdf["value"] - pre_mean) / std
                     if pre_n >= min_history and std and std > 0
                     else pd.Series([float("nan")] * len(pdf),
                                    index=pdf.index))
                yield pd.DataFrame({
                    "user_id": user_id, "event_id": pdf["event_id"],
                    "value": pdf["value"],
                    "history_n": pre_n, "zscore": z})
                for v in pdf["value"]:      # Welford fold
                    n += 1
                    delta = v - mean
                    mean += delta / n
                    m2 += delta * (v - mean)
            self._state.update((n, mean, m2))

        def close(self) -> None:
            pass

    return Detector


def streaming_running_zscore_tws(spark: SparkSession, sf_dir: str,
                                 min_history: int = 5) -> DataFrame:
    """The same per-user running anomaly detector as
    `streaming_running_zscore`, on the `transformWithStateInPandas`
    API (StatefulProcessor + typed ValueState): the arbitrary-state
    successor to `applyInPandasWithState`, with composable named state
    variables and timers. Plan construction works anywhere; EXECUTION
    requires the RocksDB state-store provider
    (`spark.sql.streaming.stateStore.providerClass`) and the
    ``protobuf`` package (the state-server protocol). The kernel class
    comes from `make_zscore_detector`, so the parity test drives the
    same logic with a stub handle where protobuf is absent."""
    ev = _read_events_stream(spark, sf_dir)
    out_schema = ("user_id long, event_id long, value double, "
                  "history_n long, zscore double")
    Detector = make_zscore_detector(min_history)
    return (ev.groupBy("user_id")
              .transformWithStateInPandas(statefulProcessor=Detector(),
                                          outputStructType=out_schema,
                                          outputMode="append",
                                          timeMode="None"))


def streaming_incremental_dedup(spark: SparkSession, sf_dir: str,
                                target_dir: str,
                                corpus_sigs: DataFrame | None = None,
                                num_perm: int = 12, bands: int = 4,
                                n: int = 3,
                                min_est: float = 0.5) -> "object":
    """Steady-state near-dup screening as a stream: each micro-batch of
    newly arrived documents (doc_id % 5 == 0 plays the arrival stream)
    runs through the SAME batch operator
    (``operators/dedup.incremental_dedup``) inside ``foreachBatch``
    against the standing corpus's persisted signature store — stream and
    batch share one code path, so streaming results ARE the batch
    results by construction (within-batch precedence applies per
    micro-batch; corpus-match flags are batch-boundary invariant). The
    signature store is a static DataFrame re-resolved per micro-batch,
    so appending the screened batch's signatures to it between triggers
    gives the rolling-corpus behaviour with no stream state at all —
    state lives in the store, bounded by corpus size, not stream length.

    Returns the started StreamingQuery (caller drives/stops it)."""
    from ..operators.dedup import incremental_dedup, minhash_signatures

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir)
              .where(F.col("doc_id") % 5 == 0))
    if corpus_sigs is None:
        corpus = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                  .where(F.col("doc_id") % 5 != 0))
        corpus_sigs = minhash_signatures(corpus, "text", "doc_id",
                                         num_perm, n).cache()

    def screen(batch_df, batch_id):
        out = incremental_dedup(None, batch_df, "text", "doc_id",
                                num_perm=num_perm, bands=bands, n=n,
                                min_est=min_est, corpus_sigs=corpus_sigs)
        out.write.mode("append").parquet(target_dir)

    return (stream.writeStream.foreachBatch(screen)
            .option("checkpointLocation", target_dir + "_chk")
            .start())


def streaming_lm_gate(spark: SparkSession, sf_dir: str, target_dir: str,
                      nll_keep_threshold: float = 3.4) -> "object":
    """LM quality gate on an ingest stream: the bigram LM trains ONCE
    on the standing corpus (doc_id % 5 != 0), and every arriving
    micro-batch (doc_id % 5 == 0 plays the stream) is scored against it
    by the SAME batch operator (``operators/text.lm_perplexity`` with
    ``ref=``) inside ``foreachBatch`` — stream and batch share one code
    path, so the gate's decisions are micro-batch-boundary invariant by
    construction (each document's score depends only on the static LM
    and its own text). Unseen bigrams fall back to the add-one floor,
    never dropped. State lives in the static LM, bounded by vocabulary,
    not stream length.

    Every arriving document gets a decision row: documents too short
    to score (< 2 words → no bigrams, so ``lm_perplexity`` emits
    nothing) are left-joined back and pass the gate by default with
    ``n_bigrams = 0`` and NULL ``avg_nll`` — a consumer filtering on
    ``keep`` never silently loses a document.

    Returns the started StreamingQuery (caller drives/stops it)."""
    from ..operators.text import lm_perplexity, train_bigram_lm

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir)
              .where(F.col("doc_id") % 5 == 0))
    corpus = (spark.read.parquet(f"{sf_dir}/documents.parquet")
              .where(F.col("doc_id") % 5 != 0))
    # train the LM ONCE and persist its three tables — scoring a
    # micro-batch must not re-aggregate the standing corpus per trigger
    lm = tuple(t.cache() for t in train_bigram_lm(corpus, "text",
                                                  "doc_id"))

    def gate(batch_df, batch_id):
        scores = lm_perplexity(batch_df, "text", "doc_id",
                               nll_keep_threshold, ref=corpus, lm=lm)
        out = (batch_df.select("doc_id")
               .join(scores, "doc_id", "left")
               .select("doc_id",
                       F.coalesce("n_bigrams", F.lit(0))
                        .cast("long").alias("n_bigrams"),
                       F.coalesce("sum_logp_micro", F.lit(0))
                        .cast("long").alias("sum_logp_micro"),
                       "avg_nll",
                       F.coalesce("keep", F.lit(True)).alias("keep")))
        out.write.mode("append").parquet(target_dir)

    return (stream.writeStream.foreachBatch(gate)
            .option("checkpointLocation", target_dir + "_chk")
            .start())


def streaming_winnow_contamination(spark: SparkSession, sf_dir: str,
                                   target_dir: str, k: int = 12,
                                   w: int = 8,
                                   min_shared: int = 3) -> "object":
    """Local-match contamination screening on an ingest stream: the
    standing corpus (doc_id % 5 != 0) is winnow-fingerprinted ONCE
    (`operators/text.winnow_fingerprints` — the MOSS rolling-hash
    selection) and cached; every arriving micro-batch (doc_id % 5 == 0
    plays the stream) is fingerprinted by the SAME batch operator and
    joined on fingerprint hash against the store. A batch document
    sharing >= ``min_shared`` distinct fingerprints with any corpus
    document is flagged with its best-matching corpus doc — catching
    COPIED REGIONS that whole-document hashes and bag-of-shingles
    both miss (eval-set paragraphs pasted into training pages).

    Stream and batch share one code path, so decisions are
    micro-batch-boundary invariant by construction (each document's
    flags depend only on the static store and its own text). State
    lives in the fingerprint store — bounded by corpus size, never by
    stream length; at 100 TB the store is a bucketed parquet table
    and the per-batch probe is the same equi-join.

    Returns the started StreamingQuery (caller drives/stops it)."""
    from ..operators.text import winnow_fingerprints

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir)
              .where(F.col("doc_id") % 5 == 0))
    corpus = (spark.read.parquet(f"{sf_dir}/documents.parquet")
              .where(F.col("doc_id") % 5 != 0))
    store = (winnow_fingerprints(corpus, "text", "doc_id", k=k, w=w)
             .select(F.col("doc_id").alias("corpus_doc"), "hash")
             .distinct().cache())
    store.count()                      # materialize once, not per trigger

    def screen(batch_df, batch_id):
        fp = (winnow_fingerprints(batch_df, "text", "doc_id", k=k, w=w)
              .select("doc_id", "hash").distinct())
        hits = (fp.join(store, "hash")
                  .groupBy("doc_id", "corpus_doc")
                  .agg(F.count("*").alias("n_shared"))
                  .where(F.col("n_shared") >= min_shared))
        best = hits.groupBy("doc_id").agg(
            F.max(F.struct("n_shared", "corpus_doc")).alias("b"))
        out = (batch_df.select("doc_id")
               .join(best, "doc_id", "left")
               .select("doc_id",
                       F.col("b.corpus_doc").alias("matched_corpus_doc"),
                       F.coalesce(F.col("b.n_shared"), F.lit(0))
                        .cast("long").alias("n_shared"),
                       F.col("b.n_shared").isNotNull()
                        .alias("contaminated")))
        out.write.mode("append").parquet(target_dir)

    return (stream.writeStream.foreachBatch(screen)
            .option("checkpointLocation", target_dir + "_chk")
            .start())


def streaming_media_decode(spark: SparkSession, media_dir: str) -> DataFrame:
    """Streaming twin of the REAL media decode: a file stream of payload
    rows (the shape a tar-shard ingest or object-store notification feed
    produces) through the same Arrow row-stage codecs as the batch
    path (`operators/multimodal.decode_media_real`). Stateless — no
    watermark, no state store; each micro-batch decodes independently,
    so the operator scales with arrival rate exactly like the batch plan
    scales with partitions. Proven batch-equal in test_plans."""
    from ..operators.multimodal import MEDIA_SCHEMA, decode_media_real

    stream = (spark.readStream.schema(MEDIA_SCHEMA)
              .option("pathGlobFilter", "*.parquet")
              .parquet(media_dir))
    return decode_media_real(stream)
