"""Benchmark harness — prints ONE JSON line for the driver.

Methodology mirrors the reference's benchmark suite
(`/root/reference/src/benchmark_suite.py:67-120`): warmup run(s), N timed
iterations per query, per-query stats; the BASELINE envelope is the
reference's < 2,000 ms/query latency target at comparable data volume
(BASELINE.md). Headline queries span every operator family: scan-agg,
climatology join, window, exact percentiles, star join, top-k, JSON,
sessionization, MinHash dedup, cosine top-k.

Queries execute against the `noop` sink — full computation, no driver
collect — so timings measure the engine, not result serialization.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default all cores),
     BENCH_ITERATIONS / BENCH_WARMUP (default 20 / 3 — the reference
     harness's methodology: >= 20 timed iterations after 3 warmups,
     src/benchmark_suite.py:55-120; p95/p99 are meaningless at n < 20),
     BENCH_OFFHEADLINE_ITERATIONS (default 20 — same methodology as the
     headline set now that the evaluator family is sample-bounded) for
     the off-headline section (clustering family + ground-truth
     evaluators), benched separately so their round-over-round trend
     stays visible.

The final JSON carries a `host` fingerprint (CPU model, loadavg,
governor, memory) so cross-round deltas are attributable to code vs
host drift without a same-host A/B.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


HEADLINE = [
    "a11_pricing_summary",    # full-scan 8-aggregate group-agg (TPC-H Q1 shape)
    "a1_monthly_mean",        # calendar hash agg
    "a4_climatology_month",   # filtered climatology agg
    "j1_anomaly_join",        # agg + broadcast join back against facts
    "w1_rolling_mean",        # per-entity window frames
    "a5_grouped_percentiles", # exact grouped percentiles (sort-heavy)
    "a8_linear_trend",        # regression co-moment agg
    "j_equi_join_star",       # fact-dim join chain
    "topk_per_group",         # ranking window
    "f9_json_extract",        # JSON scalar path
    "sessionization",         # lag + running-sum window
    "asof_join_events",       # as-of join (union + last-ignore-nulls window)
    "dedup_minhash",          # shingle explode + signature agg + band join
    "sim_cosine_topk",        # broadcast NL + vector fold
    "pack_sequences",         # Arrow applyInPandas greedy kernel
    "tpch_q6_forecast_revenue",     # pure pushdown scan-agg
    "tpch_q19_disjunctive_revenue", # OR-predicate join w/ derived pushdown
    "hist_quantile_sketch",   # mergeable histogram partials + cum walk
    "array_hof_stats",        # higher-order array fold, shuffle-free
    "text_contamination",     # inverted-index semi join over shingles
    "funnel_conversion",      # chained entire-partition window minima
    "harmonic_seasonal_fit",  # closed-form 2-regressor OLS from co-moments
    "sim_lsh_ann",            # precomputed-plane LSH bucket join ANN
    "text_segment_dedup",     # combinable first-occurrence agg + reassembly
    "sim_quantized_topk",     # int8 integer-dot shortlist + exact rerank
    "text_perplexity",        # self-trained bigram LM scoring (1 stream join)
    "corpus_source_overlap",  # single-shuffle shingle→source-set pair matrix
    "text_gopher_rules",      # 7-rule integer-arithmetic filter, shuffle-free
    "dsir_importance_weights", # hashed-bigram likelihood ratios, 2 scans
    "text_winnow_fingerprints", # rolling-hash winnowing, 1 window shuffle
    "text_duplicate_spans",   # exact dup-substring spans, 1 gram shuffle
    "mm_image_resize",        # PNG decode + area pool, Arrow kernel
    "mm_decode_jpeg",         # baseline JPEG Huffman/DCT round trip
    "mm_video_frames",        # MJPEG AVI walk + sampled-frame decode
    "mm_audio_features",      # WAV decode + integer-exact clip stats
    "mm_frame_dedup",         # no-decode frame fingerprints + dup counts
    "mm_decode_tiff",         # TIFF IFD walk + LZW/PackBits/Deflate strips
    "mm_decode_webp",         # VP8L prefix codes + cache/LZ77/transforms
    "mm_decode_flac",         # Rice-coded frames + CRC walk + stereo
    "s_grib2_ingest",         # WMO GRIB2 sections + bit-packed fields
    "s_grib2_complex_ingest", # GRIB2 5.2/5.3 groups + spatial differencing
    "s_hdf5_szip_ingest",     # HDF5 szip (CCSDS Rice) chunk pipeline
    "s_grib2_interval_ingest", # product template 4.8 interval stats
    "s_grib2_reduced_ingest",  # reduced Gaussian ragged parallels
    "s_grib2_missing_ingest",  # 5.2/5.3 embedded missing-value mgmt
    "s_grib2_lambert_ingest",  # Lambert conformal inverse projection
    "s_hdf5_nbit_ingest",      # HDF5 nbit + scaleoffset filters
    "s_grib2_jpeg2000_ingest", # template 5.40: from-scratch J2K codec
    "s_grib2_aec_ingest",      # template 5.42: CCSDS/AEC via szip.py
    "s_grib2_spectral_ingest", # 3.50 spherical harmonics, 5.50/5.51
    "s_grib2_spaceview_ingest", # 3.90 geostationary perspective
    "corpus_source_overlap_dfcap",  # df-capped source overlap matrix
    "mm_exif_metadata",       # APP1/IFD metadata walk, zero pixel decode
    "mm_decode_audio_formats",  # G.711 mu/A-law + AIFF + 24-bit PCM
    "mm_audio_container_meta",  # MP3/Ogg walks, zero decode
    "s_warc_extract",         # WARC walk + gzip members + HTML strip
    "mm_decode_ico",          # favicon ICONDIR walk, largest-entry pick
    "mm_decode_mp3",          # Layer III MDCT chain (round 10)
    "s_hdf5_scaleoffset_f",   # HDF5 float D-scale scaleoffset filter
    "stream_rollup_parity",   # Structured Streaming tumbling rollup
    "text_url_canonicalize",  # crawl-frontier URL dedup, pure JVM regex
    "crawl_robots_screen",    # RFC 9309 robots.txt compliance screen
    "crawl_sitemap_extract",  # sitemaps.org XML frontier discovery
    "crawl_main_content",     # link-density boilerplate cut, pure HOFs
]

# Multi-job / clustering-family queries benched in their own section so
# their trend is visible in BENCH JSON round-over-round. The
# ground-truth evaluators (*_eval, winnow_overlap) run on deterministic
# md5-bucket samples mirrored into their oracles. Round 8 removed the
# old scheduling-floor straddlers: below the small-graph gate the
# clustering queries run ONE single-task union-find job instead of
# 3-5 propagation/rewiring rounds (output-identical, plan-tested), and
# bpe_train's small-vocab arm runs one exact sequential kernel — the
# iterative algorithms remain the >gate scale path with their own
# tests. Pair generation (prefix+length+positional-filtered Jaccard
# join) is now the dominant term in this family.
OFF_HEADLINE = [
    "text_bpe_train",          # vocab groupBy + single-task exact BPE arm
    "sim_cosine_pairs",        # banded LSH + sketch prefilter + rerank
    "dedup_semantic_clusters", # LSH pair graph -> connected components
    "dedup_semantic_prune",    # SemDeDup corpus prune end-to-end
    "dedup_clusters",          # exact-Jaccard clustering (prefix-filtered)
    "dedup_clusters_star",     # O(log n)-round star rewiring (fixed job floor)
    "dedup_keep_best",         # full dedup pipeline: pairs+CC+quality rank
    "dedup_minhash_eval",      # sampled precision/recall evaluator
    "dedup_semantic_eval",     # sampled low-threshold evaluator
    "text_winnow_overlap",     # sampled shared-fingerprint pair matrix
    "dedup_incremental",       # batch-vs-corpus band-table screen
]


def bench_serving(spark, sf_dir: str, iters: int = 20) -> dict:
    """Serving-facade latency — BASELINE.md's < 2 s envelope is an API
    latency target (reference `api/cache.py:4-5,24`; harness
    `src/benchmark_suite.py:67-120`), so the bench measures it directly:
    ServingApi point query on a cache MISS (real Spark job + bounded
    collect) and HIT (TTL-cache lookup), plus a full http_server
    round-trip (`POST /data/query`). p95 in milliseconds."""
    import json as _json
    import urllib.request

    from climate_data_pipeline_spark.http_server import ServingHttpServer
    from climate_data_pipeline_spark.serving import ServingApi
    from climate_data_pipeline_spark.sources.catalog import Catalog
    from climate_data_pipeline_spark.sources.io import load_table

    events = load_table(spark, sf_dir, "events")
    api = ServingApi(spark)

    p95 = lambda samples: percentile(samples, 0.95)  # noqa: E731

    def timed(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return (time.perf_counter() - t0) * 1000

    # cache miss: a fresh cache key per iteration forces the Spark path
    for i in range(3):
        api.point_timeseries(events, "ts", "value",
                             keys={"user_id": 1}, dataset=f"warm{i}")
    miss = [timed(lambda i=i: api.point_timeseries(
        events, "ts", "value", keys={"user_id": 1}, dataset=f"it{i}"))
        for i in range(iters)]
    # cache hit: same key every time after the first call
    api.point_timeseries(events, "ts", "value", keys={"user_id": 1},
                         dataset="hot")
    hit = [timed(lambda: api.point_timeseries(
        events, "ts", "value", keys={"user_id": 1}, dataset="hot"))
        for _ in range(iters)]

    cat = Catalog(spark)
    cat.register("events", f"{sf_dir}/events.parquet", title="Events")
    srv = ServingHttpServer(cat, data_lake_path="/lake")
    port = srv.start()
    try:
        url = f"http://127.0.0.1:{port}/data/query"
        payload = _json.dumps({"dataset_id": "events",
                               "variable": "value"}).encode()

        def roundtrip():
            req = urllib.request.Request(
                url, data=payload,
                headers={"Content-Type": "application/json"},
                method="POST")
            with urllib.request.urlopen(req, timeout=30) as r:
                r.read()

        for _ in range(3):
            roundtrip()
        http = [timed(roundtrip) for _ in range(iters)]
    finally:
        srv.stop()

    out = {"point_query_miss_p95_ms": round(p95(miss), 2),
           "point_query_hit_p95_ms": round(p95(hit), 3),
           "http_data_query_p95_ms": round(p95(http), 2)}
    out["meets_2s_target"] = all(v < 2000 for k, v in out.items()
                                 if k.endswith("_ms"))
    return out


def host_fingerprint() -> dict:
    """CPU model / core count / load / governor / memory — stamped into
    the bench JSON so cross-round deltas are interpretable without a
    same-host A/B each time (rounds 5-6 both burned a session proving
    apparent 15-40% 'regressions' were host drift)."""
    fp: dict = {"cpus": os.cpu_count()}
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.lower().startswith("model name"):
                    fp["cpu_model"] = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    try:
        fp["loadavg_1m"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    try:
        with open("/sys/devices/system/cpu/cpu0/cpufreq/"
                  "scaling_governor") as f:
            fp["governor"] = f.read().strip()
    except OSError:
        pass
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal"):
                    fp["mem_total_kb"] = int(line.split()[1])
                    break
    except OSError:
        pass
    return fp


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile: smallest value with at least q of the
    sample at or below it (index ceil(q·n) − 1). The naive int(q·n)
    overshoots by one — at n=3 it made p95 == p99 == max."""
    import math

    s = sorted(samples)
    return s[max(0, min(len(s) - 1, math.ceil(q * len(s)) - 1))]


def compact_line(per_query: dict, details: dict, off_headline: dict,
                 serving: dict, host: dict, sf, iterations: int) -> str:
    """The ONE compact stdout line, printed LAST. The recorded BENCH
    artifact keeps only the last 2000 chars of stdout; a longer line
    arrives with its head cut off and parses as null. Contract keys
    (metric/value/unit/n/sf/queries/env); per-query values rounded to
    2 dp to fit (full precision is in the stderr record); `env` adds
    the envelope verdict + worst rows so the artifact is
    self-contained. The slowest headline query is the argmax of
    `queries` (not repeated in `env`: at 99.99 s per query the line
    would not fit); `wmax` is its slowest iteration. The length bound
    is pinned by tests/test_bench_contract.py."""
    worst = max(per_query, key=per_query.get)
    offworst = (max(off_headline, key=lambda k: off_headline[k]["mean_s"])
                if off_headline else None)
    return json.dumps({
        "metric": "headline_query_mean_runtime_total",
        "value": round(sum(per_query.values()), 4),
        "unit": "sec",
        "n": iterations,
        "sf": sf,
        "queries": {k: round(v, 2) for k, v in per_query.items()},
        "env": {
            "wmax": round(details[worst]["max_s"], 2),
            "over2": sum(v >= 2.0 for v in per_query.values()),
            "offworst": offworst,
            "offwmean": (round(off_headline[offworst]["mean_s"], 3)
                         if offworst else None),
            "srv_p95_ms": serving.get("point_query_miss_p95_ms"),
            "load1m": host.get("loadavg_1m"),
            "cpus": host.get("cpus"),
            "cold": 1,  # r12: timed iterations clear Spark caches first
        },
    }, separators=(",", ":"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    iterations = int(os.environ.get("BENCH_ITERATIONS", "20"))
    warmup = int(os.environ.get("BENCH_WARMUP", "3"))
    off_iters = int(os.environ.get("BENCH_OFFHEADLINE_ITERATIONS", "20"))
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        # a non-sfN dir name must not crash AFTER all benchmarks ran
        # (the ValueError used to land inside the final print, losing
        # the one stdout JSON line the driver reads)
        sf = None

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from climate_data_pipeline_spark import registry
    from climate_data_pipeline_spark.session import get_spark

    # capture BEFORE any Spark work: taken at the end it would read the
    # bench's own 32-core load instead of the ambient host state
    host = host_fingerprint()
    spark = get_spark(app_name="cdps-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    # r12 (round-11 verdict ask #2): timed iterations run COLD.
    # Operator-level .cache()/.persist() sites (minhash signature
    # tables, jaccard shingle arrays, contamination blooms) are matched
    # by Spark's CacheManager across per-iteration rebuilt DataFrames,
    # so warmup used to populate them and the timed iterations read
    # warm intermediates (measured r11: dedup_minhash 0.73-1.01 s warm
    # vs 1.26-1.64 s cold). Clearing BEFORE the timer of every timed
    # iteration makes each measurement a first run: cache population
    # cost lands inside the timed region, nothing persists between
    # iterations. Methodology change is additions-only (same query
    # names, same noop sink, same n/warmup); declared loudly in
    # PERFORMANCE.md + OPTIMIZATION_r12.md and flagged as "cold": 1 in
    # the env block. Warmups still run (JIT/codegen/scan-listing warm,
    # as any steady-state cluster would be); only Spark-cached DATA is
    # dropped.
    from climate_data_pipeline_spark.operators.dedup import (
        clear_intermediate_caches,
    )

    def run_once(name: str, cold: bool = True) -> float:
        if cold:
            clear_intermediate_caches()
            spark.catalog.clearCache()
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    per_query: dict[str, float] = {}
    details: dict[str, dict] = {}
    for name in HEADLINE:
        for _ in range(warmup):
            run_once(name)
        times = sorted(run_once(name) for _ in range(iterations))
        per_query[name] = round(statistics.mean(times), 4)
        details[name] = {
            "mean_s": round(statistics.mean(times), 4),
            "median_s": round(statistics.median(times), 4),
            "min_s": round(times[0], 4),
            "max_s": round(times[-1], 4),
            "p95_s": round(percentile(times, 0.95), 4),
            "p99_s": round(percentile(times, 0.99), 4),
            "meets_2s_target": times[-1] < 2.0,
        }

    off_headline: dict[str, dict] = {}
    for name in OFF_HEADLINE:
        for _ in range(warmup):
            run_once(name)
        times = sorted(run_once(name) for _ in range(off_iters))
        off_headline[name] = {
            "mean_s": round(statistics.mean(times), 4),
            "median_s": round(statistics.median(times), 4),
            "min_s": round(times[0], 4),
            "max_s": round(times[-1], 4),
            "p95_s": round(percentile(times, 0.95), 4),
            "n": off_iters,
            "meets_2s_target": times[-1] < 2.0,
        }

    serving = bench_serving(spark, sf_dir)

    # round-9: the sf0.1 envelope stopped discriminating (headline
    # mean ~0.6 s), so the shuffle-heavy families are ALSO measured
    # at a deterministic 10× replica corpus with a same-session A/B
    # baseline — the ratio is immune to the cross-session host drift
    # that false-flagged five regressions in BENCH_r08. Disable with
    # BENCH_SCALE10X=0 for quick iteration runs.
    scale10x = curate10x = None
    if os.environ.get("BENCH_SCALE10X", "1") != "0":
        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "tools"))
        from scale_bench import run_curate10x, run_scale10x
        scale10x = run_scale10x(spark, sf_dir)
        # round-10: the staged curation pipeline end-to-end at ×10 —
        # the 100 TB claim rests on the stage ordering, so the
        # composition itself is scale-measured, not just its parts
        curate10x = run_curate10x(spark, sf_dir)

    # FULL-fidelity record (per-query percentiles, off-headline,
    # serving, scale10x/curate10x, host fingerprint) → stderr: redirect
    # to a file at freeze and mine for PERFORMANCE.md. Keeps every
    # field the r10 stdout line carried.
    print(json.dumps({
        "details": details, "n_queries": len(HEADLINE),
        "off_headline": off_headline, "serving_ms": serving,
        "scale10x": scale10x, "curate10x": curate10x, "host": host,
        "sf": sf, "n": iterations,
    }), file=sys.stderr)
    print(compact_line(per_query, details, off_headline, serving, host,
                       sf, iterations))


if __name__ == "__main__":
    main()
