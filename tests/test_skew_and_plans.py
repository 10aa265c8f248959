"""Skew-operator equivalence tests + physical-plan quality regression
guards for the headline queries (the 100 TB story, locked in CI)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from climate_data_pipeline_spark import registry
from climate_data_pipeline_spark.operators.skew import (
    salted_aggregate,
    salted_join,
    skew_report,
)
from climate_data_pipeline_spark.sources.io import load_table

registry._load_all()


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem")


def test_salted_aggregate_equals_plain(lineitem):
    got = {r["l_returnflag"]: (r["s"], r["n"], r["mx"])
           for r in salted_aggregate(
               lineitem, ["l_returnflag"],
               {"s": ("sum", "l_quantity"), "n": ("count", "l_quantity"),
                "mx": ("max", "l_quantity")}).collect()}
    want = {r["l_returnflag"]: (r["s"], r["n"], r["mx"])
            for r in lineitem.groupBy("l_returnflag")
                             .agg(F.sum("l_quantity").alias("s"),
                                  F.count("l_quantity").alias("n"),
                                  F.max("l_quantity").alias("mx")).collect()}
    assert got == want


def test_salted_aggregate_rejects_nonalgebraic(lineitem):
    with pytest.raises(ValueError, match="fn must be one of"):
        salted_aggregate(lineitem, ["l_returnflag"],
                         {"m": ("median", "l_quantity")})


def test_salted_join_equals_plain(spark, sf_dir, lineitem):
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = lineitem.select(F.col("l_partkey").alias("p_partkey"), "l_quantity")
    plain = li.join(part, "p_partkey").groupBy("p_brand") \
              .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
    salted = salted_join(li, part, "p_partkey", n_salts=4) \
        .groupBy("p_brand").agg(F.count("*").alias("n"),
                                F.sum("l_quantity").alias("q"))
    assert sorted(map(tuple, plain.collect())) == \
           sorted(map(tuple, salted.collect()))


def test_skew_report(lineitem):
    rep = skew_report(lineitem, "l_returnflag", top_n=3).collect()
    assert len(rep) == 3
    assert abs(sum(r["share"] for r in rep) - 1.0) < 1e-9  # 3 flags total


# --- plan-quality regression guards ------------------------------------------


def _plan(spark, sf_small, name: str) -> str:
    df = registry.REGISTRY[name].fn(spark, sf_small)
    return df._jdf.queryExecution().executedPlan().toString()


def test_star_join_broadcasts_all_dims(spark, sf_small):
    plan = _plan(spark, sf_small, "j_equi_join_star")
    assert "SortMergeJoin" not in plan  # every dim side broadcasts at sf0.001
    assert plan.count("BroadcastHashJoin") >= 2


def test_anomaly_join_is_broadcast(spark, sf_small):
    plan = _plan(spark, sf_small, "j1_anomaly_join")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_aggregations_have_map_side_partials(spark, sf_small):
    for name in ("a11_pricing_summary", "a1_monthly_mean", "a8_linear_trend"):
        plan = _plan(spark, sf_small, name)
        assert "partial_" in plan, f"{name}: no map-side partial aggregation"
        assert plan.count("Exchange ") == 1, f"{name}: expected exactly 1 shuffle"


def test_rolling_single_shuffle(spark, sf_small):
    plan = _plan(spark, sf_small, "w1_rolling_mean")
    assert plan.count("Exchange ") == 1  # partition by user only, no global sort


def test_scan_query_prunes_columns(spark, sf_small):
    plan = _plan(spark, sf_small, "s2_projected_scan")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema  # unprojected column pruned
    assert "PushedFilters: [" in plan and "IsNotNull" in plan


def test_q6_is_scan_plus_single_reduce(spark, sf_small):
    """Q6 shape: all three predicates reach the Parquet scan; the only
    Exchange is the 1-row final-aggregate gather — no join, no sort."""
    plan = _plan(spark, sf_small, "tpch_q6_forecast_revenue")
    assert plan.count("Exchange ") == 1
    assert "Join" not in plan
    assert "partial_" in plan
    pushed = plan.split("PushedFilters: [")[1]
    assert "l_shipdate" in pushed and "l_quantity" in pushed


def test_q19_derives_pushable_disjunction(spark, sf_small):
    """The OR straddles the join, but Catalyst extracts the
    lineitem-only disjunction (quantity ranges) and pushes it into the
    fact scan — without that, 100 TB of lineitem reaches the join."""
    plan = _plan(spark, sf_small, "tpch_q19_disjunctive_revenue")
    li_scan = [s for s in plan.split("PushedFilters: [")[1:]
               if "l_quantity" in s.split("]")[0]]
    assert li_scan, "no derived l_quantity disjunction pushed to lineitem scan"
    assert "Or(" in li_scan[0].split("]")[0]
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_q7_pushes_pair_filter_to_both_nation_roles(spark, sf_small):
    """The symmetric nation-pair predicate references both role copies,
    yet each nation scan gets the derived single-side IN-disjunction."""
    plan = _plan(spark, sf_small, "tpch_q7_nation_volume")
    assert plan.count("EqualTo(n_name,") >= 4  # 2 names × 2 role scans
    assert "SortMergeJoin" not in plan


def test_join_strategy_hints_are_honored(spark, sf_small):
    """The engine exposes Catalyst's per-join strategy control: MERGE
    forces sort-merge where broadcast would win by size; SHUFFLE_HASH
    builds a hash table instead of sorting. At 100 TB these hints are
    how a pipeline pins the strategy when statistics mislead AQE."""
    from climate_data_pipeline_spark.sources.io import load_table

    o = load_table(spark, sf_small, "orders")
    c = load_table(spark, sf_small, "customer")
    merged = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan

    hashed = o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)
    plan = hashed._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan


def test_null_safe_join_stays_hash_join(spark, sf_small):
    """<=> must not degrade to a nested-loop plan."""
    plan = _plan(spark, sf_small, "null_safe_join")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_array_hof_has_no_shuffle(spark, sf_small):
    """The higher-order-function query is a pure projection — any
    Exchange means the fold escaped into a join/agg formulation."""
    plan = _plan(spark, sf_small, "array_hof_stats")
    assert "Exchange " not in plan


def test_q20_semi_join_chain_all_broadcast(spark, sf_small):
    """Q20's nested IN-subqueries must compile to broadcast semi joins
    with the date window pushed into the lineitem scan — the shape
    where 100 TB of lineitem is filtered before its only Exchange (the
    ≤#suppliers aggregate)."""
    plan = _plan(spark, sf_small, "tpch_q20_excess_shippers")
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    pushed = [s.split("]")[0] for s in plan.split("PushedFilters: [")[1:]]
    assert any("l_shipdate" in s for s in pushed)


def test_q21_residual_inequality_stays_hash_join(spark, sf_small):
    """Q21's EXISTS/NOT-EXISTS with `suppkey <>` residuals must hash on
    l_orderkey (residual applied post-probe), never degrade to a
    nested-loop over the fact table."""
    plan = _plan(spark, sf_small, "tpch_q21_waiting_orders")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_q2_window_reuses_dedup_shuffle(spark, sf_small):
    """Q2's dimension joins (part/supplier/nation/region) must all
    broadcast — the only exchanges allowed are the pair-dedup, the
    p_partkey window repartition, and the final top-k gather."""
    plan = _plan(spark, sf_small, "tpch_q2_min_cost_supplier")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_funnel_single_data_shuffle(spark, sf_small):
    """Funnel stages are chained entire-partition window minima plus a
    per-user collapse that must REUSE the window's hashpartitioning —
    one data exchange on user_id, one single-row final gather, and no
    Expand (the per-user pre-agg replaces COUNT(DISTINCT …))."""
    plan = _plan(spark, sf_small, "funnel_conversion")
    assert plan.count("hashpartitioning(user_id") == 1
    assert plan.count("Exchange ") == 2
    assert "Expand" not in plan and "Join" not in plan


def test_twap_window_feeds_agg_without_reshuffle(spark, sf_small):
    """lead(ts) window and the per-user aggregation share one shuffle."""
    plan = _plan(spark, sf_small, "twap_user_value")
    assert plan.count("Exchange ") == 1
    assert "partial_" in plan


def test_degree_days_two_stage_aggregate(spark, sf_small):
    """degree_days is a two-stage aggregate (daily digest -> monthly
    roll-up, queries/behavioral.py) so the plan legitimately carries
    TWO exchanges — one per grouping key change — each with map-side
    partial aggregation. Per-event summing (the old 1-Exchange shape)
    scaled with observation density and was semantically wrong."""
    plan = _plan(spark, sf_small, "degree_days")
    assert plan.count("Exchange ") == 2
    assert "partial_" in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Selective fact-fact join with broadcast disabled: with runtime
    filters enabled (aggressive thresholds to trigger on test data), the
    optimizer must build bloom_filter_agg over the filtered orders keys
    and push a might_contain probe into the lineitem side — semi-join
    reduction before the shuffle, the 100 TB fact-join pattern. Results
    must be identical with and without the rewrite."""
    from climate_data_pipeline_spark.session import enable_runtime_filters

    keep = {k: spark.conf.get(k, None) for k in (
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    )}

    def q():
        li = load_table(spark, sf_dir, "lineitem")
        o = (load_table(spark, sf_dir, "orders")
             .where(F.col("o_totalprice") > 400000))
        return (li.join(o, li.l_orderkey == o.o_orderkey)
                  .groupBy("o_orderpriority")
                  .agg(F.count("*").alias("n")))

    baseline = {(r["o_orderpriority"], r["n"]) for r in q().collect()}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        enable_runtime_filters(spark, creation_threshold="10GB",
                               application_threshold="0")
        plan = q()._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, "bloom build not injected"
        assert "might_contain" in plan, "scan-side probe not injected"
        got = {(r["o_orderpriority"], r["n"]) for r in q().collect()}
        assert got == baseline
    finally:
        for k, v in keep.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sim_pair_queries_have_no_all_pairs_join(spark, sf_small):
    """The shipped near-dup pair paths must candidate-generate via the
    (band, value) equi-join — an O(n²) theta join (NestedLoop /
    Cartesian) here is the 100 TB scale-killer the banding removes.
    The ONLY nested-loop allowed is seed_near_duplicates' twin-id
    offset: a 1-row broadcast of the global max(id) scalar joined onto
    the ≤ n_seed twin rows — O(n_seed · 1), not O(n²)."""
    for name in ("sim_cosine_pairs", "dedup_semantic_clusters",
                 "dedup_semantic_prune"):
        plan = _plan(spark, sf_small, name)
        assert "CartesianProduct" not in plan
        n_bnlj = plan.count("BroadcastNestedLoopJoin")
        n_scalar_off = plan.count("output=[__twin_off")
        assert n_bnlj == n_scalar_off, \
            f"{name}: {n_bnlj} nested loops vs {n_scalar_off} " \
            "one-row twin-offset scalars"


def test_lsh_planes_not_derived_per_row(spark, sf_small):
    """sim_lsh_ann with a known dim must ship plane literals — an md5
    call in the plan means the planes are being re-derived per row."""
    plan = _plan(spark, sf_small, "sim_lsh_ann")
    assert "md5" not in plan


def test_segment_dedup_uses_combinable_agg_not_window(spark, sf_small):
    """First-occurrence selection must be a partial-aggregated groupBy
    (viral segments collapse map-side), never a row_number window over
    segment content."""
    plan = _plan(spark, sf_small, "text_segment_dedup")
    assert "partial_min" in plan or "partial_" in plan
    assert "row_number" not in plan


def test_duplicate_spans_no_hot_key_window_on_gram_hash(spark,
                                                        sf_small):
    """The default duplicated-position flagging must be the combinable
    groupBy(gram hash) + semi-join-back — a count window over the gram
    hash ships every occurrence of a viral boilerplate gram to one
    reducer. The only window left is the per-document island walk."""
    plan = _plan(spark, sf_small, "text_duplicate_spans")
    assert "LeftSemi" in plan
    assert "partial_count" in plan
    # exactly one Window operator (the island walk on the doc id),
    # none keyed on the gram hash
    import re
    wins = [m for m in re.findall(r"Window \[[^\]]*\]", plan)]
    assert all("__h" not in w for w in wins), wins


def test_contamination_bloom_probe_is_broadcast_only(spark, sf_small):
    """The bloom bitmap must enter the corpus scan as broadcast hash
    probes; no nested-loop/cartesian anywhere."""
    plan = _plan(spark, sf_small, "text_contamination_bloom")
    assert plan.count("BroadcastHashJoin") >= 5  # k=5 bitmap probes
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantized_topk_no_nested_loop_on_corpus(spark, sf_small):
    """Query side broadcasts into the corpus scan (theta join on ids is
    broadcast-NL by design — the *small* side is broadcast); the exact
    rerank must not re-scan the corpus."""
    plan = _plan(spark, sf_small, "sim_quantized_topk")
    assert plan.count("Scan parquet") <= 2  # corpus once + query subset


def test_train_shard_manifest_single_shuffle(spark, sf_small):
    plan = _plan(spark, sf_small, "train_shard_manifest")
    assert plan.count("Exchange ") == 1  # shard key only; no global sort


def test_perplexity_stream_single_join_and_no_cartesian(spark, sf_small):
    """Self-trained LM: the scored LM assembles vocabulary-side, so the
    token stream joins exactly once; the vocab scalar is a one-row
    broadcast NL (fine) and nothing is a CartesianProduct."""
    plan = _plan(spark, sf_small, "text_perplexity")
    assert "CartesianProduct" not in plan
    # exactly one join keyed on (cur, nxt) touches the bigram stream
    assert plan.count("[cur") >= 1


def test_source_overlap_no_distinct_before_collect_set(spark, sf_small):
    """collect_set's partial aggregation IS the dedup — a separate
    distinct() would add a full-stream shuffle. The pair explode must
    be an ordinary Generate, never a self-join of the stream."""
    plan = _plan(spark, sf_small, "corpus_source_overlap")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert plan.count("partial_collect_set") >= 1


@pytest.mark.parametrize("name", [
    "corpus_source_overlap", "text_perplexity", "lang_temperature_resample",
    "a9_seasonal_mann_kendall", "set_ops"])
def test_shared_subplan_is_not_checkpointed(spark, sf_small, name):
    """Each of these plans feeds one derived table to several consumers.
    A localCheckpoint there lost wherever it was measured (the
    above-gate A/B records in plans/r12/), so the plan stays whole: a
    checkpoint boundary would show as an RDD scan."""
    assert "ExistingRDD" not in _plan(spark, sf_small, name)


def test_multiprobe_is_bucket_equi_join(spark, sf_small):
    plan = _plan(spark, sf_small, "sim_lsh_multiprobe")
    assert "CartesianProduct" not in plan
    assert "md5" not in plan            # planes precomputed, not per-row


def test_cdc_refresh_no_base_rescan_shape(spark, sf_small):
    """The refresh plan is unions + hash aggregates; no join back to the
    base fact table, no window, no cartesian."""
    plan = _plan(spark, sf_small, "incremental_cdc_refresh")
    assert "CartesianProduct" not in plan
    assert "row_number" not in plan
    assert "HashAggregate" in plan


def test_temperature_resample_broadcasts_factor_table(spark, sf_small):
    plan = _plan(spark, sf_small, "lang_temperature_resample")
    assert "BroadcastHashJoin" in plan      # 5-row factor dim
    assert "CartesianProduct" not in plan


def test_salted_join_rejects_right_and_full(spark, sf_small):
    """Regression: right/full salted joins emit up to n_salts
    null-extended copies per small-side key — rejected loudly."""
    big = spark.range(10).withColumnRenamed("id", "k")
    small = spark.range(3).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(big, small, "k", how="full")
    # left keeps unmatched big rows exactly once
    out = salted_join(big, small.where("k < 2"), "k", how="left")
    assert out.count() == 10


def test_jaccard_arr_cache_is_bounded(spark):
    """Round-9 lifetime contract (VERDICT r8 #4): the shingle-array
    cache inside ngram_jaccard_pairs must NOT grow without bound
    across a sweep over many distinct corpora — evicted entries are
    unpersisted, so persistent-RDD count stays at the LRU cap."""
    from climate_data_pipeline_spark.operators import dedup as D

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = n_persistent()
    n_corpora = D._ARR_CACHE_MAX + 3
    for i in range(n_corpora):
        docs = spark.createDataFrame(
            [(j, f"alpha beta gamma delta {i} {j % 4}")
             for j in range(12)], "doc_id long, text string")
        D.ngram_jaccard_pairs(docs, "text", "doc_id",
                              n=2, min_jaccard=0.3).count()
    grown = n_persistent() - base
    assert grown <= D._ARR_CACHE_MAX, (
        f"jaccard cache grew by {grown} persisted plans across "
        f"{n_corpora} distinct corpora (cap {D._ARR_CACHE_MAX})")
    # same corpus twice → same semantic plan → one entry, cache hit
    docs = spark.createDataFrame(
        [(j, f"epsilon zeta eta {j % 3}") for j in range(9)],
        "doc_id long, text string")
    D.ngram_jaccard_pairs(docs, "text", "doc_id", n=2,
                          min_jaccard=0.3).count()
    mid = len(D._ARR_CACHE)
    D.ngram_jaccard_pairs(docs, "text", "doc_id", n=2,
                          min_jaccard=0.3).count()
    assert len(D._ARR_CACHE) == mid


def test_mp3_decode_plan_is_shuffle_free(spark, sf_small):
    """mm_decode_mp3 (round 10): synth → decode is a straight
    mapInPandas chain — payloads must NEVER cross an Exchange (at
    100 TB a payload shuffle is the difference between linear
    scale-out and a network-bound job)."""
    plan = _plan(spark, sf_small, "mm_decode_mp3")
    assert plan.count("MapInPandas") >= 2   # synthesize + decode
    # exactly one Exchange, and it is _spread's round-robin of the
    # TINY (doc_id, text) input rows — in the top-down plan print it
    # must sit BELOW (after) every MapInPandas, i.e. payloads created
    # by the synth stage never cross it
    assert plan.count("Exchange ") == 1
    assert "RoundRobinPartitioning" in plan
    assert plan.rindex("MapInPandas") < plan.index("Exchange ")


def test_stream_rollup_parity_batch_twin_single_shuffle(spark, sf_small):
    """The streaming rollup's BATCH twin (same groupBy shape the
    micro-batches run): one shuffle with map-side partials — the
    incremental path inherits the same partial-agg property, which is
    what makes the exact-sum accumulation micro-batch-order-free."""
    from pyspark.sql import functions as F

    from climate_data_pipeline_spark.functions.exact import exact_sum
    from climate_data_pipeline_spark.sources.io import load_table

    ev = load_table(spark, sf_small, "events")
    df = (ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(F.count("*").alias("n"),
                 exact_sum("value", 2).alias("sum_value")))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange ") == 1
    assert "partial_" in plan


def test_minhash_hot_bucket_subsplit_identical_pairs(spark):
    """r11 hot-bucket guard: the sub-split banded self-join must yield
    EXACTLY the naive join's candidate pairs — including a viral bucket
    far above the threshold — while spreading the hot bucket's join
    work over ceil(size/threshold)² keyed sub-tasks."""
    from climate_data_pipeline_spark.operators.dedup import (
        _banded_self_pairs,
    )

    rows = [(i, 0, "viral") for i in range(900)] + \
           [(i, 1, f"k{i % 37}") for i in range(300)] + \
           [(i, 2, "pairless") for i in (5000,)]
    banded = spark.createDataFrame(rows, "id long, band int, key string")
    split = _banded_self_pairs(banded, hot_threshold=128, guard=True)
    naive = _banded_self_pairs(banded, guard=False)
    assert split.exceptAll(naive).count() == 0
    assert naive.exceptAll(split).count() == 0
    # the guarded plan carries the sub-group join key (pmod over the
    # per-bucket k) — the thing that splits a viral bucket's pairs
    plan = split._jdf.queryExecution().executedPlan().toString()
    assert "pmod" in plan and "explode" in plan


def test_lsh_band_pairs_hot_bucket_subsplit_identical(spark, monkeypatch):
    """r12: the sim_* banded self-join shares the minhash hot-bucket
    sub-split. On a DEGENERATE corpus (every embedding identical — all
    rows land in ONE (band, value) bucket per band, the single-key skew
    AQE cannot split), the guarded arm must yield exactly the naive
    arm's pairs, and its plan must carry the pmod sub-group key."""
    from climate_data_pipeline_spark.operators import dedup as D
    from climate_data_pipeline_spark.operators.similarity import \
        lsh_band_pairs

    vec = [float(j % 7) / 7.0 + 0.1 for j in range(16)]
    rows = [(i, vec) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    naive = lsh_band_pairs(df, threshold=0.9, n_bands=4, band_bits=2,
                           dim=16).collect()
    # in-memory input → _input_bytes = 0 → force the guard via the gate
    monkeypatch.setattr(D, "MINHASH_GUARD_MIN_BYTES", 0)
    monkeypatch.setattr(D, "MINHASH_HOT_BUCKET", 16)
    split_df = lsh_band_pairs(df, threshold=0.9, n_bands=4, band_bits=2,
                              dim=16)
    plan = split_df._jdf.queryExecution().executedPlan().toString()
    assert "pmod" in plan
    split = split_df.collect()
    assert sorted(map(tuple, split)) == sorted(map(tuple, naive))
    # every pair of 120 identical vectors is a near-dup: non-vacuous
    assert len(split) == 120 * 119 // 2


def test_minhash_pairs_guard_gate_is_size_adaptive(spark, sf_small):
    """minhash_pairs engages the sub-split arm only above the input-size
    gate: small file-backed inputs plan the naive join (no pmod key),
    and both arms are output-identical by the test above, so the gate
    can never flip a result."""
    from climate_data_pipeline_spark.operators import dedup as D
    from climate_data_pipeline_spark.sources.io import load_table

    docs = load_table(spark, sf_small, "documents")
    small = D.minhash_pairs(docs, "text", "doc_id", num_perm=12, bands=4)
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "pmod" not in plan
    assert D._input_bytes(docs) < D.MINHASH_GUARD_MIN_BYTES
