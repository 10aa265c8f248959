"""Unit tests for the training-data extension operators: dedup,
similarity search, text analysis, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from climate_data_pipeline_spark.operators import (
    dedup as D,
    multimodal as MM,
    similarity as SIM,
    text as TX,
)
from climate_data_pipeline_spark.sources.io import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def test_tokenize_nonempty(docs):
    out = TX.tokenize(docs, "text")
    assert out.where(F.size("words") == 0).count() == 0


def test_quality_score_bounded(docs):
    out = TX.quality_score(docs, "text")
    lo, hi = out.agg(F.min("quality_score"), F.max("quality_score")).first()
    assert 0.0 <= lo <= hi <= 1.0


def test_fingerprint_invariant_to_case_and_punct(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello   world"), (3, "different text")],
        ["doc_id", "text"])
    out = TX.fingerprint(df, "text").collect()
    fps = {r["doc_id"]: r["fingerprint"] for r in out}
    assert fps[1] == fps[2] != fps[3]


def test_exact_dedup_finds_normalized_dups(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "A b, c!"), (3, "x y z")], ["doc_id", "text"])
    out = {r["keep_id"]: r["n_copies"]
           for r in D.exact_dedup(df, "text", "doc_id").collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_est_close_to_exact_jaccard(docs):
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(docs, "text", "doc_id",
                                            min_jaccard=0.5).collect()}
    est = {(r["id_a"], r["id_b"]): r["jaccard_est"]
           for r in D.minhash_pairs(docs, "text", "doc_id",
                                    min_est=0.5).collect()}
    # every very-similar pair (J ≥ 0.8) must be caught by the LSH bands
    strong = {k for k, v in exact.items() if v >= 0.8}
    assert strong and strong <= set(est)
    for k in strong:
        assert abs(est[k] - exact[k]) < 0.45  # 12 perms → coarse but sane


def test_simhash_banding_is_lossless(docs, spark):
    banded = D.simhash_pairs(docs, "text", "doc_id", max_hamming=3, bands=4)
    sig = D.simhash(docs, "text", "doc_id")
    a = sig.select(F.col("id").alias("id_a"), F.col("simhash").alias("sa"))
    b = sig.select(F.col("id").alias("id_b"), F.col("simhash").alias("sb"))
    brute = (a.join(b, F.col("id_a") < F.col("id_b"))
              .where(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 3))
    assert banded.count() == brute.count()


def test_cosine_topk_matches_numpy(emb):
    import numpy as np
    rows = emb.orderBy("vec_id").collect()
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = np.round(Vn @ Vn.T, 6)
    queries = (emb.where(F.col("vec_id") < 3)
                  .select(F.col("vec_id").alias("q_id"),
                          F.col("embedding").alias("q_vec")))
    got = SIM.cosine_topk(queries, emb, k=3).collect()
    for r in got:
        qi = int(np.where(ids == r["q_id"])[0][0])
        order = sorted((-C[qi, j], ids[j]) for j in range(len(ids))
                       if ids[j] != r["q_id"])
        want_id = order[r["rank"] - 1][1]
        assert r["vec_id"] == want_id


def test_hard_negatives_labels_differ_and_are_hardest(emb):
    queries = (emb.where(F.col("vec_id") < 5)
                  .select(F.col("vec_id").alias("q_id"),
                          F.col("embedding").alias("q_vec"),
                          F.col("label").alias("q_label")))
    out = SIM.hard_negatives(queries, emb, k=3).collect()
    qlab = {r["q_id"]: r["q_label"] for r in queries.collect()}
    assert len(out) > 0
    for r in out:
        assert r["neg_label"] != qlab[r["q_id"]]
    # the rank-1 negative beats every other different-label candidate
    top = {r["q_id"]: r["cosine"] for r in out if r["rank"] == 1}
    full = SIM.cosine_topk(queries, emb, k=100).collect()
    lab = {r["vec_id"]: r["label"] for r in emb.collect()}
    for r in full:
        if lab[r["vec_id"]] != qlab[r["q_id"]]:
            assert r["cosine"] <= top[r["q_id"]] + 1e-9


def test_label_centroids_match_numpy(emb):
    import numpy as np
    out = SIM.label_centroids(emb).collect()
    rows = emb.collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(
            np.asarray(r["embedding"], dtype=np.float64))
    got = {(r["label"], r["dim_idx"]): (r["centroid"], r["n_vectors"])
           for r in out}
    for lbl, vecs in by_label.items():
        mean = np.stack(vecs).mean(axis=0)
        for d in range(len(mean)):
            c, n = got[(lbl, d)]
            assert n == len(vecs)
            assert abs(c - round(mean[d], 6)) <= 1e-6


def test_blocked_topk_equals_broadcast_nl(emb):
    """The blocked matrix kernel is the same exact search as the
    broadcast-NL plan — identical (q_id, vec_id, cosine, rank) sets."""
    queries = (emb.where(F.col("vec_id") % 7 == 0)
                  .select(F.col("vec_id").alias("q_id"),
                          F.col("embedding").alias("q_vec")))
    nl = sorted(map(tuple, SIM.cosine_topk(queries, emb, k=4).collect()))
    blocked = sorted(map(tuple, SIM.cosine_topk_blocked(
        queries, emb.repartition(5), k=4).collect()))
    assert blocked == nl and len(nl) > 0
    # partition count must not leak into the result (local top-k merge)
    blocked1 = sorted(map(tuple, SIM.cosine_topk_blocked(
        queries, emb.coalesce(1), k=4).collect()))
    assert blocked1 == blocked


def test_quantized_topk_high_recall_and_zero_vec_safe(emb, spark):
    queries = (emb.where(F.col("vec_id") < 20)
                  .select(F.col("vec_id").alias("q_id"),
                          F.col("embedding").alias("q_vec")))
    exact = {(r["q_id"], r["vec_id"])
             for r in SIM.cosine_topk(queries, emb, k=3).collect()}
    quant = {(r["q_id"], r["vec_id"])
             for r in SIM.quantized_topk(queries, emb, k=3,
                                         oversample=4).collect()}
    # int8-range quantization keeps ~0.4% relative dot-product error:
    # unlike bucketed ANN, the shortlist almost always contains the
    # exact winners
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.9
    # an all-zero vector must quantize to zeros, not divide by zero
    z = spark.createDataFrame([(999, [0.0] * 64)],
                              "vec_id long, embedding array<float>")
    out = SIM.with_quantized(z, "embedding", "s", "q").first()
    assert out["s"] == 0.0 and set(out["q"]) == {0}


def test_lsh_ann_recall(emb):
    queries = (emb.where(F.col("vec_id") < 20)
                  .select(F.col("vec_id").alias("q_id"),
                          F.col("embedding").alias("q_vec")))
    exact = {(r["q_id"], r["vec_id"])
             for r in SIM.cosine_topk(queries, emb, k=3).collect()}
    approx = {(r["q_id"], r["vec_id"])
              for r in SIM.lsh_ann(queries, emb, k=3, n_planes=6).collect()}
    recall = len(exact & approx) / len(exact)
    # random embeddings have no cluster structure, so hyperplane buckets
    # rarely contain the true top-3 — nonzero recall plus the candidate-set
    # reduction is what the approximation promises here
    assert recall >= 0.03
    n_corpus = emb.count()
    buckets = SIM.lsh_buckets(emb, n_planes=6)
    biggest = buckets.groupBy("bucket").count().agg(F.max("count")).first()[0]
    assert biggest < n_corpus / 2  # candidates ≪ brute-force comparisons


def test_multimodal_decode_stub_and_fake(spark, docs):
    media = MM.attach_payload(docs, "doc_id", "text")
    out = MM.decode_media(media)
    assert out.count() == docs.count()
    row = out.first()
    assert row["width"] >= 16 and row["mean_intensity"] > 0
    # the real codecs: these payloads are raw UTF-8 text (no container
    # magic), so the decode fails loudly per payload
    with pytest.raises(Exception, match="no pure-python codec"):
        MM.decode_media_real(media).collect()


def test_multimodal_features_shape(spark, docs):
    media = MM.attach_payload(docs, "doc_id", "text")
    out = MM.byte_histogram_features(media, n_bins=16)
    row = out.first()
    assert len(row["features"]) == 16
    assert abs(sum(row["features"]) - 1.0) < 1e-9


def test_frame_sample_multiplies_rows(spark, docs):
    media = MM.attach_payload(docs, "doc_id", "text")
    frames = MM.frame_sample(media, every_n=64)
    assert frames.count() > docs.count()  # ≥1 frame per doc, most have >1
    per_doc = frames.groupBy("media_id").count()
    n_bytes = media.select("media_id", "n_bytes")
    joined = per_doc.join(n_bytes, "media_id")
    bad = joined.where(
        F.col("count") != F.ceil(F.col("n_bytes") / 64)).count()
    assert bad == 0


def test_ivf_ann_recall_beats_random(emb):
    queries = (emb.where(F.col("vec_id") < 20)
                  .select(F.col("vec_id").alias("q_id"),
                          F.col("embedding").alias("q_vec")))
    exact = {(r["q_id"], r["vec_id"])
             for r in SIM.cosine_topk(queries, emb, k=3).collect()}
    ivf = {(r["q_id"], r["vec_id"])
           for r in SIM.ivf_ann(queries, emb, k=3, n_lists=8,
                                n_probe=2).collect()}
    recall = len(exact & ivf) / len(exact)
    # probing 2/8 cells examines ~25% of the corpus; recall must beat that
    assert recall > 0.25


def test_duplicate_clusters_chain_converges(spark):
    # A 6-node path graph (worst case for label propagation: diameter 5)
    # must still collapse to a single component rooted at the minimum id.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)],
        ["id_a", "id_b"])
    got = {r["id"]: (r["cluster_id"], r["is_canonical"])
           for r in D.duplicate_clusters(pairs).collect()}
    assert got == {1: (1, True), 2: (1, False), 3: (1, False),
                   4: (1, False), 5: (1, False), 6: (1, False),
                   10: (10, True), 11: (10, False)}


def test_star_clusters_match_propagation_on_long_chain(spark):
    # 40-node path (diameter 39) + a triangle + an isolated pair. The
    # star variant must converge in O(log n) rounds — max_rounds=8 would
    # be far too few for per-hop propagation (39 hops) but is ample for
    # large-star/small-star doubling.
    chain = [(i, i + 1) for i in range(1, 40)]
    extra = [(100, 101), (101, 102), (100, 102), (200, 201)]
    pairs = spark.createDataFrame(chain + extra, ["id_a", "id_b"])
    got = {r["id"]: (r["cluster_id"], r["is_canonical"])
           for r in D.duplicate_clusters_star(pairs, max_rounds=8).collect()}
    want = {i: (1, i == 1) for i in range(1, 41)}
    want |= {100: (100, True), 101: (100, False), 102: (100, False),
             200: (200, True), 201: (200, False)}
    assert got == want


def test_star_clusters_equal_propagation_on_corpus_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "text", "doc_id",
                                  n=3, min_jaccard=0.5)
    prop = {(r["id"], r["cluster_id"])
            for r in D.duplicate_clusters(pairs).collect()}
    star = {(r["id"], r["cluster_id"])
            for r in D.duplicate_clusters_star(pairs).collect()}
    assert prop == star


def test_small_graph_kernel_equals_iterative_clusters(spark):
    """The adaptive single-task union-find arm (small_graph_edges > 0)
    must produce exactly the iterative algorithms' output — chains,
    cliques, isolated pairs, random graphs — for BOTH operators, and
    the gate must leave large graphs on the distributed rounds."""
    import random

    rng = random.Random(7)
    cases = [
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],          # path
        [(i, j) for i in range(1, 6) for j in range(i + 1, 6)],  # clique
        [(rng.randrange(100), rng.randrange(100)) for _ in range(150)],
    ]
    for edges in cases:
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        want = {(r["id"], r["cluster_id"], r["is_canonical"])
                for r in D.duplicate_clusters(pairs).collect()}
        fast = {(r["id"], r["cluster_id"], r["is_canonical"])
                for r in D.duplicate_clusters(
                    pairs, small_graph_edges=10_000).collect()}
        fast_star = {(r["id"], r["cluster_id"], r["is_canonical"])
                     for r in D.duplicate_clusters_star(
                         pairs, small_graph_edges=10_000).collect()}
        assert fast == want
        assert fast_star == want
    # gate respected: a threshold below the edge count forces the
    # distributed rounds (observable through max_rounds exhaustion)
    chain = spark.createDataFrame([(i, i + 1) for i in range(1, 12)],
                                  ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        D.duplicate_clusters(chain, max_rounds=2, small_graph_edges=3)
    ok = D.duplicate_clusters(chain, max_rounds=2,
                              small_graph_edges=100)
    assert all(r["cluster_id"] == 1 for r in ok.collect())


def test_blocked_entity_clusters_equal_iterative(spark, sf_dir):
    # the fused per-block union-find must produce exactly the clusters
    # the generic iterative operators find on the same link set
    cust = load_table(spark, sf_dir, "customer")
    blocks = ["c_nationkey", "c_mktsegment"]
    fused = {(r["id"], r["cluster_id"], r["is_canonical"]) for r in
             D.blocked_entity_clusters(cust, "c_custkey", "c_name",
                                       blocks, max_distance=2).collect()}
    pairs = D.blocked_link_pairs(cust, "c_custkey", "c_name", blocks,
                                 max_distance=2).select("id_a", "id_b")
    star = {(r["id"], r["cluster_id"], r["is_canonical"]) for r in
            D.duplicate_clusters_star(pairs).collect()}
    assert fused == star


def test_blocked_entity_clusters_chain_within_block(spark):
    # transitive chain inside one block + cross-block same-name pair
    # that must NOT merge; ids absent from any link don't appear
    df = spark.createDataFrame(
        [(1, "ann a", "US"), (2, "ann b", "US"), (3, "ann c", "US"),
         (4, "ann a", "DE"), (5, "zzzz", "US")],
        "id long, name string, country string")
    got = {r["id"]: (r["cluster_id"], r["is_canonical"]) for r in
           D.blocked_entity_clusters(df, "id", "name", ["country"],
                                     max_distance=1).collect()}
    assert got == {1: (1, True), 2: (1, False), 3: (1, False)}


def test_repetition_stats_hand_computed(spark):
    from climate_data_pipeline_spark.operators.text import repetition_stats
    docs = spark.createDataFrame(
        [(1, "spam spam spam eggs"),   # words 4/2 distinct; bigrams: (spam spam)x2, (spam eggs)
         (2, "all unique words here"),
         (3, "")],                     # empty → zero-filled
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           repetition_stats(docs, "text", "doc_id").collect()}
    assert got[1]["n_words"] == 4
    assert got[1]["dup_word_frac"] == 0.5          # 2 repeats of 4
    assert got[1]["top_word_share"] == 0.75        # spam 3/4
    assert got[1]["top_bigram_share"] == 2 / 3     # "spam spam" 2/3
    assert got[2]["dup_word_frac"] == 0.0
    assert got[2]["top_word_share"] == 0.25
    assert got[3]["n_words"] == 0 and got[3]["top_bigram_share"] == 0.0


def test_pii_scan_detects_and_redacts(spark):
    from climate_data_pipeline_spark.operators.text import pii_scan
    docs = spark.createDataFrame(
        [(1, "Mail Bob.Smith+x@example.co.uk or visit https://a.example/x?q=1 ref 123456"),
         (2, "clean text, no identifiers")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in pii_scan(docs, "text", "doc_id").collect()}
    assert got[1]["n_email"] == 1
    assert got[1]["n_url"] == 1
    assert got[1]["n_number_run"] == 1
    # redaction shortened the text (spans replaced by markers)
    assert got[1]["n_chars_redacted"] < len(
        "mail bob.smith+x@example.co.uk or visit https://a.example/x?q=1 ref 123456")
    assert got[2]["n_email"] == got[2]["n_url"] == got[2]["n_number_run"] == 0
    assert got[2]["n_chars_redacted"] == len("clean text, no identifiers")


def test_deterministic_split_partition_invariant(spark, sf_dir):
    from climate_data_pipeline_spark.operators import sampling as S
    docs = load_table(spark, sf_dir, "documents")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = S.deterministic_split(docs, "doc_id", w).select("doc_id", "split")
    b = S.deterministic_split(docs.repartition(13), "doc_id", w) \
         .select("doc_id", "split")
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0
    # exhaustive and disjoint: every doc in exactly one split
    assert a.count() == docs.count()
    assert a.select("doc_id").distinct().count() == docs.count()


def test_deterministic_split_weights_validated(spark, sf_dir):
    from climate_data_pipeline_spark.operators import sampling as S
    docs = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError):
        S.deterministic_split(docs, "doc_id", {"a": 0.5, "b": 0.4})


def test_correlated_sample_all_or_nothing_per_key(spark, sf_dir):
    from climate_data_pipeline_spark.operators import sampling as S
    orders = load_table(spark, sf_dir, "orders")
    kept = S.deterministic_sample(orders, "o_custkey", 0.25)
    # every sampled customer keeps their FULL order history
    full = orders.groupBy("o_custkey").count().withColumnRenamed("count", "n_all")
    samp = kept.groupBy("o_custkey").count().withColumnRenamed("count", "n_kept")
    broken = samp.join(full, "o_custkey") \
                 .where(F.col("n_kept") != F.col("n_all")).count()
    assert broken == 0
    # fraction lands near 25% (hash uniformity)
    n_cust = full.count()
    n_samp = samp.count()
    assert abs(n_samp / n_cust - 0.25) < 0.05


def test_pack_sequences_invariants(spark):
    from climate_data_pipeline_spark.operators import packing as PK
    rows = [(i, (i * 37) % 300 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tok"])
    packed = PK.pack_sequences(df, "doc_id", "n_tok",
                               budget=256, n_groups=4).cache()
    stats = PK.chunk_stats(packed, budget=256)
    # only single-doc chunks may exceed the budget (oversized docs)
    over = stats.where((F.col("chunk_tokens") > 256) & (F.col("n_docs") > 1))
    assert over.count() == 0
    # greedy tightness: chunk k+1's first doc would NOT have fit in chunk k
    pdf = packed.toPandas().sort_values(["pack_group", "id"])
    for g, grp in pdf.groupby("pack_group"):
        toks = grp.groupby("chunk_id")["n_tokens"].sum()
        firsts = grp.drop_duplicates("chunk_id").set_index("chunk_id")["n_tokens"]
        for k in range(len(toks) - 1):
            assert toks.iloc[k] + firsts.iloc[k + 1] > 256
    assert packed.count() == 200


def test_pack_zero_token_prefix_matches_oracle_recurrence(spark):
    """Regression: a stream opening with zero-token docs must still
    start a new chunk when an oversized doc follows — the SQL oracle's
    unconditional `cum + t > budget` recurrence (the old `cum > 0`
    guard kept the oversized doc in chunk 0)."""
    from climate_data_pipeline_spark.operators import packing as PK
    df = spark.createDataFrame([(0, 0), (8, 600), (16, 10)],
                               ["doc_id", "n_tok"])   # one pack group
    got = {r["id"]: r["chunk_id"] for r in PK.pack_sequences(
        df, "doc_id", "n_tok", budget=512, n_groups=8).collect()}
    assert got == {0: 0, 8: 1, 16: 2}


def test_leakage_safe_split_keeps_null_groups(spark):
    """Regression: rows whose group key is null form ONE group (SQL
    PARTITION BY semantics) and land in exactly one split — the plain
    equi-join silently dropped them from every split."""
    from climate_data_pipeline_spark.operators import sampling as S
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "b")], ["id", "fp"])
    out = S.leakage_safe_split(df, "id", F.col("fp"),
                               {"train": 0.5, "eval": 0.5})
    rows = out.collect()
    assert len(rows) == 4                       # nothing dropped
    null_splits = {r["split"] for r in rows if r["id"] in (2, 3)}
    assert len(null_splits) == 1                # nulls co-assigned


def test_lexical_diversity_keeps_short_groups(spark):
    """Regression: a group whose docs are all shorter than n must
    appear with zero counts, not vanish from the health report."""
    from climate_data_pipeline_spark.operators import text as TX
    df = spark.createDataFrame(
        [(1, "one", "short"), (2, "two", "short"),
         (3, "three words here now", "long")],
        ["doc_id", "text", "source"])
    out = {r["group"]: r for r in TX.lexical_diversity(
        df, "text", "source").collect()}
    assert set(out) == {"short", "long"}
    assert out["short"]["total_1"] == 2 and out["short"]["total_2"] == 0
    assert out["short"]["ttr_2"] is None


def test_dsir_short_docs_get_neutral_weight(spark):
    """Regression: a raw doc with < 2 words has no bigram evidence and
    must appear with the neutral weight, never vanish."""
    from climate_data_pipeline_spark.operators import sampling as S
    df = spark.createDataFrame(
        [(1, "target text sample here", "t"), (2, "word", "r"),
         (3, "two words plus more", "r")],
        ["doc_id", "text", "src"])
    out = {r["doc_id"]: r for r in S.dsir_importance_weights(
        df, "text", "doc_id", F.col("src") == "t").collect()}
    assert set(out) == {2, 3}
    assert out[2]["n_grams"] == 0 and out[2]["logw"] == 0.0
    assert out[3]["n_grams"] == 3


def test_byte_histogram_rejects_non_divisor_bins(spark, docs):
    from climate_data_pipeline_spark.operators import multimodal as MM
    with pytest.raises(ValueError, match="divisor of 256"):
        MM.byte_histogram_features(docs.limit(1), n_bins=12)


def test_quota_sample_exact_and_stable(spark, docs):
    from climate_data_pipeline_spark.operators.sampling import quota_sample

    out = quota_sample(docs, ["lang"], "doc_id", 20)
    sizes = {r["lang"]: r["n"] for r in
             out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    avail = {r["lang"]: r["n"] for r in
             docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in sizes.items():
        assert n == min(20, avail[lang])
    # stable under repartitioning: identical selected ids
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in
               quota_sample(docs.repartition(17), ["lang"], "doc_id", 20)
               .collect())
    assert a == b


def test_quota_smaller_group_returned_whole(spark):
    from climate_data_pipeline_spark.operators.sampling import quota_sample

    df = spark.createDataFrame(
        [("a", i) for i in range(3)] + [("b", i) for i in range(30)],
        "k string, id int")
    out = quota_sample(df, ["k"], "id", 10)
    sizes = {r["k"]: r["n"] for r in
             out.groupBy("k").agg(F.count("*").alias("n")).collect()}
    assert sizes == {"a": 3, "b": 10}


def test_contamination_bounds_and_exact_copy(spark):
    from climate_data_pipeline_spark.operators.dedup import contamination_check

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "an entirely different sentence about spark engines")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),  # exact copy
         (101, "completely novel words nowhere else appearing ever")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["contamination"]
           for r in contamination_check(corpus, bench, "text", "doc_id").collect()}
    assert out[100] == 1.0   # every shingle of the copy is in the corpus
    assert out[101] == 0.0   # none of the novel doc's shingles appear


def test_bpe_single_task_arm_equals_distributed(spark):
    """The adaptive single-task trainer (small_vocab_words > 0) must be
    merge-for-merge identical to the distributed batched rounds, final
    vocabulary included; the gate must respect the threshold."""
    from climate_data_pipeline_spark.operators.text import bpe_train
    from climate_data_pipeline_spark.sources.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    st_d, st_s = {}, {}
    merges_d, vocab_d = bpe_train(docs, "text", n_merges=60,
                                  stats=st_d)
    merges_s, vocab_s = bpe_train(docs, "text", n_merges=60,
                                  small_vocab_words=10_000_000,
                                  stats=st_s)
    assert merges_s == merges_d
    assert st_s["rounds"] == 1 and st_d["rounds"] > 1
    vd = {r["word"]: (r["n"], r["symbols"]) for r in vocab_d.collect()}
    vs = {r["word"]: (r["n"], r["symbols"]) for r in vocab_s.collect()}
    assert vs == vd
    # threshold below the vocab size keeps the distributed rounds
    st = {}
    merges_g, _ = bpe_train(docs, "text", n_merges=10,
                            small_vocab_words=1, stats=st)
    assert st["rounds"] > 1 and merges_g == merges_d[:10]


def test_bpe_train_matches_reference_impl(spark):
    """The distributed trainer reproduces a sequential reference BPE
    (same tokenization, same weighting, same deterministic tiebreak)
    merge-for-merge, including the merged symbol table."""
    import re
    from collections import Counter

    from climate_data_pipeline_spark.operators.text import (
        WORD_SPLIT, bpe_train)
    from climate_data_pipeline_spark.sources.io import load_table

    N_MERGES = 200
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    stats = {}
    merges, vocab = bpe_train(docs, "text", n_merges=N_MERGES,
                              stats=stats)
    # exact mode batches where merge-chain structure allows — round
    # count must stay well under one per merge
    assert stats["rounds"] < N_MERGES * 0.4
    assert sum(stats["merges_per_round"]) == len(merges)

    # sequential reference on the same corpus
    wc = Counter()
    for r in docs.select("text").collect():
        for w in re.split(WORD_SPLIT, (r["text"] or "").lower()):
            if w:
                wc[w] += 1
    sym = {w: list(w) for w in wc}
    ref_merges = []
    for _ in range(N_MERGES):
        pc = Counter()
        for w, n in wc.items():
            t = sym[w]
            for i in range(len(t) - 1):
                pc[(t[i], t[i + 1])] += n
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        ref_merges.append(best)
        a, b = best
        for w in sym:
            t, res, i = sym[w], [], 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(t[i])
                    i += 1
            sym[w] = res
    assert merges == ref_merges
    got = {r["word"]: r["symbols"] for r in vocab.collect()}
    assert got == {w: " ".join(t) for w, t in sym.items()}


def test_bpe_train_fast_mode_round_count(spark):
    """The production-vocab path: fast mode batches every compatible
    top pair per round (one Spark job each), so 200 merges take a
    handful of rounds — the 30k-jobs-for-30k-merges ceiling fix. The
    merge list is order-approximate but must still be a valid
    tokenizer: every merge's parts are reachable (either single chars
    or earlier merge products), the encode path reconstructs words."""
    from climate_data_pipeline_spark.operators.text import (
        bpe_encode, bpe_train)
    from climate_data_pipeline_spark.sources.io import load_table

    # the testdata documents share a ~90-word pool (vocab collapses
    # after ~91 merges), so production-scale merge counts need a corpus
    # with a wider vocabulary: deterministic id-derived pseudo-words
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    synth = spark.range(4000).select(F.concat_ws(
        " ",
        F.concat(F.lit("alpha"), (F.col("id") % 7).cast("string")),
        F.concat(F.lit("bravo"), (F.col("id") % 13).cast("string")),
        F.concat(F.lit("w"), F.lpad((F.col("id") % 997).cast("string"),
                                    3, "0")),
        F.concat(F.lit("suffix"), (F.col("id") % 31).cast("string")),
    ).alias("text"))
    corpus = docs.select("text").unionByName(synth)
    stats = {}
    merges, _ = bpe_train(corpus, "text", n_merges=200, mode="fast",
                          stats=stats)
    assert len(merges) == 200
    assert stats["rounds"] < 50          # production-scale round bound
    assert stats["rounds"] <= 12         # measured: a handful of rounds
    produced = set()
    for a, b in merges:
        assert all(len(t) == 1 or t in produced for t in (a, b))
        produced.add(a + b)
    enc = bpe_encode(docs.limit(50), "text", merges)
    row = enc.where(F.col("n_tokens") > 0).first()
    assert row is not None and "".join(row["tokens"]).isalnum()


def test_real_media_codecs_round_trip(spark):
    """PGM and WAV payloads decode to the exact pixel/sample statistics a
    local reference computes — the codec path is real, not a byte fake."""
    import numpy as np

    from climate_data_pipeline_spark.operators.multimodal import (
        decode_media_real, synthesize_media)

    df = spark.createDataFrame(
        [(0, "an image text payload"), (1, "an audio text payload")],
        "doc_id long, text string")
    out = {r["media_id"]: r for r in
           decode_media_real(synthesize_media(df, "doc_id", "text"))
           .collect()}
    img, aud = out[0], out[1]
    assert img["kind"] == "image" and (img["width"], img["height"]) == (16, 16)
    px = np.resize(np.frombuffer(b"an image text payload", np.uint8), 256)
    assert abs(img["mean_value"] - float(px.mean())) < 1e-9
    assert aud["kind"] == "audio"
    assert aud["sample_rate"] == 8000 and aud["n_samples"] == 400
    s = np.resize((np.frombuffer(b"an audio text payload", np.uint8)
                   .astype(np.int16) - 128) * 256, 400).astype(np.float64)
    assert abs(aud["mean_value"] - float(np.sqrt((s * s).mean()))) < 1e-6
    # non-ASCII bytes (>= 192) must not wrap in the stored samples
    df_nl = spark.createDataFrame([(1, "café au lait")],
                                  "doc_id long, text string")
    got = decode_media_real(synthesize_media(df_nl, "doc_id", "text")) \
        .first()["mean_value"]
    sn = np.resize((np.frombuffer("café au lait".encode(), np.uint8)
                    .astype(np.int64) - 128) * 256, 400).astype(np.float64)
    assert abs(got - float(np.sqrt((sn * sn).mean()))) < 1e-6
    # unsupported magic fails loudly, per payload
    import pytest as _pt
    from pyspark.sql import functions as _F
    bad = spark.createDataFrame([(9, "image/png", bytearray(b"\x89PNG___"),
                                  8)],
                                "media_id long, media_type string, "
                                "payload binary, n_bytes long")
    with _pt.raises(Exception, match="no pure-python codec"):
        decode_media_real(bad).collect()


def test_png_codec_all_filters_and_loud_paths(spark):
    """Every PNG scanline filter (None/Sub/Up/Average/Paeth, cycled on
    media_id % 5) must unfilter back to the exact source pixels in both
    gray and truecolor; unsupported PNG shapes raise loudly."""
    import struct as st
    import zlib

    import numpy as np
    import pytest as _pt

    from climate_data_pipeline_spark.operators.multimodal import (
        decode_media_real, synthesize_png)

    rows = [(i, f"text for image {i} " * (i + 1)) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["media_id"]: r for r in
           decode_media_real(synthesize_png(df, "doc_id", "text"))
           .collect()}
    for i, text in rows:
        ch = 3 if i % 3 == 0 else 1
        px = np.resize(np.frombuffer(text.encode(), np.uint8), 256 * ch)
        got = out[i]
        assert (got["width"], got["height"], got["n_channels"]) == \
            (16, 16, ch), i
        assert abs(got["mean_value"] - float(px.mean())) < 1e-9, \
            f"filter {i % 5} round-trip broke pixels"

    def png_with(depth=8, ctype=0, interlace=0):
        ihdr = st.pack(">IIBBBBB", 2, 2, depth, ctype, 0, 0, interlace)
        stride = 2 * {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
        body = zlib.compress((b"\x00" + bytes(stride)) * 2)
        def chunk(t, d):
            return (st.pack(">I", len(d)) + t + d
                    + st.pack(">I", zlib.crc32(t + d)))
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", body) + chunk(b"IEND", b""))

    def decode_one(payload):
        bad = spark.createDataFrame(
            [(1, "image/png", bytearray(payload), len(payload))],
            "media_id long, media_type string, payload binary, "
            "n_bytes long")
        return decode_media_real(bad).collect()

    # 16-bit/Adam7 (r6) and sub-byte depths (r7) are SUPPORTED now;
    # an ILLEGAL depth must stay loud
    with _pt.raises(Exception, match="illegal PNG bit depth 3"):
        decode_one(png_with(depth=3))
    # sub-byte is grayscale/palette-only per spec 11.2.2
    with _pt.raises(Exception, match="only legal for grayscale"):
        decode_one(png_with(depth=4, ctype=2))
    # palette is SUPPORTED now (r6) — but a type-3 stream with no PLTE
    # chunk is malformed and must stay loud
    with _pt.raises(Exception, match="without a PLTE"):
        decode_one(png_with(ctype=3))
    with _pt.raises(Exception, match="interlace method 9"):
        decode_one(png_with(interlace=9))


def test_ngram_jaccard_prefix_filter_is_lossless(spark):
    """Prefix filtering (AllPairs/PPJoin) must return EXACTLY the
    brute-force Jaccard >= t pair set — rare-first global ordering,
    per-set prefix |x| - ceil(t|x|) + 1, plus the round-8 length
    filter (min >= t*max) and positional filter (first-common-element
    intersection upper bound vs alpha), array_intersect verify.
    Checked against an all-pairs numpy computation on a corpus salted
    with exact copies, near-misses and disjoint docs, at two
    thresholds."""
    import itertools

    import numpy as np

    from climate_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs)

    rng = np.random.default_rng(13)
    vocab = [f"w{i}" for i in range(60)]
    texts = []
    for i in range(40):
        k = rng.integers(5, 30)
        texts.append(" ".join(rng.choice(vocab, size=k)))
    texts += [texts[0], texts[1] + " extra tail words here",
              texts[2], texts[2]]
    # an EXACT-boundary pair for t=0.8: B's 4 shingles ⊂ A's 5
    # (7-word doc vs its 6-word prefix) → J = 4/5 = t precisely, so
    # it must survive the length/positional prunes (the IEEE-slack
    # regression: a float threshold rounding a hair above 4/5 would
    # drop it)
    seven = "b1 b2 b3 b4 b5 b6 b7"
    texts += [seven, " ".join(seven.split()[:6])]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def sh(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    sets = {i: sh(t) for i, t in rows if len(t.split()) >= 3}
    for t in (0.5, 0.8):
        want = set()
        for a, b in itertools.combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            if inter and inter / len(sets[a] | sets[b]) >= t:
                want.add((a, b))
        got = {(r["id_a"], r["id_b"]) for r in
               ngram_jaccard_pairs(df, "text", "doc_id", n=3,
                                   min_jaccard=t).collect()}
        assert got == want, f"t={t}: {got ^ want}"


def test_ngram_jaccard_density_gate(spark):
    """The auto_cap density gate (round-9 verdict ask #3): on a sparse
    corpus Σdf²/Σdf stays under the threshold, the gate stays open and
    the result is EXACTLY the uncapped join; on a duplication-heavy
    corpus it engages and the result is EXACTLY the explicit
    max_df=JACCARD_GATE_CAP arm. Both decisions are recorded in
    LAST_JACCARD_GATE."""
    import climate_data_pipeline_spark.operators.dedup as D

    vocab = [f"w{i}" for i in range(200)]
    sparse = [(i, " ".join(vocab[(i * 7 + j) % 200] for j in range(12)))
              for i in range(30)]
    df = spark.createDataFrame(sparse, "doc_id long, text string")
    open_pairs = {(r["id_a"], r["id_b"]) for r in D.ngram_jaccard_pairs(
        df, "text", "doc_id", n=3, min_jaccard=0.5,
        auto_cap=True).collect()}
    assert D.LAST_JACCARD_GATE is not None
    assert D.LAST_JACCARD_GATE["engaged"] is False
    exact = {(r["id_a"], r["id_b"]) for r in D.ngram_jaccard_pairs(
        df, "text", "doc_id", n=3, min_jaccard=0.5).collect()}
    assert open_pairs == exact

    # 60 near-copies of one boilerplate doc: every shingle's df ≈ 60,
    # mean df far above the gate threshold
    boiler = " ".join(vocab[:20])
    dense = [(i, boiler + f" tail{i}") for i in range(60)]
    dd = spark.createDataFrame(dense, "doc_id long, text string")
    gated = {(r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in
             D.ngram_jaccard_pairs(dd, "text", "doc_id", n=3,
                                   min_jaccard=0.5,
                                   auto_cap=True).collect()}
    assert D.LAST_JACCARD_GATE["engaged"] is True
    assert D.LAST_JACCARD_GATE["max_df"] == D.JACCARD_GATE_CAP
    capped = {(r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in
              D.ngram_jaccard_pairs(dd, "text", "doc_id", n=3,
                                    min_jaccard=0.5,
                                    max_df=D.JACCARD_GATE_CAP).collect()}
    assert gated == capped


def test_png_truncated_idat_raises_value_error():
    """A zlib stream that inflates to fewer bytes than the scanlines
    need must surface as the loud 'truncated' ValueError (jpeg.py
    convention), not a raw IndexError out of _unfilter."""
    import struct as st
    import zlib

    import pytest as _pt

    from climate_data_pipeline_spark.operators.png import png_pixels

    def chunk(t, d):
        return (st.pack(">I", len(d)) + t + d
                + st.pack(">I", zlib.crc32(t + d)))

    ihdr = st.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)   # 2x2 gray-8
    # full stream needs 2 rows x (1 filter + 2 px) = 6 bytes; give 4
    short = zlib.compress(b"\x00\x01\x02\x00")
    p = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
         + chunk(b"IDAT", short) + chunk(b"IEND", b""))
    with _pt.raises(ValueError, match="IDAT stream truncated"):
        png_pixels(p)


def test_png_sub_byte_depths_decode_exactly():
    """1/2/4-bit PNGs (common in web-scrape palette images): MSB-first
    bit unpacking, byte-padded rows at non-multiple widths, bytewise
    filters with bpp=1, palette expansion, and Adam7 — all checked
    against the raw source grid, not a same-codec round trip."""
    import struct as st
    import zlib

    import numpy as np
    import pytest as _pt

    from climate_data_pipeline_spark.operators.png import (ADAM7,
                                                           png_pixels)

    def chunk(t, d):
        return (st.pack(">I", len(d)) + t + d
                + st.pack(">I", zlib.crc32(t + d)))

    def pack_rows(px, depth):
        # (h, w) values -> packed MSB-first scanline bytes per row
        h, w = px.shape
        rows = []
        for y in range(h):
            bits = []
            for v in px[y]:
                bits.extend((int(v) >> (depth - 1 - k)) & 1
                            for k in range(depth))
            bits += [0] * (-len(bits) % 8)
            rows.append(np.packbits(np.array(bits, np.uint8)).tobytes())
        return rows

    def filt(rows, fs, bpp=1):
        # bytewise filter per row, cycling filter types fs
        out, prev = [], b"\x00" * len(rows[0])
        for y, r in enumerate(rows):
            f = fs[y % len(fs)]
            enc = bytearray([f])
            for x in range(len(r)):
                a = r[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pred = (a if pa <= pb and pa <= pc
                            else b if pb <= pc else c)
                enc.append((r[x] - pred) & 0xFF)
            out.append(bytes(enc))
            prev = r
        return b"".join(out)

    def png(px, depth, ctype, plte=b"", interlace=0):
        h, w = px.shape
        ihdr = st.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
        if interlace:
            parts = []
            for (x0, y0, dx, dy) in ADAM7:
                sub = px[y0::dy, x0::dx]
                if sub.size == 0:
                    continue
                parts.append(filt(pack_rows(sub, depth), fs=[0, 1, 2]))
            body = b"".join(parts)
        else:
            body = filt(pack_rows(px, depth), fs=[0, 1, 2, 3, 4])
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(body)) + chunk(b"IEND", b"")

    rng = np.random.default_rng(7)
    # 4-bit gray, width 5 (odd -> 4 padding bits/row), all filters
    g4 = rng.integers(0, 16, (7, 5), dtype=np.int32)
    got, ct = png_pixels(png(g4, 4, 0))
    assert ct == 0
    np.testing.assert_array_equal(got[:, :, 0], g4)
    # 1-bit gray, width 10 (6 padding bits), Paeth in the cycle
    g1 = rng.integers(0, 2, (6, 10), dtype=np.int32)
    got, _ = png_pixels(png(g1, 1, 0))
    np.testing.assert_array_equal(got[:, :, 0], g1)
    # 2-bit palette -> expands through PLTE to RGB
    plte = bytes([250, 10, 20, 30, 240, 50, 60, 70, 230, 90, 100, 210])
    p2 = rng.integers(0, 4, (5, 7), dtype=np.int32)
    got, ct = png_pixels(png(p2, 2, 3, plte=plte))
    assert ct == 3 and got.shape == (5, 7, 3)
    lut = np.frombuffer(plte, np.uint8).reshape(4, 3)
    np.testing.assert_array_equal(got, lut[p2].astype(np.int32))
    # 4-bit gray + Adam7: interlacing must not change a single pixel
    g4i = rng.integers(0, 16, (9, 9), dtype=np.int32)
    got, _ = png_pixels(png(g4i, 4, 0, interlace=1))
    np.testing.assert_array_equal(got[:, :, 0], g4i)
    # palette index beyond PLTE stays loud at sub-byte too
    bad = np.full((2, 2), 3, np.int32)
    with _pt.raises(ValueError, match="out of PLTE range"):
        png_pixels(png(bad, 2, 3, plte=bytes(9)))


def test_gif_codec_roundtrip_and_loud_seams():
    """GIF build/parse: exact pixels through real LZW (variable code
    widths, KwKwK, dictionary reset), 4-pass interlace, animation,
    small palettes; malformed payloads raise loudly."""
    import numpy as np
    import pytest as _pt

    from climate_data_pipeline_spark.operators.gif import (build_gif,
                                                           parse_gif)

    rng = np.random.default_rng(17)
    gray = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
    for h, w, nf, il in [(16, 16, 1, False), (23, 31, 1, True),
                         (9, 40, 4, False), (17, 13, 3, True)]:
        frames = [rng.integers(0, 256, (h, w)).astype(np.uint8)
                  for _ in range(nf)]
        meta = parse_gif(build_gif(frames, gray, interlace=il))
        assert (meta["width"], meta["height"], len(meta["frames"])) \
            == (w, h, nf)
        for f, src in zip(meta["frames"], frames):
            np.testing.assert_array_equal(f["px"][:, :, 0], src)
    # 4-color palette forces min code size 2 + real width growth
    pal4 = np.array([[0, 0, 0], [85, 0, 9], [170, 7, 1],
                     [255, 255, 255]], np.uint8)
    big = (np.arange(120 * 77) % 4).reshape(120, 77).astype(np.uint8)
    np.testing.assert_array_equal(
        parse_gif(build_gif([big], pal4))["frames"][0]["px"],
        pal4[big])
    # dictionary reset at 4096 entries (large random 256-color raster)
    huge = rng.integers(0, 256, (190, 210)).astype(np.uint8)
    np.testing.assert_array_equal(
        parse_gif(build_gif([huge], gray))["frames"][0]["px"][:, :, 0],
        huge)
    with _pt.raises(ValueError, match="GIF87a/89a"):
        parse_gif(b"NOTAGIF!!")
    g = build_gif([big], pal4)
    with _pt.raises(ValueError):
        parse_gif(g[:len(g) // 2])


def test_bmp_codec_roundtrip_and_loud_seams():
    import struct as st

    import numpy as np
    import pytest as _pt

    from climate_data_pipeline_spark.operators.bmp import (build_bmp,
                                                           parse_bmp)

    rng = np.random.default_rng(18)
    for td in (False, True):
        px = rng.integers(0, 256, (11, 7, 3)).astype(np.uint8)
        np.testing.assert_array_equal(
            parse_bmp(build_bmp(px, top_down=td)), px)
        pal = rng.integers(0, 256, (256, 3)).astype(np.uint8)
        idx = rng.integers(0, 256, (5, 9)).astype(np.uint8)
        np.testing.assert_array_equal(
            parse_bmp(build_bmp(idx, palette=pal, top_down=td)),
            pal[idx])
    # BI_RLE8: runs, absolute mode, escapes — exact pixels back
    for shape in ((11, 7), (16, 16), (9, 40)):
        pal = rng.integers(0, 256, (256, 3)).astype(np.uint8)
        runs = rng.integers(0, 4, shape).astype(np.uint8)
        np.testing.assert_array_equal(
            parse_bmp(build_bmp(runs, palette=pal, rle=True)),
            pal[runs])
        lits = rng.integers(0, 256, shape).astype(np.uint8)
        np.testing.assert_array_equal(
            parse_bmp(build_bmp(lits, palette=pal, rle=True)),
            pal[lits])
    with _pt.raises(ValueError, match="BM magic"):
        parse_bmp(b"XX" + bytes(60))
    good = build_bmp(np.zeros((4, 4, 3), np.uint8))
    with _pt.raises(ValueError, match="truncated"):
        parse_bmp(good[:30])
    rle4 = bytearray(good)
    st.pack_into("<I", rle4, 30, 2)     # BI_RLE4 stays loud
    with _pt.raises(NotImplementedError, match="compressed"):
        parse_bmp(bytes(rle4))


def test_gif_bmp_spark_dispatch_block_means(spark):
    """synthesize_gif / synthesize_bmp → decode_media_real inside the
    Arrow plan: decoded means equal the cycled-byte means per row, the
    animated residue reports the video contract, and the top-down BMP
    residue still matches (row order cannot shift a mean — pixel-level
    order is pinned in the codec tests)."""
    import numpy as np

    from climate_data_pipeline_spark.operators.multimodal import (
        decode_media_real, synthesize_bmp, synthesize_gif)

    rows = [(i, f"gif bmp payload {i} " * (i + 1)) for i in range(11)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    gif = {r["media_id"]: r for r in
           decode_media_real(synthesize_gif(df, "doc_id", "text"))
           .collect()}
    bmp = {r["media_id"]: r for r in
           decode_media_real(synthesize_bmp(df, "doc_id", "text"))
           .collect()}
    for i, text in rows:
        bts = np.frombuffer(text.encode(), np.uint8)
        if i % 5 == 1:     # animated: mean over 4 shifted frames
            want = float(np.mean([
                bts[(f + np.arange(256)) % len(bts)].mean()
                for f in range(4)]))
            assert gif[i]["kind"] == "video" and gif[i]["n_samples"] == 4
        else:
            want = float(bts[np.arange(256) % len(bts)].mean())
            assert gif[i]["kind"] == "image"
        assert abs(gif[i]["mean_value"] - want) < 1e-12, ("gif", i)
        ch = 3 if i % 3 == 0 else 1
        wantb = float(bts[np.arange(256 * ch) % len(bts)].mean())
        assert abs(bmp[i]["mean_value"] - wantb) < 1e-12, ("bmp", i)
        assert bmp[i]["n_channels"] == 3


def test_tiff_codec_roundtrip_and_loud_seams():
    """TIFF build/parse: exact pixels through real TIFF-LZW (early
    code-width change, dictionary reset), PackBits, Deflate,
    Predictor 2, both byte orders, 8/16-bit, palette ColorMap,
    WhiteIsZero inversion and multi-strip layouts; unsupported
    features raise loudly by name."""
    import struct as st

    import numpy as np
    import pytest as _pt

    from climate_data_pipeline_spark.operators.tiff import (
        build_tiff, lzw_decode, lzw_encode, packbits_decode,
        packbits_encode, parse_tiff)

    rng = np.random.default_rng(19)
    # LZW: random data crosses the 9→10→11→12-bit width boundaries and
    # the 4094 dictionary reset; repetitive data exercises KwKwK chains
    for raw in (rng.integers(0, 256, 200_000, np.uint8).tobytes(),
                b"abcabcabx" * 9000, bytes(81_000), b"", b"\x42"):
        assert lzw_decode(lzw_encode(raw), len(raw)) == raw
    for raw in (b"", b"\x00" * 200 + b"\x01\x02\x03" + b"\x07" * 3,
                rng.integers(0, 3, 1000, np.uint8).tobytes()):
        assert packbits_decode(packbits_encode(raw), len(raw)) == raw

    gray = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    rgb = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    g16 = gray.astype(np.uint16) * 257
    cmap = np.stack([np.arange(256, dtype=np.uint32) * 257] * 3, 1)
    cases = [
        (gray, dict(photometric=1)),
        (gray, dict(photometric=1, compression=5, predictor=2,
                    rows_per_strip=4)),
        (gray, dict(photometric=1, compression=8)),
        (gray, dict(photometric=1, compression=32773)),
        (gray, dict(photometric=0, big_endian=True, rows_per_strip=5)),
        (rgb, dict(photometric=2)),
        (rgb, dict(photometric=2, compression=5, predictor=2,
                   big_endian=True)),
        (g16, dict(photometric=1, compression=8, big_endian=True)),
        (g16, dict(photometric=1, compression=5, predictor=2)),
        (g16, dict(photometric=0)),
    ]
    for px, kw in cases:
        got = parse_tiff(build_tiff(px, **kw))["px"]
        np.testing.assert_array_equal(got, px), kw
    # palette expands through the ColorMap's >>8
    got = parse_tiff(build_tiff(gray, photometric=3, colormap=cmap,
                                compression=32773))["px"]
    assert got.shape == (16, 16, 3)
    np.testing.assert_array_equal(got[:, :, 0], gray)
    # odd sizes + many strips + LZW width growth in one payload
    big = rng.integers(0, 256, (64, 97), dtype=np.uint8)
    np.testing.assert_array_equal(
        parse_tiff(build_tiff(big, photometric=1, compression=5,
                              predictor=2, rows_per_strip=10))["px"],
        big)
    # TILED organization (GeoTIFF default): exact-fit grids, padded
    # edges, per-tile predictor, every codec, RGB and 16-bit
    for (th_, tw_), ts in [((32, 32), (16, 16)), ((40, 56), (16, 32)),
                           ((33, 17), (16, 16))]:
        g = rng.integers(0, 256, (th_, tw_), dtype=np.uint8)
        for tkw in (dict(), dict(compression=5, predictor=2),
                    dict(compression=32773, big_endian=True)):
            np.testing.assert_array_equal(
                parse_tiff(build_tiff(g, photometric=1, tile_size=ts,
                                      **tkw))["px"], g)
    trgb = rng.integers(0, 256, (40, 40, 3), dtype=np.uint8)
    np.testing.assert_array_equal(
        parse_tiff(build_tiff(trgb, photometric=2, tile_size=(16, 16),
                              compression=5, predictor=2))["px"], trgb)
    with _pt.raises(ValueError, match="multiple of 16"):
        build_tiff(gray, photometric=1, tile_size=(10, 16))
    # loud seams
    with _pt.raises(ValueError, match="byte order"):
        parse_tiff(b"XX" + bytes(20))
    with _pt.raises(NotImplementedError, match="BigTIFF"):
        parse_tiff(b"II" + st.pack("<H", 43) + bytes(12))
    good = build_tiff(gray, photometric=1, compression=5)
    with _pt.raises(ValueError):
        parse_tiff(good[:len(good) // 3])
    # unsupported compression id is named
    tampered = bytearray(build_tiff(gray, photometric=1))
    # find the Compression tag (259) entry and rewrite its value to 7
    n = st.unpack_from("<H", tampered, 8)[0]
    for i in range(n):
        off = 10 + 12 * i
        if st.unpack_from("<H", tampered, off)[0] == 259:
            st.pack_into("<H", tampered, off + 8, 7)
    with _pt.raises(NotImplementedError, match="compression 7"):
        parse_tiff(bytes(tampered))


def test_tiff_spark_dispatch_block_means(spark):
    """synthesize_tiff → decode_media_real inside the Arrow plan: each
    residue class's decoded mean equals the cycled-byte mean (×257 for
    the 16-bit class), channels report the decoded shape."""
    import numpy as np

    from climate_data_pipeline_spark.operators.multimodal import (
        decode_media_real, synthesize_tiff)

    rows = [(i, f"tiff payload {i} " * (i + 1)) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["media_id"]: r for r in
           decode_media_real(synthesize_tiff(df, "doc_id", "text"))
           .collect()}
    for i, text in rows:
        bts = np.frombuffer(text.encode(), np.uint8)
        c = i % 5
        n = 768 if c == 0 else 256
        want = float(bts[np.arange(n) % len(bts)].mean())
        if c == 3:
            want *= 257.0
        assert abs(got[i]["mean_value"] - want) < 1e-9, i
        assert got[i]["n_channels"] == (3 if c in (0, 2) else 1), i
        assert got[i]["kind"] == "image" and got[i]["width"] == 16


def test_webp_codec_roundtrip_and_loud_seams():
    """VP8L build/parse: exact pixels through real canonical prefix
    codes (simple + full code-length-coded), subtract-green, color
    cache, LZ77 row references, palettes at every bundling width, and
    the RIFF walk; malformed/unsupported payloads raise loudly."""
    import numpy as np
    import pytest as _pt

    from climate_data_pipeline_spark.operators import webp as W

    rng = np.random.default_rng(29)

    def rt(px, **kw):
        return W.decode_vp8l(W.encode_vp8l(px, **kw))["px"]

    gray = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    rgba = np.stack([gray, gray, gray, np.full_like(gray, 255)], 2)
    np.testing.assert_array_equal(rt(rgba), rgba)
    rnd = rng.integers(0, 256, (16, 16, 4), dtype=np.uint8)
    np.testing.assert_array_equal(rt(rnd), rnd)
    np.testing.assert_array_equal(rt(rnd, subtract_green=True), rnd)
    np.testing.assert_array_equal(rt(rnd, cache_bits=4), rnd)
    # LZ77 row copies (2D distance code 1)
    dbl = np.repeat(gray, 2, axis=0)
    v = np.stack([dbl, dbl, dbl, np.full_like(dbl, 255)], 2)
    np.testing.assert_array_equal(rt(v, lz77_rows=True), v)
    # palettes: 256 (no bundling), 16 (4-bit), 3 (2-bit), 2 (1-bit),
    # widths not divisible by the bundle factor
    for n, shape in [(256, (9, 13)), (16, (16, 16)), (3, (7, 11)),
                     (2, (5, 17))]:
        idx = rng.integers(0, n, shape).astype(np.uint8)
        pal = rng.integers(0, 256, (n, 4), dtype=np.uint8)
        got = W.decode_vp8l(W.encode_vp8l(idx, palette=pal))["px"]
        np.testing.assert_array_equal(got, pal[idx])
    # container round trip
    np.testing.assert_array_equal(
        W.parse_webp(W.build_webp(W.encode_vp8l(rgba)))["px"], rgba)
    # degenerate shapes
    for px in (np.full((16, 16, 4), 7, np.uint8),
               rng.integers(0, 256, (1, 1, 4), dtype=np.uint8),
               rng.integers(0, 256, (40, 3, 4), dtype=np.uint8)):
        np.testing.assert_array_equal(rt(px), px)
    # the 2D distance map: structural properties + documented prefix
    assert len(W.DIST_MAP) == 120
    assert W.DIST_MAP[:10] == [(0, 1), (1, 0), (1, 1), (-1, 1), (0, 2),
                               (2, 0), (1, 2), (-1, 2), (2, 1), (-2, 1)]
    assert len(set(W.DIST_MAP)) == 120
    # loud seams
    with _pt.raises(ValueError, match="RIFF/WEBP"):
        W.parse_webp(b"NOTRIFF!" + bytes(20))
    with _pt.raises(NotImplementedError, match="lossy"):
        W.parse_webp(b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00aaaa")
    with _pt.raises(NotImplementedError, match="animated"):
        W.parse_webp(b"RIFF\x10\x00\x00\x00WEBPANIM\x04\x00\x00\x00aaaa")
    with _pt.raises(ValueError, match="signature"):
        W.decode_vp8l(b"\x00\x01\x02")
    good = W.encode_vp8l(rgba)
    with _pt.raises(ValueError):
        W.decode_vp8l(good[:len(good) // 2])


def test_webp_decoder_transform_and_meta_paths():
    """Decoder-only VP8L paths the encoder never emits, exercised via
    hand-assembled bitstreams: the predictor transform (all 14 modes,
    forward-computed residuals mirroring the spec's scan order), the
    cross-color transform (signed 3.5-fixed deltas, red restored
    before blue), and meta prefix codes (two entropy groups selected
    per tile)."""
    import numpy as np

    from climate_data_pipeline_spark.operators import webp as W

    rng = np.random.default_rng(31)
    h = w = 16
    px = rng.integers(0, 256, (h * w,), dtype=np.int64)
    argb = (0xFF000000 | (px << 16) | (px << 8)
            | rng.integers(0, 256, h * w)).astype(np.uint32)

    def header(bw):
        bw.write(0x2F, 8)
        bw.write(w - 1, 14)
        bw.write(h - 1, 14)
        bw.write(0, 1)
        bw.write(0, 3)

    # --- predictor transform, bits=2 → 4×4 tiles, modes 0..13 + reuse
    bits = 2
    tw = -(-w // 4)
    modes = np.array([(i % 14) for i in range(tw * tw)], np.int64)
    BLACK = 0xFF000000

    def fwd_residual():
        res = np.zeros(h * w, np.uint32)
        for pos in range(h * w):
            x, y = pos % w, pos // w
            if pos == 0:
                pred = BLACK
            elif y == 0:
                pred = int(argb[pos - 1])
            elif x == 0:
                pred = int(argb[pos - w])
            else:
                m = int(modes[(y >> bits) * tw + (x >> bits)])
                L = int(argb[pos - 1])
                T = int(argb[pos - w])
                TL = int(argb[pos - w - 1])
                TR = int(argb[pos - w + 1])
                pred = [BLACK, L, T, TR, TL,
                        W._avg2(W._avg2(L, TR), T), W._avg2(L, TL),
                        W._avg2(L, T), W._avg2(TL, T), W._avg2(T, TR),
                        W._avg2(W._avg2(L, TL), W._avg2(T, TR)),
                        W._select(T, L, TL),
                        W._clamp_add_full(L, T, TL),
                        W._clamp_add_half(L, T, TL)][m]
            v = int(argb[pos])
            out = 0
            for sh in (0, 8, 16, 24):
                out |= ((((v >> sh) & 0xFF) - ((pred >> sh) & 0xFF))
                        & 0xFF) << sh
            res[pos] = out
        return res

    bw = W._BitWriter()
    header(bw)
    bw.write(1, 1)
    bw.write(0, 2)                      # predictor
    bw.write(bits - 2, 3)
    tile_argb = (0xFF000000 | (modes.astype(np.uint32) << 8))
    W._write_spatial(bw, W._tokenize(tile_argb, tw, 0, False), 0,
                     level0=False)
    bw.write(0, 1)
    W._write_spatial(bw, W._tokenize(fwd_residual(), w, 0, False), 0)
    got = W.decode_vp8l(bw.finish())["px"]
    want = np.stack([(argb >> 16) & 0xFF, (argb >> 8) & 0xFF,
                     argb & 0xFF, (argb >> 24) & 0xFF],
                    1).astype(np.uint8).reshape(h, w, 4)
    np.testing.assert_array_equal(got, want)

    # --- cross-color transform: one 16×16 tile, fixed signed deltas
    g2r, g2b, r2b = 23, -17, 9

    def signed(v):
        return v - 256 if v > 127 else v

    res = np.zeros(h * w, np.uint32)
    for pos in range(h * w):
        v = int(argb[pos])
        a, r, g, b = (v >> 24) & 0xFF, (v >> 16) & 0xFF, \
            (v >> 8) & 0xFF, v & 0xFF
        gs, rs = signed(g), signed(r)
        nr = (r - ((g2r * gs) >> 5)) & 0xFF
        nb = (b - ((g2b * gs) >> 5) - ((r2b * rs) >> 5)) & 0xFF
        res[pos] = (a << 24) | (nr << 16) | (g << 8) | nb
    bw = W._BitWriter()
    header(bw)
    bw.write(1, 1)
    bw.write(1, 2)                      # color transform
    bw.write(4 - 2, 3)                  # 16-px tiles → single tile
    cte = np.array([0xFF000000 | ((r2b & 0xFF) << 16)
                    | ((g2b & 0xFF) << 8) | (g2r & 0xFF)], np.uint32)
    W._write_spatial(bw, W._tokenize(cte, 1, 0, False), 0, level0=False)
    bw.write(0, 1)
    W._write_spatial(bw, W._tokenize(res, w, 0, False), 0)
    got = W.decode_vp8l(bw.finish())["px"]
    np.testing.assert_array_equal(got, want)

    # --- meta prefix codes: 8-px tiles → 2×2 groups, 2 distinct
    mbits = 3
    mw = -(-w // 8)
    group_idx = np.array([0, 1, 1, 0], np.int64)     # per tile
    bw = W._BitWriter()
    header(bw)
    bw.write(0, 1)                      # no transforms
    bw.write(0, 1)                      # no cache
    bw.write(1, 1)                      # meta ON
    bw.write(mbits - 2, 3)
    meta_argb = (0xFF000000
                 | (group_idx.astype(np.uint32) << 8)).astype(np.uint32)
    W._write_spatial(bw, W._tokenize(meta_argb, mw, 0, False), 0,
                     level0=False)
    # two literal-only groups with their own histograms
    toks = [[], []]
    for pos in range(h * w):
        x, y = pos % w, pos // w
        gi = int(group_idx[(y >> mbits) * mw + (x >> mbits)])
        v = int(argb[pos])
        toks[gi].append(("lit", (v >> 24) & 0xFF, (v >> 16) & 0xFF,
                         (v >> 8) & 0xFF, v & 0xFF))
    group_codes = []
    for gi in (0, 1):
        hists = [{} for _ in range(4)]
        for _, a, r, g, b in toks[gi]:
            for hist, s in zip(hists, (g, r, b, a)):
                hist[s] = hist.get(s, 0) + 1
        cg = W._write_code(bw, hists[0], 280)
        cr = W._write_code(bw, hists[1], 256)
        cb = W._write_code(bw, hists[2], 256)
        ca = W._write_code(bw, hists[3], 256)
        cd = W._write_code(bw, {}, 40)
        group_codes.append((cg, cr, cb, ca))
    for pos in range(h * w):
        x, y = pos % w, pos // w
        gi = int(group_idx[(y >> mbits) * mw + (x >> mbits)])
        cg, cr, cb, ca = group_codes[gi]
        v = int(argb[pos])
        W._emit(bw, cg, (v >> 8) & 0xFF)
        W._emit(bw, cr, (v >> 16) & 0xFF)
        W._emit(bw, cb, v & 0xFF)
        W._emit(bw, ca, (v >> 24) & 0xFF)
    got = W.decode_vp8l(bw.finish())["px"]
    np.testing.assert_array_equal(got, want)


def test_webp_spark_dispatch_block_means(spark):
    """synthesize_webp → decode_media_real inside the Arrow plan: each
    residue class's decoded mean equals the cycled-byte mean (three
    phase offsets averaged for the subtract-green RGB class, 17·(b%16)
    for the bundled palette class); the LZ77 class reports height 32."""
    import numpy as np

    from climate_data_pipeline_spark.operators.multimodal import (
        decode_media_real, synthesize_webp)

    rows = [(i, f"webp payload {i} " * (i + 1)) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["media_id"]: r for r in
           decode_media_real(synthesize_webp(df, "doc_id", "text"))
           .collect()}
    for i, text in rows:
        bts = np.frombuffer(text.encode(), np.uint8)
        c = i % 5
        if c == 1:
            want = float(np.mean([
                bts[(k + np.arange(256)) % len(bts)].mean()
                for k in range(3)]))
        elif c == 3:
            want = float((17 * (bts[np.arange(256) % len(bts)]
                                % 16)).mean())
        else:
            want = float(bts[np.arange(256) % len(bts)].mean())
        assert abs(got[i]["mean_value"] - want) < 1e-9, i
        assert got[i]["height"] == (32 if c == 4 else 16), i
        assert got[i]["n_channels"] == 4 and got[i]["kind"] == "image"


def test_flac_codec_roundtrip_and_loud_seams():
    """FLAC build/parse: exact samples through real Rice coding (all
    FIXED orders, LPC, escaped partitions, partition orders), all four
    stereo assignments, CONSTANT/VERBATIM subframes, multi-frame
    streams with UTF-8-style coded numbers; CRC-8/CRC-16 tampering and
    malformed payloads raise loudly."""
    import numpy as np
    import pytest as _pt

    from climate_data_pipeline_spark.operators.flac import (build_flac,
                                                            decode_flac)

    rng = np.random.default_rng(41)

    def rt(s, **kw):
        return decode_flac(build_flac(s, **kw))

    s = ((rng.integers(0, 256, 2500) - 128) * 256).astype(np.int64)
    m = rt(s, block_size=1024)
    np.testing.assert_array_equal(m["samples"][:, 0], s)
    assert (m["sample_rate"], m["n_channels"], m["bits"]) \
        == (8000, 1, 16)
    np.testing.assert_array_equal(
        rt(s[:2048], block_size=1024, porder=2)["samples"][:, 0],
        s[:2048])
    for mode in ("fixed0", "fixed1", "fixed3", "fixed4", "verbatim"):
        np.testing.assert_array_equal(
            rt(s[:512], block_size=256, mode=mode)["samples"][:, 0],
            s[:512])
    c = np.full(700, -3210, np.int64)
    np.testing.assert_array_equal(
        rt(c, mode="constant", block_size=512)["samples"][:, 0], c)
    # LPC subframes with escaped raw partitions
    np.testing.assert_array_equal(
        rt(s[:1024], mode="lpc2", block_size=512,
           porder=1)["samples"][:, 0], s[:1024])
    # all four stereo assignments reassemble identically
    st = np.stack([s[:1500],
                   ((rng.integers(0, 256, 1500) - 128) * 256)], 1)
    for mode in (None, "left_side", "right_side", "mid_side"):
        np.testing.assert_array_equal(
            rt(st, stereo=mode, block_size=512)["samples"], st)
    # near-silence: Rice parameter 0 (pure unary)
    q = rng.integers(-2, 3, 900).astype(np.int64)
    np.testing.assert_array_equal(
        rt(q, block_size=256)["samples"][:, 0], q)
    # >127 frames exercises multi-byte coded numbers
    long_s = ((rng.integers(0, 256, 200 * 150) - 128)
              * 256).astype(np.int64)
    np.testing.assert_array_equal(
        rt(long_s, block_size=200)["samples"][:, 0], long_s)
    # loud seams
    with _pt.raises(ValueError, match="fLaC"):
        decode_flac(b"RIFFnope" + bytes(20))
    good = bytearray(build_flac(s[:512], block_size=512))
    good[-40] ^= 0x10
    with _pt.raises(ValueError, match="CRC"):
        decode_flac(bytes(good))
    hdr_tamper = bytearray(build_flac(s[:512], block_size=512))
    sync_at = bytes(hdr_tamper).index(b"\xff\xf8")
    hdr_tamper[sync_at + 4] ^= 0x01     # inside the frame header
    with _pt.raises(ValueError):
        decode_flac(bytes(hdr_tamper))
    with _pt.raises(ValueError):
        decode_flac(bytes(build_flac(s[:512]))[:60])


def test_flac_spark_dispatch_rms(spark):
    """synthesize_flac → decode_media_real inside the Arrow plan: each
    residue class's RMS equals the byte-derived value; the stereo
    class reports 2 channels, the constant class |v0|."""
    import numpy as np

    from climate_data_pipeline_spark.operators.multimodal import (
        decode_media_real, synthesize_flac)

    rows = [(i, f"flac payload {i} " * (i + 1)) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["media_id"]: r for r in
           decode_media_real(synthesize_flac(df, "doc_id", "text"))
           .collect()}
    for i, text in rows:
        bts = np.frombuffer(text.encode(), np.uint8).astype(np.int64)
        c = i % 4
        if c == 3:
            want = float(abs((bts[0] - 128) * 256))
            n, ch = 1280, 1
        elif c == 1:
            L = (bts[np.arange(768) % len(bts)] - 128) * 256
            R = (bts[(1 + np.arange(768)) % len(bts)] - 128) * 256
            want = float(np.sqrt((np.concatenate([L, R]).astype(float)
                                  ** 2).mean()))
            n, ch = 768, 2
        else:
            n = 512 if c == 0 else 1024
            v = (bts[np.arange(n) % len(bts)] - 128) * 256
            want = float(np.sqrt((v.astype(float) ** 2).mean()))
            ch = 1
        assert abs(got[i]["mean_value"] - want) < 1e-9, i
        assert got[i]["n_samples"] == n and got[i]["n_channels"] == ch
        assert got[i]["kind"] == "audio"


def test_exif_roundtrip_and_jpeg_insertion():
    """EXIF build/parse both byte orders: IFD0 + Exif/GPS sub-IFDs,
    out-of-line ASCII/RATIONAL values, hemisphere signs; the APP1
    insertion leaves the JPEG pixel decode untouched and non-EXIF
    JPEGs report None."""
    import numpy as np
    import pytest as _pt

    from climate_data_pipeline_spark.operators.exif import (
        build_exif_blob, build_exif_jpeg, parse_exif_tiff,
        parse_jpeg_exif)
    from climate_data_pipeline_spark.operators.jpeg import (
        decode_jpeg, encode_jpeg_baseline)

    fields = {
        "orientation": 6, "make": "Acme Imaging 2", "model": "Model X7",
        "datetime": "2023:05:14 09:00:00", "iso": 800,
        "exposure": (1, 250), "pixel_x": 16, "pixel_y": 16,
        "lat_ref": "S", "lat_dms": ((33, 1), (52, 1), (275, 10)),
        "lon_ref": "W", "lon_dms": ((151, 1), (12, 1), (333, 10)),
    }
    for be in (False, True):
        m = parse_exif_tiff(build_exif_blob(fields, big_endian=be))
        assert m["byte_order"] == ("MM" if be else "II")
        assert (m["orientation"], m["iso"]) == (6, 800)
        assert m["make"] == "Acme Imaging 2"
        assert m["datetime"] == "2023:05:14 09:00:00"
        assert m["lat"] == -(33 + 52 / 60.0 + (275 / 10.0) / 3600.0)
        assert m["lon"] == -(151 + 12 / 60.0 + (333 / 10.0) / 3600.0)
        assert (m["exposure_num"], m["exposure_den"]) == (1, 250)
    q = np.ones((8, 8), np.int64)
    q[0, 0] = 8
    j = encode_jpeg_baseline(np.full((16, 16), 99, np.uint8),
                             quant_tables=(q, q))
    wj = build_exif_jpeg(j, fields, big_endian=True)
    assert parse_jpeg_exif(wj)["orientation"] == 6
    np.testing.assert_array_equal(decode_jpeg(wj), decode_jpeg(j))
    assert parse_jpeg_exif(j) is None
    with _pt.raises(ValueError, match="SOI"):
        parse_jpeg_exif(b"NOTAJPEG")
    with _pt.raises(ValueError, match="byte order"):
        parse_exif_tiff(b"XX" + bytes(10))
    # legal wild-JPEG constructs before the Exif APP1: 0xFF fill bytes
    # between segments (T.81 B.1.1.2) and length-less standalone
    # markers (TEM 0x01, RST 0xD0-0xD7) must not desynchronize the walk
    import struct as _st
    app1 = wj[2:2 + 4 + _st.unpack(">H", wj[4:6])[0] - 2]
    weird = (b"\xFF\xD8" + b"\xFF\xFF\xFF\x01"        # fill + TEM
             + b"\xFF\xD3"                            # RST3
             + b"\xFF" + app1[1:]                     # the APP1 itself
             + j[2:])
    assert parse_jpeg_exif(weird)["orientation"] == 6
    # fill bytes with no EXIF anywhere still return None, not an error
    assert parse_jpeg_exif(b"\xFF\xD8\xFF\xFF\xFF\xD9") is None


def test_exif_spark_extraction(spark):
    """attach_exif → exif_metadata inside the Arrow plan: every field
    re-derives from the id, byte order alternates II/MM."""
    from climate_data_pipeline_spark.operators.exif import (attach_exif,
                                                            exif_metadata)
    from climate_data_pipeline_spark.operators.multimodal import \
        synthesize_jpeg

    rows = [(i, f"exif payload {i} " * (i + 1)) for i in range(9)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    media = attach_exif(synthesize_jpeg(df, "doc_id", "text"))
    got = {r["media_id"]: r for r in exif_metadata(media).collect()}
    for i, _ in rows:
        r = got[i]
        assert r["byte_order"] == ("MM" if i % 2 else "II")
        assert r["orientation"] == 1 + i % 8
        assert r["iso"] == 100 * (1 + i % 32)
        assert r["make"] == f"Acme Imaging {i % 5}"
        want_lat = ((1 if i % 2 == 0 else -1)
                    * ((i % 90) + (i % 60) / 60.0
                       + ((i * 7 % 600) / 10.0) / 3600.0))
        assert r["lat"] == want_lat, i
        assert r["exposure_s"] == 1.0 / (1 + i % 2000)


def test_exif_fused_synthesis_matches_two_stage(spark):
    """The fused render+attach kernel (synthesize_jpeg post=exif_jpeg_post,
    one mapInPandas — what mm_exif_metadata runs) is PAYLOAD-BYTE-identical
    to the two-stage attach_exif(synthesize_jpeg(...)) composition, so the
    r12 stage fusion can never move the query's hash."""
    from climate_data_pipeline_spark.operators.exif import (attach_exif,
                                                            exif_jpeg_post)
    from climate_data_pipeline_spark.operators.multimodal import \
        synthesize_jpeg

    rows = [(i, f"fused exif {i} " * (i + 1)) for i in range(9)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    two = {r["media_id"]: (bytes(r["payload"]), r["n_bytes"]) for r in
           attach_exif(synthesize_jpeg(df, "doc_id", "text")).collect()}
    one = {r["media_id"]: (bytes(r["payload"]), r["n_bytes"]) for r in
           synthesize_jpeg(df, "doc_id", "text",
                           post=exif_jpeg_post).collect()}
    assert one == two


def test_audio_formats_codec_and_g711():
    """operators/audio.py: G.711 μ-law/A-law expansion pinned to the
    CCITT reference points, PCM 8/16/24/32 WAV, AIFF with the 80-bit
    extended rate, loud seams for unknown format tags."""
    import struct as st

    import numpy as np
    import pytest as _pt

    from climate_data_pipeline_spark.operators.audio import (
        alaw_to_linear, build_aiff, build_wav, parse_aiff, parse_wav,
        ulaw_to_linear)

    # reference points (16-bit domain, CCITT/audioop convention)
    assert ulaw_to_linear(np.array([0xFF]))[0] == 0
    assert ulaw_to_linear(np.array([0x00]))[0] == -32124
    assert ulaw_to_linear(np.array([0x80]))[0] == 32124
    assert alaw_to_linear(np.array([0xD5]))[0] == 8
    assert alaw_to_linear(np.array([0x55]))[0] == -8
    # positive μ-law codes decode monotonically
    pos = ulaw_to_linear(np.arange(0x80, 0x100)[::-1])
    assert (np.diff(pos) > 0).all()

    rng = np.random.default_rng(53)
    codes = rng.integers(0, 256, 500, dtype=np.uint8)
    for tag, expand in ((7, ulaw_to_linear), (6, alaw_to_linear)):
        m = parse_wav(build_wav(codes.tobytes(), tag=tag, nch=1,
                                rate=8000, bits=8))
        np.testing.assert_array_equal(m["samples"][:, 0],
                                      expand(codes))
    s24 = rng.integers(-2 ** 23, 2 ** 23, 300).astype(np.int64)
    raw = b"".join(int(v & 0xFFFFFF).to_bytes(3, "little")
                   for v in s24)
    np.testing.assert_array_equal(
        parse_wav(build_wav(raw, 1, 1, 44100, 24))["samples"][:, 0],
        s24)
    s16 = rng.integers(-32768, 32768, 300).astype(np.int64)
    m = parse_wav(build_wav(s16.astype("<i2").tobytes(), 1, 2,
                            16000, 16))
    assert m["samples"].shape == (150, 2)
    st2 = np.stack([s16[:100], s16[100:200]], 1)
    m = parse_aiff(build_aiff(st2, rate=22050))
    np.testing.assert_array_equal(m["samples"], st2)
    assert m["sample_rate"] == 22050 and m["n_channels"] == 2
    with _pt.raises(ValueError, match="RIFF/WAVE"):
        parse_wav(b"RIFFxxxxNOPE" + bytes(8))
    with _pt.raises(ValueError, match="FORM/AIFF"):
        parse_aiff(b"FORMxxxxNOPE" + bytes(8))
    # WAVE_FORMAT_EXTENSIBLE: real tag rides the SubFormat GUID
    m = parse_wav(build_wav(s16[:200].astype("<i2").tobytes(), 1, 2,
                            48000, 16, extensible=True))
    assert m["format"] == "pcm" and m["samples"].shape == (100, 2)
    m = parse_wav(build_wav(codes.tobytes(), 7, 1, 8000, 8,
                            extensible=True))
    np.testing.assert_array_equal(m["samples"][:, 0],
                                  ulaw_to_linear(codes))
    # IEEE float32
    f = (rng.random(60).astype(np.float32) - 0.5)
    m = parse_wav(build_wav(f.tobytes(), 3, 1, 44100, 32))
    assert m["format"] == "float32"
    np.testing.assert_array_equal(m["samples"][:, 0], f)
    bad = bytearray(build_wav(codes.tobytes(), 7, 1, 8000, 8))
    st.pack_into("<H", bad, 20, 2)      # ADPCM stays loud
    with _pt.raises(NotImplementedError, match="format tag 2"):
        parse_wav(bytes(bad))


def test_audio_formats_spark_dispatch(spark):
    """synthesize_audio_formats → decode_media_real: each residue
    class's RMS equals the formula-derived value."""
    import numpy as np

    from climate_data_pipeline_spark.operators.audio import (
        alaw_to_linear, ulaw_to_linear)
    from climate_data_pipeline_spark.operators.multimodal import (
        decode_media_real, synthesize_audio_formats)

    rows = [(i, f"audio payload {i} " * (i + 1)) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["media_id"]: r for r in
           decode_media_real(synthesize_audio_formats(
               df, "doc_id", "text")).collect()}
    for i, text in rows:
        bts = np.frombuffer(text.encode(), np.uint8).astype(np.int64)
        c = i % 4
        if c <= 1:
            codes = bts[np.arange(600) % len(bts)]
            v = (ulaw_to_linear if c == 0 else alaw_to_linear)(codes)
            n, rate = 600, 8000
        elif c == 2:
            v = (bts[np.arange(400) % len(bts)] - 128) * 256
            n, rate = 400, 22050
        else:
            b = bts[np.arange(400) % len(bts)]
            v = (b - 128) * 256 + b
            n, rate = 400, 44100
        want = float(np.sqrt((v.astype(float) ** 2).mean()))
        r = got[i]
        assert abs(r["mean_value"] - want) < 1e-9, i
        assert (r["n_samples"], r["sample_rate"]) == (n, rate), i
        assert r["kind"] == "audio"


def test_mp3_ogg_metadata_walkers():
    """MP3 frame-header and Ogg page walks: published index tables,
    padding-aware frame lengths, ID3 tag handling, verified per-page
    CRCs, granule-position durations; desync and tampering raise."""
    import numpy as np
    import pytest as _pt

    from climate_data_pipeline_spark.operators.audio_meta import (
        build_mp3, build_ogg_vorbis, ogg_crc, parse_mp3_meta,
        parse_ogg_meta)

    m = parse_mp3_meta(build_mp3(30, bitrate_idx=9, rate_idx=0))
    assert (m["n_frames"], m["sample_rate"], m["channels"]) \
        == (30, 44100, 2)
    assert m["bitrate_kbps"] == 128.0
    assert m["duration_s"] == 30 * 1152 / 44100
    m = parse_mp3_meta(build_mp3(12, bitrate_idx=14, rate_idx=2,
                                 mono=True, id3v2=b"junktag" * 10,
                                 id3v1=True))
    assert (m["channels"], m["bitrate_kbps"]) == (1, 320.0)
    assert m["has_id3v2"] and m["has_id3v1"]
    with _pt.raises(ValueError, match="sync lost"):
        parse_mp3_meta(b"\x00" * 100)

    o = parse_ogg_meta(build_ogg_vorbis(777, 48000, 2, 10, 960))
    assert (o["n_pages"], o["serial"], o["sample_rate"]) \
        == (11, 777, 48000)
    assert o["last_granule"] == 9600 and o["eos"]
    assert o["duration_s"] == 9600 / 48000
    # Ogg CRC parameters: poly 0x04C11DB7, init 0, no reflection —
    # the catalogue check value for "123456789"
    assert ogg_crc(b"123456789") == 0x89A1897F
    blob = bytearray(build_ogg_vorbis(5, 44100, 1, 3, 441))
    blob[-10] ^= 0x40
    with _pt.raises(ValueError, match="CRC"):
        parse_ogg_meta(bytes(blob))
    np.testing.assert_equal(True, True)


def test_mp3_ogg_spark_screening(spark):
    """synthesize_compressed_audio → audio_container_meta: every stat
    re-derives from the id across the four residue classes."""
    from climate_data_pipeline_spark.operators.audio_meta import (
        audio_container_meta, synthesize_compressed_audio)

    rows = [(i, f"aud {i}") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["media_id"]: r for r in
           audio_container_meta(synthesize_compressed_audio(
               df, "doc_id", "text")).collect()}
    for i, _ in rows:
        r = got[i]
        c = i % 4
        if c == 0:
            want = ("mp3", 20 + i % 40, 44100, 2,
                    (20 + i % 40) * 1152 / 44100)
        elif c == 1:
            want = ("mp3", 10 + i % 30, 32000, 1,
                    (10 + i % 30) * 1152 / 32000)
        elif c == 2:
            want = ("ogg", 6 + i % 20, 48000, 2,
                    (5 + i % 20) * 960 / 48000)
        else:
            want = ("ogg", 4 + i % 10, 44100, 1,
                    (3 + i % 10) * 441 / 44100)
        assert (r["container"], r["n_units"], r["sample_rate"],
                r["channels"], r["duration_s"]) == want, i


def test_warc_parse_and_html_extraction():
    """WARC record walk (plain + member-per-record gzip), HTTP
    envelope split, tag/script/comment stripping, single-pass entity
    unescape, whitespace collapse; malformed archives raise."""
    import pytest as _pt

    from climate_data_pipeline_spark.sources.warc import (
        build_warc, build_warc_response, html_escape, html_text,
        parse_warc)

    text = "Hello <world> & \"friends\"  \n\t multiple   spaces"
    html = (f"<html><head><title>T</title><style>p{{x}}</style>"
            f"<script>var s='<p>no</p>';</script></head>"
            f"<!-- c --><body><p>{html_escape(text)}</p>"
            f"</body></html>").encode()
    got = html_text(html)
    assert got == 'T Hello <world> & "friends" multiple spaces'
    # literal entity-looking source text survives ONE unescape pass
    assert html_text(f"<p>{html_escape('&#10; and &amp;')}</p>"
                     .encode()) == "&#10; and &amp;"

    rec = build_warc_response("https://x.org/1", html,
                              "2024-01-01T00:00:00Z", "0" * 32, 200)
    rec2 = build_warc_response("https://x.org/2", b"<p>two</p>",
                               "2024-01-02T00:00:00Z", "1" * 32, 404)
    for gz in (False, True):
        recs = parse_warc(build_warc([rec, rec2], gzip_members=gz))
        assert len(recs) == 2
        assert recs[0]["uri"] == "https://x.org/1"
        assert recs[0]["http_status"] == 200
        assert recs[1]["http_status"] == 404
        assert recs[0]["body"] == html
        assert recs[0]["http_content_type"] \
            == "text/html; charset=utf-8"
    with _pt.raises(ValueError, match="version line"):
        parse_warc(b"NOT A WARC FILE AT ALL\r\n\r\n")
    blob = build_warc([rec])
    with _pt.raises(ValueError):
        parse_warc(blob[:len(blob) // 2])
    gzblob = bytearray(build_warc([rec], gzip_members=True))
    with _pt.raises(ValueError):
        parse_warc(bytes(gzblob[:len(gzblob) // 2]))


def test_warc_spark_extraction(spark):
    """synthesize_warc → warc_extract: recovered text equals the
    collapsed original prefixed by the template headings, per id."""
    import hashlib
    import re

    from climate_data_pipeline_spark.sources.warc import (
        synthesize_warc, warc_extract)

    rows = [(i, f"warc body {i} with  spaces\n and & <tags> {i}")
            for i in range(7)] + [(7, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           warc_extract(synthesize_warc(df, "doc_id", "text"))
           .collect()}
    for i, text in rows:
        ct = re.sub(r"[ \t\n\r\f\v]+", " ", text or "").strip(" ")
        want = f"Doc {i} Doc {i}" + (f" {ct}" if ct else "")
        r = got[i]
        assert r["text_md5"] == hashlib.md5(want.encode()).hexdigest()
        assert r["n_chars"] == len(want)
        assert r["http_status"] == (404 if i % 7 == 0 else 200)
        assert r["uri"] == f"https://example.org/doc/{i}"


def test_text_family_null_and_empty_safe(spark):
    """Null / empty / whitespace-only text must flow through the text and
    dedup operators without crashing and with sensible outputs."""
    from climate_data_pipeline_spark.operators import text as TX
    from climate_data_pipeline_spark.operators.dedup import (
        exact_dedup, minhash_signatures, segment_dedup)

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "real words here")],
        "doc_id long, text string")
    ts = {r["doc_id"]: r for r in TX.token_stats(df, "text").collect()}
    assert ts[2]["n_words"] == 0 and ts[3]["n_words"] == 0
    assert ts[4]["n_words"] == 3
    q = {r["doc_id"]: r for r in TX.quality_score(df, "text").collect()}
    assert q[2]["quality_score"] is not None  # guards avoid div-by-zero
    # dedup paths: null/empty docs are excluded, not crashed on
    assert segment_dedup(df, "text", "doc_id").count() == 1
    assert minhash_signatures(df, "text", "doc_id", 4).count() == 1
    assert exact_dedup(df, "text", "doc_id").count() >= 1


def test_training_shards_deterministic_uniform_interleaved(spark):
    from climate_data_pipeline_spark.operators.sampling import training_shards
    from climate_data_pipeline_spark.sources.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = training_shards(docs, "doc_id", 4).select("doc_id", "shard", "pos")
    b = training_shards(docs.repartition(13), "doc_id", 4) \
        .select("doc_id", "shard", "pos")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    sizes = [r["n"] for r in a.groupBy("shard")
             .agg(F.count("*").alias("n")).collect()]
    n = sum(sizes)
    assert max(sizes) < 2 * n / 4       # no shard hogs the corpus
    # a different salt is an independent epoch: order actually changes
    e2 = training_shards(docs, "doc_id", 4, salt="epoch2") \
        .select("doc_id", "shard", "pos")
    assert sorted(map(tuple, a.collect())) != sorted(map(tuple, e2.collect()))


def test_incremental_dedup_corpus_and_within_batch(spark):
    from climate_data_pipeline_spark.operators.dedup import incremental_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame([(1, base)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, base),      # dup of corpus doc
         (11, other),     # novel, but duplicated at id 12
         (12, other),     # dup of earlier batch doc 11 only
         (13, "completely unrelated words appearing nowhere else at all")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in incremental_dedup(
        corpus, batch, "text", "doc_id").collect()}
    assert out[10]["is_dup"] and out[10]["matched_corpus"]
    assert not out[11]["is_dup"]          # first occurrence survives
    assert out[12]["is_dup"] and not out[12]["matched_corpus"]
    assert not out[13]["is_dup"]
    assert out[10]["best_est"] == 1.0


def test_segment_dedup_copy_and_reassembly(spark):
    from climate_data_pipeline_spark.operators.dedup import segment_dedup

    a = " ".join(f"w{i}" for i in range(25))         # 3 segments (10/10/5)
    b = " ".join(f"x{i}" for i in range(12))         # 2 segments, unique
    df = spark.createDataFrame(
        [(1, a), (2, a), (3, b)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           segment_dedup(df, "text", "doc_id", seg_words=10).collect()}
    # doc 1 is first: keeps everything, reassembles to the original text
    assert out[1]["n_segs"] == 3 and out[1]["n_kept"] == 3
    assert out[1]["text_dedup"] == a
    # doc 2 is an exact copy: every segment already seen -> emptied
    assert out[2]["n_segs"] == 3 and out[2]["n_kept"] == 0
    assert out[2]["text_dedup"] == ""
    # doc 3 shares nothing: untouched
    assert out[3]["n_kept"] == 2 and out[3]["text_dedup"] == b


def test_segment_dedup_idempotent(spark):
    """Re-running on the deduped text removes nothing further."""
    from climate_data_pipeline_spark.operators.dedup import segment_dedup
    from climate_data_pipeline_spark.sources.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    once = segment_dedup(docs, "text", "doc_id").where("n_kept > 0")
    twice = segment_dedup(once, "text_dedup", "doc_id")
    assert twice.where("n_kept <> n_segs").count() == 0


def test_contamination_bloom_equals_exact(spark):
    """Bloom prune + exact confirm must reproduce the exact semi-join
    result bit-for-bit (bloom is a superset prefilter, never lossy)."""
    from climate_data_pipeline_spark.operators.dedup import (
        contamination_check, contamination_check_bloom)
    from climate_data_pipeline_spark.sources.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = docs.where(F.col("doc_id") % 7 == 0)
    corpus = docs.where(F.col("doc_id") % 7 != 0)
    exact = sorted(map(tuple, contamination_check(
        corpus, bench, "text", "doc_id").collect()))
    bloom = sorted(map(tuple, contamination_check_bloom(
        corpus, bench, "text", "doc_id").collect()))
    assert bloom == exact
    assert any(r[3] > 0 for r in exact)  # scan actually found overlap


def test_bloom_prune_superset_and_tiny_filter(spark):
    """A deliberately undersized bloom (high FP rate) still never drops a
    true member; with a roomy bloom most non-members are pruned."""
    from climate_data_pipeline_spark.operators.dedup import (
        bloom_build, bloom_prune)

    members = spark.range(200).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k"))
    probes = spark.range(2000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k"))  # 200 hits
    bloom = bloom_build(members, "k", m_bits=1 << 14, k=4)
    kept = {r["k"] for r in bloom_prune(probes, "k", bloom,
                                        m_bits=1 << 14, k=4).collect()}
    truth = {f"key-{i}" for i in range(200)}
    assert truth <= kept                      # no false negatives, ever
    assert len(kept) < 600                    # FP rate well under control


def test_chunk_text_windows_and_overlap(spark):
    from climate_data_pipeline_spark.operators.text import chunk_text

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10)))], "doc_id long, text string")
    rows = {r["chunk_idx"]: r for r in
            chunk_text(df, "text", "doc_id", chunk_size=4, stride=3).collect()}
    assert len(rows) == 4  # starts at words 0,3,6,9
    assert rows[0]["chunk_text"] == "w0 w1 w2 w3"
    assert rows[1]["chunk_text"] == "w3 w4 w5 w6"  # 1-word overlap
    assert rows[3]["chunk_text"] == "w9" and rows[3]["n_words"] == 1
    with pytest.raises(ValueError):
        chunk_text(df, "text", "doc_id", chunk_size=0)


def test_chunk_udtf_matches_builtin(spark, docs):
    from climate_data_pipeline_spark.operators.text import (
        chunk_text, chunk_text_udtf)

    sub = docs.limit(50)
    built = sorted(map(tuple, chunk_text(
        sub, "text", "doc_id", chunk_size=32, stride=24).collect()))
    via_udtf = sorted(map(tuple, chunk_text_udtf(
        spark, sub, "text", "doc_id", chunk_size=32, stride=24).collect()))
    assert built == via_udtf and len(built) > 0


def test_clean_text_c4_rules(spark):
    from climate_data_pipeline_spark.operators.text import clean_text

    df = spark.createDataFrame(
        [("Good long sentence here.\nshort\nAnother full line stays!\n"
          "   spaced   out   line.   \nno terminal punct line here",)],
        "text string")
    row = clean_text(df, "text", min_line_words=3,
                     require_terminal_punct=True).first()
    kept = row["text_clean"].split("\n")
    assert kept == ["Good long sentence here.", "Another full line stays!",
                    "spaced out line."]
    assert row["n_lines"] == 5 and row["n_lines_kept"] == 3
    # without the punct rule the no-punct line survives
    row2 = clean_text(df, "text", min_line_words=3).first()
    assert row2["n_lines_kept"] == 4


def test_clean_text_drops_empty_lines(spark):
    from climate_data_pipeline_spark.operators.text import clean_text

    row = clean_text(spark.createDataFrame([("a\n\n\nb",)], "text string"),
                     "text", min_line_words=1).first()
    assert row["text_clean"] == "a\nb"
    assert row["n_lines"] == 4 and row["n_lines_kept"] == 2


def test_char_entropy_bounds(spark):
    from climate_data_pipeline_spark.operators.text import char_entropy

    import math
    rows = {r["text"]: r for r in char_entropy(
        spark.createDataFrame([("aaaa",), ("abcd",), ("aabb",)],
                              "text string"), "text").collect()}
    assert rows["aaaa"]["char_entropy"] == pytest.approx(0.0)
    # uniform over 4 symbols → ln(4); max for that alphabet size
    assert rows["abcd"]["char_entropy"] == pytest.approx(math.log(4))
    assert rows["aabb"]["char_entropy"] == pytest.approx(math.log(2))
    assert rows["abcd"]["n_distinct_chars"] == 4


def test_weighted_sample_properties(spark, docs):
    from climate_data_pipeline_spark.operators import sampling as S

    out = S.weighted_sample(docs, ["lang"], "doc_id", "n_chars", 15)
    got = out.groupBy("lang").count().collect()
    sizes = {r["lang"]: r["count"] for r in got}
    full = {r["lang"]: r["count"]
            for r in docs.where("n_chars > 0").groupBy("lang").count().collect()}
    for lang, n in full.items():
        assert sizes[lang] == min(15, n)
    # partition-invariant selection (same ids, any layout)
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in S.weighted_sample(
        docs.repartition(17), ["lang"], "doc_id", "n_chars", 15).collect()}
    assert a == b


def test_weighted_sample_biases_toward_heavy_rows(spark):
    """A row with 50x the weight of its 99 peers must be selected far
    more often across independent salts (inclusion probability ∝ w)."""
    from pyspark.sql import functions as F
    from climate_data_pipeline_spark.operators.sampling import weighted_sample

    base = spark.range(100).select(
        F.col("id"), F.lit("g").alias("g"),
        F.when(F.col("id") == 0, 500.0).otherwise(10.0).alias("w")).cache()
    heavy_hits = light_hits = 0
    for salt in map(str, range(30)):
        chosen = {r["id"] for r in
                  weighted_sample(base, ["g"], "id", "w", 10,
                                  salt=salt).collect()}
        heavy_hits += 0 in chosen
        light_hits += 1 in chosen
    assert heavy_hits >= 25          # p(select) ≈ 1 for the heavy row
    assert light_hits <= heavy_hits  # and clearly above any light row


def test_weighted_sample_drops_nonpositive_weights(spark):
    from pyspark.sql import functions as F
    from climate_data_pipeline_spark.operators.sampling import weighted_sample

    df = spark.range(20).select(
        F.col("id"), F.lit("g").alias("g"),
        F.when(F.col("id") < 5, -1.0)
         .when(F.col("id") < 10, 0.0).otherwise(1.0).alias("w"))
    got = {r["id"] for r in weighted_sample(df, ["g"], "id", "w", 50).collect()}
    assert got == set(range(10, 20))


def test_token_budget_mix_maximal_and_capped(spark, docs):
    from pyspark.sql import functions as F
    from climate_data_pipeline_spark.operators.sampling import token_budget_mix

    budgets = {"en": 30000, "de": 10000}
    mixed = token_budget_mix(docs, "lang", "doc_id", "n_chars", budgets)
    sums = {r["lang"]: r["s"] for r in
            mixed.groupBy("lang").agg(F.sum("n_chars").alias("s")).collect()}
    assert set(sums) <= set(budgets)          # other sources excluded
    for lang, budget in budgets.items():
        assert sums[lang] <= budget
    # maximality: the first md5-ordered document NOT selected would
    # overflow the budget
    kept = {r["doc_id"] for r in mixed.collect()}
    ordered = (docs.where(F.col("lang") == "en")
                   .select("doc_id", "n_chars",
                           F.md5(F.col("doc_id").cast("string")).alias("h"))
                   .orderBy("h", "doc_id").collect())
    run = 0
    for r in ordered:
        if r["doc_id"] in kept:
            run += r["n_chars"]
        else:
            assert run + r["n_chars"] > budgets["en"]
            break


def test_leakage_safe_split_keeps_groups_together(spark, docs):
    """No duplicate group may straddle the train/eval boundary, and the
    assignment must be partition-invariant."""
    from pyspark.sql import functions as F
    from climate_data_pipeline_spark.operators.sampling import (
        leakage_safe_split,
    )

    out = leakage_safe_split(docs, "doc_id", F.md5("text"),
                             {"train": 0.8, "eval": 0.2})
    straddlers = (out.groupBy(F.md5("text"))
                     .agg(F.countDistinct("split").alias("k"))
                     .where("k > 1").count())
    assert straddlers == 0
    assert set(out.columns) == set(docs.columns) | {"split"}
    assert out.count() == docs.count()
    a = {(r["doc_id"], r["split"]) for r in out.collect()}
    b = {(r["doc_id"], r["split"])
         for r in leakage_safe_split(docs.repartition(13), "doc_id",
                                     F.md5("text"),
                                     {"train": 0.8, "eval": 0.2}).collect()}
    assert a == b


def test_lsh_band_pairs_matches_brute_force(emb):
    """Banded-LSH pair generation vs the brute-force verifier: exact
    cosine inside candidates means NO false positives (strict subset),
    and band-OR recall is 1.0 for confidently-similar pairs (the
    theory bound at cosine 0.6 with 16x2 bands is ~1 - 1e-5)."""
    brute = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in SIM.cosine_pairs(emb, threshold=0.4).collect()}
    band = {(r["id_a"], r["id_b"]): r["cosine"]
            for r in SIM.lsh_band_pairs(emb, threshold=0.4,
                                        dim=64).collect()}
    assert set(band) <= set(brute)
    for k, v in band.items():
        assert brute[k] == v        # identical rounded cosine values
    strong = {k for k, v in brute.items() if v >= 0.6}
    assert strong <= set(band)
    # overall recall at the loose 0.4 threshold still high
    assert len(band) / max(1, len(brute)) >= 0.9


def test_seed_near_duplicates_properties(emb):
    """Planted twins: ids offset by 1 + max corpus id (collision-free
    at any scale), every twin's cosine to its source row >=
    (1-eps)/(1+eps) (data-independent bound; measured ~0.9988 on this
    corpus), corpus rows untouched, and the selective production
    banding (33x6 + Hamming sketch) recovers EVERY planted pair — the
    falsifiability contract behind the seeded queries."""
    from pyspark.sql import functions as F
    corpus = SIM.seed_near_duplicates(emb, n_seed=25)
    n0 = emb.count()
    off = emb.agg(F.max("vec_id")).first()[0] + 1
    assert corpus.count() == n0 + 25
    tw = {r["id_b"] - off: r["cosine"] for r in SIM.lsh_band_pairs(
        corpus, threshold=0.5, n_bands=33, band_bits=6, dim=64,
        prefilter_margin=0.3).collect() if r["id_b"] >= off
        and r["id_a"] == r["id_b"] - off}
    assert set(tw) == set(range(25))          # every twin pair found
    bound = (1 - 0.05) / (1 + 0.05)
    assert all(v >= bound for v in tw.values())


def test_semantic_prune_keeps_corpus_drops_twins(emb, spark, sf_dir):
    """`dedup_semantic_prune`: every original corpus row survives (its
    id is the cluster min vs its planted twin), every planted twin is
    pruned, and the seed sources are flagged was_clustered."""
    import climate_data_pipeline_spark.queries  # noqa: F401 — registers
    from climate_data_pipeline_spark.registry import REGISTRY
    out = REGISTRY["dedup_semantic_prune"].fn(spark, sf_dir).collect()
    survivors = {r["vec_id"] for r in out}
    corpus_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert survivors == corpus_ids            # twins gone, corpus intact
    clustered = {r["vec_id"] for r in out if r["was_clustered"]}
    assert set(range(40)) <= clustered        # each seed won its cluster


def test_lsh_bucket_fast_path_same_bits(emb):
    """Precomputed-plane literals must reproduce the per-row md5
    derivation bit-for-bit (same buckets for every vector)."""
    slow = {r["vec_id"]: r["bucket"]
            for r in SIM.lsh_buckets(emb, n_planes=6).collect()}
    fast = {r["vec_id"]: r["bucket"]
            for r in SIM.lsh_buckets(emb, n_planes=6, dim=64).collect()}
    assert slow == fast


def test_simhash64_banding_is_lossless(docs, spark):
    """8x8-bit banding at 64 bits: banded join == brute force for
    Hamming <= 7, for both the md5 and xxhash64 word-hash variants."""
    for fn in ("md5", "xxhash64"):
        banded = D.simhash64_pairs(docs, "text", "doc_id",
                                   max_hamming=7, bands=8, hash_fn=fn)
        sig = D.simhash64(docs, "text", "doc_id", hash_fn=fn)
        a = sig.select(F.col("id").alias("id_a"),
                       F.col("sim_hi").alias("ha"),
                       F.col("sim_lo").alias("la"))
        b = sig.select(F.col("id").alias("id_b"),
                       F.col("sim_hi").alias("hb"),
                       F.col("sim_lo").alias("lb"))
        ham = (F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
               + F.bit_count(F.col("la").bitwiseXOR(F.col("lb"))))
        brute = (a.join(b, F.col("id_a") < F.col("id_b")).where(ham <= 7))
        assert banded.count() == brute.count()
    with pytest.raises(ValueError, match="lossless"):
        D.simhash64_pairs(docs, "text", "doc_id", max_hamming=8, bands=8)


def test_minhash64_estimator_error(docs):
    """At the raised 64-permutation default the Jaccard estimator's
    std is sqrt(J(1-J))/8 <= 0.0625: every estimate for a
    non-trivially-similar pair lands within 4 sigma of exact, and both
    signature schemes (64 md5s vs 1 md5 + affine mixes) obey the bound."""
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(docs, "text", "doc_id",
                                            min_jaccard=0.3).collect()}
    assert exact
    for scheme in ("md5", "affine"):
        est = {(r["id_a"], r["id_b"]): r["jaccard_est"]
               for r in D.minhash_pairs(docs, "text", "doc_id",
                                        min_est=0.3,
                                        scheme=scheme).collect()}
        hits = set(exact) & set(est)
        assert hits, f"no overlapping pairs for scheme {scheme}"
        for k in hits:
            assert abs(est[k] - exact[k]) <= 0.25, (scheme, k)
        # strong pairs (J >= 0.8) must all be caught at 16x4 banding
        strong = {k for k, v in exact.items() if v >= 0.8}
        assert strong <= set(est)


def test_suggest_bands_theory():
    """The (B, r) advisor: returned config must reach the target
    band-OR recall at the threshold, with the most selective r that
    fits the plane budget (selectivity grows with r)."""
    import math

    for t in (0.5, 0.8, 0.9):
        B, r = SIM.suggest_bands(t, target_recall=0.95, max_planes=256)
        p = 1 - math.acos(t) / math.pi
        recall = 1 - (1 - p ** r) ** B
        assert recall >= 0.95 and B * r <= 256
    # higher thresholds afford more selective (wider) bands
    assert SIM.suggest_bands(0.95)[1] > SIM.suggest_bands(0.5)[1]


def test_bpe_encode_reconstructs_words(spark):
    """Every document's token stream must rebuild its exact word
    sequence (token concatenation per word), and match the trained
    vocabulary's symbol table."""
    from climate_data_pipeline_spark.operators.text import (
        bpe_encode, bpe_train, words)
    from climate_data_pipeline_spark.sources.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    merges, vocab = bpe_train(docs, "text", n_merges=10)
    sym = {r["word"]: r["symbols"].split(" ") for r in vocab.collect()}
    enc = bpe_encode(docs, "text", merges)
    rows = enc.select("doc_id", "tokens",
                      words("text").alias("ws")).collect()
    assert len(rows) > 0
    for r in rows:
        toks = list(r["tokens"])
        for w in r["ws"]:
            expect = sym[w]
            got, toks = toks[:len(expect)], toks[len(expect):]
            assert got == expect, (w, got, expect)
        assert toks == []  # nothing left over


def test_blocked_link_pairs_respects_blocks_and_distance(spark):
    from climate_data_pipeline_spark.operators.dedup import blocked_link_pairs

    df = spark.createDataFrame(
        [(1, "smith john", "US"), (2, "smith jon", "US"),
         (3, "smith john", "DE"),        # same name, other block: no link
         (4, "totally different", "US")],
        "id long, name string, country string")
    out = {(r["id_a"], r["id_b"]): r["distance"]
           for r in blocked_link_pairs(df, "id", "name", ["country"],
                                       max_distance=2).collect()}
    assert out == {(1, 2): 1}


def test_lm_perplexity_scores_fluent_text_lower(spark):
    # corpus dominated by one repeated pattern; the odd doc out gets a
    # strictly higher per-bigram NLL than the in-distribution docs
    rows = [(i, "the cat sat on the mat") for i in range(8)]
    rows.append((99, "zq xv qj kw pz vx"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           TX.lm_perplexity(df, "text", "doc_id").collect()}
    common = [out[i]["avg_nll"] for i in range(8)]
    assert len(set(common)) == 1                 # identical docs, one score
    assert out[99]["avg_nll"] > common[0]        # junk scores worse
    # exact-sum invariant: avg reconstructs from the integer micro sum
    r = out[99]
    assert abs(r["avg_nll"]
               - round(-r["sum_logp_micro"] / 1e6 / r["n_bigrams"], 6)) == 0


def test_lm_perplexity_counts_bigrams(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "only"), (3, "x y")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["n_bigrams"]
           for r in TX.lm_perplexity(df, "text", "doc_id").collect()}
    assert out == {1: 3, 3: 1}   # single-word doc has no bigram row


def test_centroid_outliers_flags_planted_outlier(spark):
    # 7 tight vectors + 1 anti-correlated one in a single class: the
    # planted outlier must be rank 1 and the only pruned row (ceil(.1*8)=1)
    base = [1.0, 0.0, 0.5, 0.25]
    rows = [(i, [v + 0.01 * i for v in base], 0) for i in range(7)]
    rows.append((99, [-1.0, 0.5, -0.5, 0.0], 0))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = SIM.centroid_outliers(df)
    got = {r["vec_id"]: (r["rank"], r["prune"]) for r in out.collect()}
    assert got[99] == (1, True)
    assert sum(1 for _, (rk, p) in got.items() if p) == 1


def test_centroid_outliers_prune_frac_per_class(emb):
    out = SIM.centroid_outliers(emb, prune_frac=0.2).cache()
    per = (out.groupBy("label")
           .agg(F.count("*").alias("n"),
                F.sum(F.col("prune").cast("int")).alias("npruned"))
           .collect())
    import math
    for r in per:
        assert r["npruned"] == math.ceil(0.2 * r["n"])


def test_source_overlap_matrix_counts_shared_shingles(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "s1"),
         (2, "alpha beta gamma epsilon", "s2"),   # shares 'alpha beta gamma'
         (3, "totally unrelated words here", "s3")],
        "doc_id long, text string, source string")
    out = {(r["source_a"], r["source_b"]): r
           for r in D.source_overlap_matrix(df, "text", "source").collect()}
    assert set(out) == {("s1", "s2")}            # s3 shares nothing
    r = out[("s1", "s2")]
    assert r["n_shared"] == 1 and r["n_a"] == 2 and r["n_b"] == 2
    assert r["overlap"] == 0.5


def test_source_overlap_max_df_drops_boilerplate(spark):
    """The df-capped arm must BIND: a boilerplate shingle present in
    more than max_df documents is excluded from shared counts AND from
    the per-source totals (overlap is over the capped universe)."""
    rows = [(i, "common boiler plate", f"s{i % 2 + 1}") for i in range(6)]
    rows += [(10, "common boiler plate rare pair one", "s1"),
             (11, "common boiler plate rare pair two", "s2")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    uncapped = {(r["source_a"], r["source_b"]): r
                for r in D.source_overlap_matrix(df, "text", "source")
                .collect()}
    capped = {(r["source_a"], r["source_b"]): r
              for r in D.source_overlap_matrix(
                  df, "text", "source", max_df=4, id_col="doc_id")
              .collect()}
    # 'common boiler plate' spans 8 docs > 4 → dropped in the capped arm
    assert uncapped[("s1", "s2")]["n_shared"] > capped[("s1", "s2")]["n_shared"]
    # totals shrink too: the dropped shingle no longer counts for either
    assert capped[("s1", "s2")]["n_a"] < uncapped[("s1", "s2")]["n_a"]
    # shared-but-rare shingles survive ('boiler plate rare', 'plate rare
    # pair' in exactly 2 docs each)
    assert capped[("s1", "s2")]["n_shared"] >= 1
    with pytest.raises(ValueError, match="id_col"):
        D.source_overlap_matrix(df, "text", "source", max_df=4)


def test_source_overlap_pairs_are_ordered_and_complete(docs):
    out = D.source_overlap_matrix(docs, "text", "source").collect()
    for r in out:
        assert r["source_a"] < r["source_b"]
        assert 0.0 <= r["overlap"] <= 1.0
        assert r["n_shared"] <= min(r["n_a"], r["n_b"])


def test_temperature_weights_flattens_distribution(spark):
    from climate_data_pipeline_spark.operators.sampling import (
        temperature_weights)

    df = spark.createDataFrame(
        [("en", 900), ("de", 90), ("zh", 10)], "lang string, n_tok int")
    out = {r["group"]: r for r in
           temperature_weights(df, "lang", "n_tok").collect()}
    # q sums to ~1 and sits between uniform and raw shares
    assert abs(sum(r["q"] for r in out.values()) - 1.0) < 1e-6
    assert out["en"]["q"] < out["en"]["p"]       # head downweighted
    assert out["zh"]["q"] > out["zh"]["p"]       # tail upweighted
    assert out["en"]["factor"] < 1.0 < out["zh"]["factor"]
    # order preserved: flattened, not inverted
    assert out["en"]["q"] > out["de"]["q"] > out["zh"]["q"]


def test_lexical_diversity_detects_boilerplate(spark):
    tpl = "click here to subscribe now"
    rows = [(i, tpl, "spam") for i in range(10)]
    rows += [(100 + i, t, "organic") for i, t in enumerate(
        ["the quick brown fox jumps", "pack my box with jugs",
         "how vexingly daft zebras jump", "five boxing wizards leap"])]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["group"]: r for r in
           TX.lexical_diversity(df, "text", "source").collect()}
    # boilerplate source: every n-gram repeated 10x -> tiny ratios
    assert out["spam"]["ttr_2"] == 0.1
    assert out["organic"]["ttr_2"] == 1.0
    assert out["spam"]["ttr_1"] < out["organic"]["ttr_1"]


def test_lexical_diversity_short_docs_no_higher_grams(spark):
    df = spark.createDataFrame([(1, "two words", "s")],
                               "doc_id long, text string, source string")
    out = TX.lexical_diversity(df, "text", "source").collect()
    # docs shorter than n contribute nothing at that n, but the source
    # still appears (zero counts, NULL ttr) — it must never vanish
    assert len(out) == 1
    r = out[0]
    assert r["total_2"] == 1 and r["total_3"] == 0
    assert r["ttr_3"] is None and r["distinct_3"] == 0


def test_multiprobe_recall_dominates_single_probe(spark, emb):
    # multiprobe candidates are a superset (own bucket always probed),
    # so recall@k vs the exact top-k can only improve
    queries = (emb.where(F.col("vec_id") < 20)
                  .select(F.col("vec_id").alias("q_id"),
                          F.col("embedding").alias("q_vec")))
    exact = {(r["q_id"], r["vec_id"])
             for r in SIM.cosine_topk(queries, emb, k=3).collect()}
    single = {(r["q_id"], r["vec_id"])
              for r in SIM.lsh_ann(queries, emb, k=3,
                                   n_planes=6, dim=64).collect()}
    multi = {(r["q_id"], r["vec_id"])
             for r in SIM.lsh_ann_multiprobe(queries, emb, k=3,
                                             n_planes=6, dim=64).collect()}
    r_single = len(exact & single) / len(exact)
    r_multi = len(exact & multi) / len(exact)
    assert r_multi >= r_single
    # near-uniform synthetic vectors are LSH's worst case; the probe
    # fan-out must still find strictly more than nothing and beat the
    # single bucket's floor
    assert r_multi >= 0.2


def test_temperature_resample_moves_toward_target_shares(spark):
    from climate_data_pipeline_spark.operators.sampling import (
        temperature_resample, temperature_weights)

    rows = ([(i, "en", 100) for i in range(400)]
            + [(1000 + i, "zh", 100) for i in range(25)])
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tok int")
    out = temperature_resample(df, "lang", "doc_id", "n_tok")
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    wts = {r["group"]: r for r in
           temperature_weights(df, "lang", "n_tok").collect()}
    # per-group copy count tracks n_in * factor within rounding noise
    for lang, n_in in (("en", 400), ("zh", 25)):
        expect = n_in * wts[lang]["factor"]
        assert abs(counts[lang] - expect) <= max(3, 0.2 * expect)
    # tail upsampled: every zh doc appears >= floor(factor) times
    assert counts["zh"] >= 25 * int(wts["zh"]["factor"])
    # determinism: same input -> same multiset
    again = {r["lang"]: r["n"] for r in
             temperature_resample(df, "lang", "doc_id", "n_tok")
             .groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert again == counts


def test_quality_calibration_uniform_within_source(docs, spark):
    from climate_data_pipeline_spark.registry import REGISTRY, _load_all

    _load_all()
    out = (REGISTRY["quality_calibrated_rank"]
           .fn(spark, "/root/testdata/sf0.001").toPandas())
    # percent_rank spans [0, 1] within every source with distinct ranks
    for src, grp in out.groupby("source"):
        assert grp.q_calibrated.min() == 0.0
        assert grp.q_calibrated.max() <= 1.0
        assert grp.q_calibrated.nunique() == len(grp)


def test_gopher_rules_crafted_cases(spark):
    """Rules the synthetic corpus never exercises: bullets, ellipses,
    symbol ratio, non-alpha words, missing mandatory stopwords."""
    good = ("the data to be of and that have with more " * 6).strip()
    rows = [
        (1, good),                                      # passes everything
        (2, "short of the and"),                        # word-count fail
        (3, "- a\n- b\n- c\n" + good),                  # >90% bullets? 3/3+? depends
        (4, good + " ######### ### ## # # # # # # # # # # # # # #"),
        (5, ("one... two... three...\nfour... five...\n" * 3) + good),
        (6, " ".join(["123"] * 60)),                    # non-alpha + no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           TX.gopher_rules(df, "text", "doc_id", min_words=30).collect()}
    assert out[1]["pass"]
    assert not out[2]["r_word_count"] and not out[2]["pass"]
    assert not out[4]["r_symbol_ratio"] and not out[4]["pass"]
    assert not out[5]["r_ellipsis_lines"] and not out[5]["pass"]
    assert not out[6]["r_alpha_words"] and not out[6]["r_stopwords"]
    # bullet rule: 3 of 4 non-empty lines bulleted = 75% < 90% → passes rule
    assert out[3]["r_bullet_lines"]
    all_bullets = spark.createDataFrame(
        [(7, "- a b c\n- d e f\n- g h i")], "doc_id long, text string")
    r7 = TX.gopher_rules(all_bullets, "text", "doc_id").first()
    assert not r7["r_bullet_lines"]


def test_dsir_weights_rank_targetlike_higher(spark):
    """DSIR log-weight must rank a raw doc sharing the target's bigrams
    above one with disjoint vocabulary."""
    from climate_data_pipeline_spark.operators import sampling as S

    target_text = "the model of the data and the code of the work"
    rows = ([(i, target_text, "tgt") for i in range(5)]
            + [(10, "the model of the data and the code", "raw"),
               (11, "zebra quark lemon violet ember octave", "raw")])
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    out = {r["doc_id"]: r["logw"] for r in S.dsir_importance_weights(
        df, "text", "doc_id", F.col("src") == "tgt").collect()}
    assert set(out) == {10, 11}
    assert out[10] > out[11]


def test_suggest_bands_threshold_one(spark):
    """Regression: threshold=1.0 (exact-duplicate tuning) used to crash
    with math domain error; identical sign patterns collide with
    certainty so one selective band suffices."""
    bands, bits = SIM.suggest_bands(1.0)
    assert bands == 1 and bits >= 8
    assert SIM.suggest_bands(0.6) == (34, 7)      # unchanged elsewhere


def test_simhash_pairs_rejects_lossy_radius(docs):
    """Regression: max_hamming >= bands breaks the pigeonhole
    losslessness silently — must raise like simhash64_pairs."""
    import pytest as _pt
    from climate_data_pipeline_spark.operators import dedup as D
    with _pt.raises(ValueError, match="max_hamming < bands"):
        D.simhash_pairs(docs, "text", "doc_id", max_hamming=4, bands=4)


def test_incremental_dedup_screens_short_docs(spark):
    """Regression: a batch doc shorter than the shingle width must get
    a decision row (is_dup=false), not vanish from the stream."""
    from climate_data_pipeline_spark.operators import dedup as D
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon"), (11, "too short")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in D.incremental_dedup(
        corpus, batch, "text", "doc_id").collect()}
    assert set(out) == {10, 11}
    assert out[10]["is_dup"] and out[10]["matched_corpus"]
    assert not out[11]["is_dup"] and out[11]["n_matches"] == 0


def test_duplicate_clusters_raises_on_round_exhaustion(spark):
    """Regression: hitting max_rounds without convergence must raise —
    part-propagated labels are a plausible-looking WRONG clustering."""
    import pytest as _pt
    from climate_data_pipeline_spark.operators import dedup as D
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["id_a", "id_b"])
    with _pt.raises(RuntimeError, match="did not converge"):
        D.duplicate_clusters(chain, max_rounds=3)
    ok = D.duplicate_clusters(chain, max_rounds=20).collect()
    assert all(r["cluster_id"] == 0 for r in ok)


def test_seed_twins_follow_corpus_id_range(spark):
    """Regression: twins anchor at min(id)+n_seed — a corpus whose ids
    start at 1e9 still gets planted positives."""
    import numpy as np
    base = 1_000_000_000
    rng = np.random.default_rng(7)
    rows = [(base + i, rng.normal(size=8).tolist()) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    corpus = SIM.seed_near_duplicates(df, n_seed=10)
    assert corpus.count() == 60
    off = (base + 49) + 1                    # 1 + max corpus id
    twin_ids = {r["vec_id"] for r in corpus.collect()} - \
        {base + i for i in range(50)}
    # twins mirror the 10 SMALLEST corpus ids, shifted by the offset
    assert twin_ids == {base + i + off for i in range(10)}


def test_weighted_median_udaf_null_safe(spark):
    """Regression: a null value's weight must not count toward the
    cumulative total (it shifted the selected median)."""
    from climate_data_pipeline_spark.operators.stats import (
        weighted_median_udaf,
    )
    df = spark.createDataFrame(
        [("a", 1.0, 1.0), ("a", None, 9.0), ("b", None, 1.0)],
        "k string, v double, w double")
    wm = weighted_median_udaf()
    got = {r["k"]: r["m"] for r in
           df.groupBy("k").agg(wm("v", "w").alias("m")).collect()}
    assert got["a"] == 1.0 and got["b"] is None


def test_resize_image_area_kernel(spark):
    """2x2 area downsample over PGM and grayscale-PNG payloads matches
    numpy's box mean exactly; non-image and color payloads are loud."""
    import numpy as np
    import pytest as _pt

    from climate_data_pipeline_spark.operators.multimodal import (
        resize_image_area, synthesize_media, synthesize_png)

    df = spark.createDataFrame([(0, "a text that becomes pixels")],
                               "doc_id long, text string")
    # PGM path (synthesize_media gives even ids PGM)
    out = resize_image_area(
        synthesize_media(df, "doc_id", "text")).collect()
    assert len(out) == 64
    px = np.resize(np.frombuffer(b"a text that becomes pixels",
                                 np.uint8), 256).reshape(16, 16)
    want = px.reshape(8, 2, 8, 2).mean((1, 3))
    got = {(r["y"], r["x"]): r["value"] for r in out}
    for y in range(8):
        for x in range(8):
            assert got[(y, x)] == want[y, x]
    # PNG path agrees with the PGM path (same pixels, different container)
    out2 = resize_image_area(
        synthesize_png(df, "doc_id", "text", rgb_every=0)).collect()
    assert {(r["y"], r["x"]): r["value"] for r in out2} == got
    # color PNG refuses
    with _pt.raises(Exception, match="grayscale"):
        resize_image_area(
            synthesize_png(df, "doc_id", "text", rgb_every=1)).collect()
    # audio payload refuses
    df_odd = spark.createDataFrame([(1, "a wav")],
                                   "doc_id long, text string")
    with _pt.raises(Exception, match="no grayscale decoder"):
        resize_image_area(
            synthesize_media(df_odd, "doc_id", "text")).collect()


def test_png_codec_fuzz_roundtrip(spark):
    """Fuzz the PNG encode/decode pair: random unicode-heavy texts of
    many lengths through both channel layouts must reproduce the exact
    cycled-byte pixel mean (every scanline filter exercised via the
    id % 5 cycling across 15 ids)."""
    import numpy as np

    from climate_data_pipeline_spark.operators.multimodal import (
        decode_media_real, synthesize_png)

    rng = np.random.default_rng(41)
    pool = "abcXYZ 019 ü é 漢字 🙂 \n\t-_.!"
    rows = [(i, "".join(rng.choice(list(pool),
                                   size=int(rng.integers(0, 120)))))
            for i in range(15)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["media_id"]: r for r in
           decode_media_real(synthesize_png(df, "doc_id", "text"))
           .collect()}
    for i, text in rows:
        ch = 3 if i % 3 == 0 else 1
        raw = text.encode("utf-8") or b"\x00"
        px = np.resize(np.frombuffer(raw, np.uint8), 256 * ch)
        got = out[i]
        assert got["n_channels"] == ch
        assert abs(got["mean_value"] - float(px.mean())) < 1e-9, \
            (i, i % 5, text[:20])


def test_png_alpha_channel_excluded_from_mean(spark):
    """Gray+alpha (color type 4) and RGBA (6) PNGs: mean_value is the
    mean over COLOR samples only — the alpha plane is coverage, not
    intensity. Hand-assembled payloads with alpha planes that would
    shift the mean dramatically if folded in."""
    import struct as st
    import zlib

    import numpy as np

    from climate_data_pipeline_spark.operators.multimodal import (
        decode_media_real)

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (st.pack(">I", len(data)) + typ + data
                + st.pack(">I", zlib.crc32(typ + data)))

    def png(px: np.ndarray, ctype: int) -> bytes:
        h, w, ch = px.shape
        # filter types cycle 0/2 so the unfilter pass is exercised too
        lines = []
        for y in range(h):
            row = px[y].reshape(-1).astype(np.int32)
            if y % 2:
                prev = px[y - 1].reshape(-1).astype(np.int32)
                lines.append(b"\x02"
                             + ((row - prev) & 0xFF).astype(np.uint8)
                             .tobytes())
            else:
                lines.append(b"\x00" + row.astype(np.uint8).tobytes())
        ihdr = st.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(b"".join(lines)))
                + chunk(b"IEND", b""))

    rng = np.random.default_rng(7)
    ga = rng.integers(0, 256, (4, 4, 2), dtype=np.uint8)
    ga[:, :, 1] = 255                      # opaque alpha, gray varies
    rgba = rng.integers(0, 256, (4, 4, 4), dtype=np.uint8)
    rgba[:, :, 3] = 0                      # fully transparent alpha
    rows = [(0, "image", len(png(ga, 4)), bytearray(png(ga, 4))),
            (1, "image", len(png(rgba, 6)), bytearray(png(rgba, 6)))]
    df = spark.createDataFrame(
        rows, "media_id long, media_type string, n_bytes long, "
              "payload binary")
    got = {r["media_id"]: r for r in decode_media_real(df).collect()}
    assert got[0]["n_channels"] == 2
    assert abs(got[0]["mean_value"]
               - float(ga[:, :, :1].mean())) < 1e-9
    assert got[1]["n_channels"] == 4
    assert abs(got[1]["mean_value"]
               - float(rgba[:, :, :3].mean())) < 1e-9


def test_audio_features_values_and_loud_seam(spark):
    """audio_features: ZCR/peak/energy/RMS equal hand-computed values
    on the synthesized 16-bit PCM clips; image payloads raise."""
    import numpy as np
    import pytest as _pt

    from climate_data_pipeline_spark.operators.multimodal import (
        audio_features, synthesize_media)

    rows = [(1, "a wav from text"), (3, ""), (5, "ü 漢字 🙂")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["media_id"]: r for r in
           audio_features(synthesize_media(df, "doc_id", "text"))
           .collect()}
    for i, text in rows:
        raw = text.encode("utf-8") or b"\x00"
        s = np.resize((np.frombuffer(raw, np.uint8).astype(np.int64)
                       - 128) * 256, 400)
        nonneg = s >= 0
        r = got[i]
        assert r["n_samples"] == 400
        assert r["zero_crossings"] == int((nonneg[1:] != nonneg[:-1]).sum())
        assert r["peak"] == int(np.abs(s).max())
        assert r["energy"] == int((s * s).sum())
        assert r["rms"] == float(np.sqrt(int((s * s).sum()) / 400))
    # even ids synthesize PGM images -> loud
    img = spark.createDataFrame([(2, "an image")],
                                "doc_id long, text string")
    with _pt.raises(Exception, match="WAV payloads"):
        audio_features(synthesize_media(img, "doc_id", "text")).collect()


def test_audio_features_bit_depths_and_stereo(spark):
    """Review-pinned semantics: 8-bit PCM centered on 128 (silence ->
    RMS 0, square wave -> max ZCR); stereo ZCR never compares L to R
    and n_samples counts frames; 32-bit energy is exact python-int
    arithmetic with a loud int64 guard."""
    import io
    import wave

    import numpy as np
    import pytest as _pt

    from climate_data_pipeline_spark.operators.multimodal import (
        audio_features)

    def wav(samples, sw, nch=1) -> bytes:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(sw)
            w.setframerate(8000)
            dt = {1: np.uint8, 2: "<i2", 4: "<i4"}[sw]
            w.writeframes(np.asarray(samples, dt).tobytes())
        return buf.getvalue()

    silence8 = wav([128] * 50, 1)
    square8 = wav([255, 0] * 25, 1)
    # stereo: L constant +1000, R constant -1000 (interleaved) — zero
    # crossings per channel = 0; flat-sample comparison would say 99
    stereo = wav([1000, -1000] * 50, 2, nch=2)
    big = 2 ** 31 - 1
    one32 = wav([big], 4)
    rows = [(0, "audio/wav", bytearray(silence8), len(silence8)),
            (1, "audio/wav", bytearray(square8), len(square8)),
            (2, "audio/wav", bytearray(stereo), len(stereo)),
            (3, "audio/wav", bytearray(one32), len(one32))]
    df = spark.createDataFrame(
        rows, "media_id long, media_type string, payload binary, "
              "n_bytes long")
    got = {r["media_id"]: r for r in audio_features(df).collect()}
    assert got[0]["rms"] == 0.0 and got[0]["zero_crossings"] == 0
    assert got[1]["zero_crossings"] == 49
    assert got[1]["peak"] == 128          # centered: 0-128 = -128
    assert got[2]["zero_crossings"] == 0
    assert got[2]["n_samples"] == 50      # frames, not interleaved count
    assert got[3]["energy"] == big * big  # exact, no int64 wrap
    assert got[3]["peak"] == big

    # energy past int64 raises loudly instead of wrapping
    over = wav([big, big, big], 4)
    df2 = spark.createDataFrame(
        [(9, "audio/wav", bytearray(over), len(over))],
        "media_id long, media_type string, payload binary, n_bytes long")
    with _pt.raises(Exception, match="int64"):
        audio_features(df2).collect()


def test_audio_features_reads_every_integer_wav_form(spark):
    """audio_features decodes what decode_media_real decodes: 24-bit
    PCM (mono and stereo), G.711 μ-law and A-law, and
    WAVE_FORMAT_EXTENSIBLE wrappers, each equal to numpy features over
    the known samples; an IEEE-float clip raises."""
    import numpy as np

    from climate_data_pipeline_spark.operators.audio import build_wav
    from climate_data_pipeline_spark.operators.multimodal import (
        audio_features)

    def pcm24(s) -> bytes:
        v = np.asarray(s, np.int64) & 0xFFFFFF
        return np.stack([v & 0xFF, (v >> 8) & 0xFF, v >> 16],
                        1).astype(np.uint8).tobytes()

    def ulaw(c: int) -> int:       # G.711 table form, per code
        u = ~c & 0xFF
        mag = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
        return -mag if u & 0x80 else mag

    def alaw(c: int) -> int:
        a = c ^ 0x55
        seg, mant = (a >> 4) & 7, a & 0x0F
        mag = ((mant << 4) + 8 if seg == 0
               else ((mant << 4) + 0x108) << (seg - 1))
        return mag if a & 0x80 else -mag

    rng = np.random.default_rng(7)
    s24 = rng.integers(-2 ** 23, 2 ** 23, 600)
    s24[0], s24[1] = -2 ** 23, 2 ** 23 - 1
    s16 = rng.integers(-2 ** 15, 2 ** 15, 400)
    codes = np.arange(256)
    clips = {
        0: (build_wav(pcm24(s24), 1, 1, 8000, 24), s24, 1),
        1: (build_wav(pcm24(s24), 1, 2, 8000, 24), s24, 2),
        2: (build_wav(codes.astype(np.uint8).tobytes(), 7, 1, 8000, 8),
            np.array([ulaw(int(c)) for c in codes]), 1),
        3: (build_wav(codes.astype(np.uint8).tobytes(), 6, 1, 8000, 8),
            np.array([alaw(int(c)) for c in codes]), 1),
        4: (build_wav(s16.astype("<i2").tobytes(), 1, 2, 8000, 16,
                      extensible=True), s16, 2),
        5: (build_wav(pcm24(s24), 1, 2, 8000, 24, extensible=True),
            s24, 2),
        6: (build_wav(codes.astype(np.uint8).tobytes(), 7, 1, 8000, 8,
                      extensible=True),
            np.array([ulaw(int(c)) for c in codes]), 1),
    }
    df = spark.createDataFrame(
        [(i, "audio/wav", bytearray(b), len(b))
         for i, (b, _, _) in clips.items()],
        "media_id long, media_type string, payload binary, n_bytes long")
    got = {r["media_id"]: r for r in audio_features(df).collect()}
    for i, (_, s, nch) in clips.items():
        fr = np.asarray(s, np.int64).reshape(-1, nch)
        nonneg = fr >= 0
        energy = sum(int(v) * int(v) for v in fr.ravel())
        assert (got[i]["n_samples"], got[i]["zero_crossings"],
                got[i]["peak"], got[i]["energy"], got[i]["rms"]) == (
            len(fr), int((nonneg[1:] != nonneg[:-1]).sum()),
            int(np.abs(fr).max()), energy,
            float(np.sqrt(energy / fr.size))), i

    flt = build_wav(np.zeros(8, "<f4").tobytes(), 3, 1, 8000, 32)
    df2 = spark.createDataFrame(
        [(9, "audio/wav", bytearray(flt), len(flt))],
        "media_id long, media_type string, payload binary, n_bytes long")
    with pytest.raises(Exception, match="IEEE-float"):
        audio_features(df2).collect()


def test_png_palette_decode(spark):
    """Color type 3 (PLTE) PNGs decode through the palette lookup:
    mean_value is the mean of the looked-up RGB triples, reported as
    3 channels; an index past the palette raises."""
    import struct as st
    import zlib

    import numpy as np
    import pytest as _pt

    from climate_data_pipeline_spark.operators.multimodal import (
        decode_media_real)

    def chunk(typ, data):
        return (st.pack(">I", len(data)) + typ + data
                + st.pack(">I", zlib.crc32(typ + data)))

    rng = np.random.default_rng(11)
    plte = rng.integers(0, 256, (5, 3), dtype=np.uint8)
    idx = rng.integers(0, 5, (4, 6), dtype=np.uint8)
    lines = b"".join(b"\x00" + idx[y].tobytes() for y in range(4))
    ihdr = st.pack(">IIBBBBB", 6, 4, 8, 3, 0, 0, 0)

    def png(palette):
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"PLTE", palette.tobytes())
                + chunk(b"IDAT", zlib.compress(lines))
                + chunk(b"IEND", b""))

    pay = png(plte)
    df = spark.createDataFrame(
        [(0, "image/png", bytearray(pay), len(pay))],
        "media_id long, media_type string, payload binary, n_bytes long")
    r = decode_media_real(df).collect()[0]
    assert (r["width"], r["height"], r["n_channels"]) == (6, 4, 3)
    assert abs(r["mean_value"]
               - float(plte[idx].astype(np.float64).mean())) < 1e-9

    short = png(plte[:3])  # indices up to 4 now exceed the palette
    df2 = spark.createDataFrame(
        [(1, "image/png", bytearray(short), len(short))],
        "media_id long, media_type string, payload binary, n_bytes long")
    with _pt.raises(Exception, match="palette index"):
        decode_media_real(df2).collect()


def test_png_malformed_plte_is_loud(spark):
    """PLTE whose length is not a positive multiple of 3 raises a
    self-describing error, not numpy's reshape message."""
    import struct as st
    import zlib

    import pytest as _pt

    from climate_data_pipeline_spark.operators.multimodal import (
        decode_media_real)

    def chunk(typ, data):
        return (st.pack(">I", len(data)) + typ + data
                + st.pack(">I", zlib.crc32(typ + data)))

    ihdr = st.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    lines = zlib.compress(b"\x00\x00\x00" + b"\x00\x00\x00")
    for bad in (b"", b"\x01\x02"):
        pay = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"PLTE", bad) + chunk(b"IDAT", lines)
               + chunk(b"IEND", b""))
        df = spark.createDataFrame(
            [(0, "image/png", bytearray(pay), len(pay))],
            "media_id long, media_type string, payload binary, "
            "n_bytes long")
        with _pt.raises(Exception, match="malformed PLTE|without a PLTE"):
            decode_media_real(df).collect()


def test_png_16bit_and_adam7(spark):
    """The last two PNG seams: 16-bit samples (big-endian, filters
    operate bytewise with bpp-distance left references) and Adam7
    interlacing (seven independently-filtered sub-images in one zlib
    stream). Means re-derived from the raw sample grids."""
    import struct as st
    import zlib

    import numpy as np

    from climate_data_pipeline_spark.operators.multimodal import (
        decode_media_real)

    def chunk(typ, data):
        return (st.pack(">I", len(data)) + typ + data
                + st.pack(">I", zlib.crc32(typ + data)))

    def png(ihdr, idat_raw):
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(idat_raw))
                + chunk(b"IEND", b""))

    rng = np.random.default_rng(17)

    # --- 16-bit grayscale, filters None/Up alternating ---
    g16 = rng.integers(0, 65536, (5, 7), dtype=np.uint16)
    lines = b""
    prev = np.zeros(14, np.int32)
    for y in range(5):
        rowb = np.frombuffer(g16[y].astype(">u2").tobytes(),
                             np.uint8).astype(np.int32)
        if y % 2:
            lines += b"\x02" + ((rowb - prev) & 0xFF).astype(np.uint8) \
                .tobytes()
        else:
            lines += b"\x00" + rowb.astype(np.uint8).tobytes()
        prev = rowb
    pay16 = png(st.pack(">IIBBBBB", 7, 5, 16, 0, 0, 0, 0), lines)

    # --- Adam7 8-bit RGB: per-pass filtering (None + Sub mix) ---
    rgb = rng.integers(0, 256, (9, 10, 3), dtype=np.uint8)
    ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
             (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    alines = b""
    for pi, (x0, y0, dx, dy) in enumerate(ADAM7):
        sub = rgb[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for y in range(sub.shape[0]):
            row = sub[y].reshape(-1).astype(np.int32)
            if pi % 2:            # Sub filter, bpp = 3
                left = np.concatenate([np.zeros(3, np.int32), row[:-3]])
                alines += b"\x01" + ((row - left) & 0xFF) \
                    .astype(np.uint8).tobytes()
            else:
                alines += b"\x00" + row.astype(np.uint8).tobytes()
    pay_a7 = png(st.pack(">IIBBBBB", 10, 9, 8, 2, 0, 0, 1), alines)

    df = spark.createDataFrame(
        [(0, "image/png", bytearray(pay16), len(pay16)),
         (1, "image/png", bytearray(pay_a7), len(pay_a7))],
        "media_id long, media_type string, payload binary, n_bytes long")
    got = {r["media_id"]: r for r in decode_media_real(df).collect()}
    assert (got[0]["width"], got[0]["height"], got[0]["n_channels"]) \
        == (7, 5, 1)
    assert abs(got[0]["mean_value"]
               - float(g16.astype(np.float64).mean())) < 1e-9
    assert (got[1]["width"], got[1]["height"], got[1]["n_channels"]) \
        == (10, 9, 3)
    assert abs(got[1]["mean_value"]
               - float(rgb.astype(np.float64).mean())) < 1e-9


def test_synthesize_png_emits_interlaced_payloads(spark):
    """Encoder-side non-vacuity: the default synthesize_png stream must
    actually contain Adam7 payloads (IHDR interlace byte 1) on the
    %7==3 residue ids, and those payloads must still decode to the
    cycled-byte mean — a regression that silently stops emitting
    interlace would otherwise be invisible (the oracle mean is
    interlace-invariant by design)."""
    import numpy as np

    from climate_data_pipeline_spark.operators.multimodal import (
        decode_media_real, synthesize_png)

    rows = [(i, f"text for doc {i}") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    media = {r["media_id"]: bytes(r["payload"])
             for r in synthesize_png(df, "doc_id", "text").collect()}
    # IHDR interlace byte = offset 8(sig)+8(len/type)+12(ihdr fields)
    interlaced = {i for i, p in media.items() if p[28] == 1}
    assert interlaced == {3}, interlaced
    # adam7_every=1 means EVERY id (the %1==3 residue trap)
    media_all = {r["media_id"]: bytes(r["payload"])
                 for r in synthesize_png(df, "doc_id", "text",
                                         adam7_every=1).collect()}
    assert all(p[28] == 1 for p in media_all.values())
    got = {r["media_id"]: r for r in decode_media_real(
        synthesize_png(df, "doc_id", "text", adam7_every=1)).collect()}
    for i, text in rows:
        ch = 3 if i % 3 == 0 else 1
        pxb = np.resize(np.frombuffer(text.encode(), np.uint8), 256 * ch)
        assert abs(got[i]["mean_value"] - float(pxb.mean())) < 1e-9, i


def test_flac_partial_final_block_clamps_orders():
    """The final block of a non-multiple-length stream may violate the
    requested partition/prediction orders (bs % 2^porder != 0, or a
    tail shorter than the predictor) — build_flac must clamp per frame
    (verbatim fallback for ultra-short tails) instead of emitting a
    stream spec-correct decoders reject."""
    import numpy as np

    from climate_data_pipeline_spark.operators.flac import (build_flac,
                                                            decode_flac)

    rng = np.random.default_rng(51)
    cases = [(1537, 512, "fixed2", 1),     # the reported repro
             (513, 512, "fixed4", 3),      # 1-sample tail < order
             (1000, 512, "fixed2", 2),     # 488 % 4 == 0 but odd porder
             (515, 256, "lpc2", 2),
             (130, 128, "fixed3", 0)]
    for n, bsz, mode, po in cases:
        mono = rng.integers(-2000, 2000, n).astype(np.int64)
        out = decode_flac(build_flac(mono, mode=mode, porder=po,
                                     block_size=bsz))
        np.testing.assert_array_equal(
            np.asarray(out["samples"]).reshape(-1), mono)
        st = rng.integers(-2000, 2000, (n, 2)).astype(np.int64)
        out = decode_flac(build_flac(st, mode=mode, porder=po,
                                     block_size=bsz,
                                     stereo="left_side"))
        np.testing.assert_array_equal(
            np.asarray(out["samples"]).reshape(-1, 2), st)


def test_flac_rice_parameter_over_25_fallback():
    """5-bit Rice parameters above 25 (legal for 32-bit samples)
    overflow the fast path's 32-bit remainder window — they must take
    the generic reader, not raise 'negative shift count'."""
    import numpy as np

    from climate_data_pipeline_spark.operators import flac as FL

    vals = np.array([123456789, -987654321, 5, -6, 0, 77777777,
                     -1, 2 ** 30], np.int64)
    w = FL._Writer()
    w.write(1, 2)                       # residual method 1: 5-bit params
    w.write(0, 4)                       # partition order 0
    param = 26
    w.write(param, 5)
    for v in FL._zigzag(vals).tolist():
        w.write_unary(v >> param)
        w.write(v, param)
    r = FL._Reader(w.finish())
    got = FL._read_residuals(r, len(vals), 0)
    np.testing.assert_array_equal(got, vals)


def test_flac_rice_vectorized_partition_matches_scalar():
    """The vectorized whole-partition Rice path (index-doubling
    terminator chase, r11) must decode bit-identically to the scalar
    loop — values AND final bit position — across partition sizes
    straddling _RICE_VEC_MIN, parameter magnitudes, partition orders,
    all-zero (param 0) partitions, and must agree with it on
    truncated streams."""
    import numpy as np

    from climate_data_pipeline_spark.operators import flac as FL

    rng = np.random.default_rng(11)
    old_min = FL._RICE_VEC_MIN
    try:
        for bs, order, porder, scale in [
                (4096, 0, 0, 3), (4096, 2, 0, 900), (4096, 1, 1, 40),
                (2048, 4, 1, 70000), (1024, 0, 0, 0.4),
                (1024, 3, 0, 0), (512, 0, 0, 12)]:
            nvals = bs - order
            res = np.round(rng.standard_normal(nvals)
                           * scale).astype(np.int64)
            w = FL._Writer()
            FL._write_residuals(w, res, bs, order, porder)
            data = w.finish()
            FL._RICE_VEC_MIN = 10 ** 9          # scalar only
            r1 = FL._Reader(data)
            scalar = FL._read_residuals(r1, bs, order)
            FL._RICE_VEC_MIN = 1                # vector whenever legal
            r2 = FL._Reader(data)
            vec = FL._read_residuals(r2, bs, order)
            np.testing.assert_array_equal(scalar, vec)
            assert r1.pos == r2.pos
            np.testing.assert_array_equal(vec, res)
            # a mid-stream cut must raise the same truncation error
            cut = data[:len(data) // 3]
            for vm in (10 ** 9, 1):
                FL._RICE_VEC_MIN = vm
                try:
                    FL._read_residuals(FL._Reader(cut), bs, order)
                    outcomes = True
                except ValueError:
                    outcomes = False
                if vm == 10 ** 9:
                    scalar_ok = outcomes
                else:
                    assert outcomes == scalar_ok
    finally:
        FL._RICE_VEC_MIN = old_min


def test_flac_vectorized_encoder_bit_identical():
    """The whole-partition bit-array writer (r11: _rice_bits_vec /
    _raw_bits_vec + _Writer.write_bitarray) must emit BYTE-identical
    streams to the per-value write() loop across partition orders,
    residual magnitudes, escape partitions, and misaligned writer
    state (odd leading bit counts)."""
    import numpy as np

    from climate_data_pipeline_spark.operators import flac as FL

    rng = np.random.default_rng(23)
    old_min = FL._ENC_VEC_MIN
    try:
        for bs, order, porder, scale, escape in [
                (512, 2, 2, 900, False), (512, 1, 0, 40, False),
                (1024, 0, 1, 0, False), (4096, 3, 2, 70000, False),
                (512, 2, 1, 30000, True), (256, 0, 0, 5, True)]:
            res = np.round(rng.standard_normal(bs - order)
                           * scale).astype(np.int64)
            outs = []
            for vec_min in (1, 10 ** 9):
                FL._ENC_VEC_MIN = vec_min
                w = FL._Writer()
                w.write(0b101, 3)       # misalign: partial byte state
                FL._write_residuals(w, res, bs, order, porder,
                                    force_escape=escape)
                outs.append(w.finish())
            assert outs[0] == outs[1], (bs, order, porder, escape)
    finally:
        FL._ENC_VEC_MIN = old_min


def test_flac_crc16_fold_matches_table_loop():
    """The GF(2)-linear crc16 fold (r11) must equal the byte-wise
    table loop on both sides of its size gate, including the empty
    and single-byte edges."""
    import numpy as np

    from climate_data_pipeline_spark.operators import flac as FL

    def table_loop(data: bytes) -> int:
        c = 0
        for b in data:
            c = FL._CRC16_TABLE[((c >> 8) ^ b) & 0xFF] \
                ^ ((c << 8) & 0xFFFF)
        return c

    rng = np.random.default_rng(5)
    for n in (0, 1, 7, 511, 512, 513, 1000, 4096):
        for _ in range(4):
            d = bytes(rng.integers(0, 256, size=n, dtype=np.uint8))
            assert FL.crc16(d) == table_loop(d), n


def test_flac_escape_vector_read_and_lpc_fast_path():
    """r11 decode fast paths: (a) escaped raw partitions gather all
    fixed-width fields in one shot — roundtrip must stay lossless and
    truncation loud; (b) LPC carrying the FIXED-k binomial at shift 0
    reconstructs via the cumsum pyramid — must equal the generic
    per-sample recurrence (forced by hiding the coefficient match)."""
    import numpy as np

    from climate_data_pipeline_spark.operators import flac as FL

    rng = np.random.default_rng(17)
    # (a) escaped partitions, raw widths spanning the 25-bit vec limit
    # (3e7 forces raw_bits ~27 > 25: the scalar fallback arm)
    for scale in (5, 3000, 30000, 3e7):
        res = np.round(rng.standard_normal(1022) * scale).astype(
            np.int64)
        w = FL._Writer()
        FL._write_residuals(w, res, 1024, 2, 1, force_escape=True)
        data = w.finish()
        got = FL._read_residuals(FL._Reader(data), 1024, 2)
        np.testing.assert_array_equal(got, res)
        try:
            FL._read_residuals(FL._Reader(data[:len(data) // 2]),
                               1024, 2)
            raise AssertionError("truncated escape stream not loud")
        except ValueError:
            pass
    # (b) lpc2 stream: fast path vs generic loop, bit-identical
    s = (rng.integers(-128, 128, size=2048) * 256).astype(np.int64)
    blob = FL.build_flac(s, block_size=512, mode="lpc2", porder=1)
    fast = FL.decode_flac(blob)["samples"]
    old = FL.FIXED_COEFS
    try:
        FL.FIXED_COEFS = ((), (None,), (None,), (None,), (None,))
        generic = FL.decode_flac(blob)["samples"]
    finally:
        FL.FIXED_COEFS = old
    np.testing.assert_array_equal(fast, generic)
    np.testing.assert_array_equal(fast.ravel(), s)


def test_flac_wasted_bits_subframes():
    """Wasted-bits shifts (spec: subframes may drop k trailing zero
    bits; samples are read at bits−k and shifted back): hand-built
    CONSTANT and FIXED-0 subframes with k=2 decode to the shifted
    values."""
    import numpy as np

    from climate_data_pipeline_spark.operators import flac as FL

    # CONSTANT, 16-bit, wasted=2: value coded at 14 bits
    w = FL._Writer()
    w.write(0, 1)                       # pad
    w.write(0, 6)                       # type CONSTANT
    w.write(1, 1)                       # wasted-bits flag
    w.write_unary(1)                    # k-1 = 1 -> k = 2
    w.write(-1234 & 0x3FFF, 14)
    r = FL._Reader(w.finish())
    got = FL._read_subframe(r, 5, 16)
    np.testing.assert_array_equal(got, np.full(5, -1234 << 2))

    # FIXED order 0 (pure residuals), wasted=1
    vals = np.array([7, -3, 0, 255], np.int64)
    w = FL._Writer()
    w.write(0, 1)
    w.write(8, 6)                       # FIXED order 0
    w.write(1, 1)
    w.write_unary(0)                    # k = 1
    w.write(0, 2)                       # rice method 0
    w.write(0, 4)                       # partition order 0
    w.write(4, 4)                       # rice param 4
    for v in FL._zigzag(vals).tolist():
        w.write_unary(v >> 4)
        w.write(v, 4)
    r = FL._Reader(w.finish())
    got = FL._read_subframe(r, len(vals), 16)
    np.testing.assert_array_equal(got, vals << 1)


def test_tiff_multipage_chain():
    """Multi-page TIFFs (the scanned-document layout) decode EVERY
    page through the next-IFD chain — pages of different sizes, every
    codec, tiled pages; parse_tiff reports n_pages on page one."""
    import numpy as np

    from climate_data_pipeline_spark.operators.tiff import (
        build_tiff_multipage, parse_tiff, parse_tiff_pages)

    rng = np.random.default_rng(79)
    g1 = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    g2 = rng.integers(0, 256, (24, 8), dtype=np.uint8)
    g3 = rng.integers(0, 256, (5, 30), dtype=np.uint8)
    for kw in (dict(), dict(compression=5, predictor=2),
               dict(compression=8, big_endian=True)):
        blob = build_tiff_multipage([g1, g2, g3], **kw)
        pages = parse_tiff_pages(blob)
        assert len(pages) == 3
        for p, want in zip(pages, (g1, g2, g3)):
            np.testing.assert_array_equal(p["px"], want)
        assert parse_tiff(blob)["n_pages"] == 3
    blob = build_tiff_multipage(
        [g1, rng.integers(0, 256, (32, 48), np.uint8)],
        compression=5, tile_size=(16, 16))
    pages = parse_tiff_pages(blob)
    assert len(pages) == 2 and pages[1]["px"].shape == (32, 48)
    # ODD-length page blocks: the word-alignment pad makes block
    # length depend on start parity, so starts are kept even — a
    # 5x3 first page with multi-strip followers corrupted the chain
    # before the fix
    g5 = rng.integers(0, 256, (5, 3), dtype=np.uint8)
    blob = build_tiff_multipage([g5, g1, g1], rows_per_strip=2)
    pages = parse_tiff_pages(blob)
    assert len(pages) == 3
    np.testing.assert_array_equal(pages[0]["px"], g5)
    np.testing.assert_array_equal(pages[2]["px"], g1)
    import pytest as _pt2
    with _pt2.raises(ValueError, match="no IFDs"):
        parse_tiff(b"II*\x00\x00\x00\x00\x00")


def test_webp_max_symbol_preface_and_gif_local_palette():
    """Two decoder paths no encoder here emits, pinned by hand-built
    streams: the VP8L code-length MAX-SYMBOL preface (reads stop after
    N code-length symbols, remaining lengths implicitly zero) and a
    GIF frame carrying a LOCAL color table that overrides the global
    one."""
    import struct

    import numpy as np

    from climate_data_pipeline_spark.operators import webp as W
    from climate_data_pipeline_spark.operators.gif import (lzw_encode,
                                                           parse_gif)

    bw = W._BitWriter()
    bw.write(0, 1)              # full (non-simple) code
    bw.write(0, 4)              # num_code_lengths = 4
    for ln in (1, 0, 0, 1):     # CL lengths in kOrder: 17→1, 1→1
        bw.write(ln, 3)
    bw.write(1, 1)              # USE the max-symbol preface
    bw.write(0, 3)              # length_nbits = 2
    bw.write(0, 2)              # max_symbol = 2 CL reads
    bw.write(0, 1)              # symbol 0 → length 1
    bw.write(0, 1)              # symbol 1 → length 1
    br = W._BitReader(bw.finish() + bytes(4))
    h = W._read_code(br, 256)
    assert h.table == {(1, 0): 0, (1, 1): 1}

    w = ht = 4
    idx = (np.arange(16, dtype=np.uint8) % 4).reshape(4, 4)
    gct = np.zeros((4, 3), np.uint8)            # global: all black
    lct = np.array([[10, 0, 0], [0, 20, 0], [0, 0, 30],
                    [40, 40, 40]], np.uint8)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, ht, 0x80 | 1 | (1 << 4), 0, 0)
    out += gct.tobytes()
    out += b"\x2C" + struct.pack("<HHHHB", 0, 0, w, ht, 0x80 | 1)
    out += lct.tobytes()
    out.append(2)
    raster = lzw_encode(idx.reshape(-1), 2)
    for i in range(0, len(raster), 255):
        blk = raster[i:i + 255]
        out.append(len(blk))
        out += blk
    out.append(0)
    out.append(0x3B)
    meta = parse_gif(bytes(out))
    np.testing.assert_array_equal(meta["frames"][0]["px"], lct[idx])


def test_ico_codec_and_spark_dispatch(spark):
    """ICO build/parse: DIB entries with doubled-height headers and
    AND masks, PNG entries, largest-entry selection in the dispatch;
    malformed payloads raise."""
    import numpy as np
    import pytest as _pt

    from climate_data_pipeline_spark.operators.ico import (build_ico,
                                                           parse_ico)
    from climate_data_pipeline_spark.operators.multimodal import (
        decode_media_real, synthesize_ico)

    rng = np.random.default_rng(83)
    pal = np.stack([np.arange(256, dtype=np.uint8)] * 3, 1)
    g16 = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    g32 = rng.integers(0, 256, (32, 32), dtype=np.uint8)
    mask = np.zeros((16, 16), bool)
    mask[:2, :3] = True
    imgs = parse_ico(build_ico([
        {"kind": "dib", "idx": g16, "palette": pal, "mask": mask},
        {"kind": "png", "px": g32}]))
    assert [m["kind"] for m in imgs] == ["dib", "png"]
    np.testing.assert_array_equal(imgs[0]["px"][:, :, 0], g16)
    np.testing.assert_array_equal(imgs[0]["px"][:, :, 3] == 0, mask)
    np.testing.assert_array_equal(imgs[1]["px"][:, :, 0], g32)
    with _pt.raises(ValueError, match="ICONDIR"):
        parse_ico(b"\x00\x01junk")

    rows = [(i, f"ico payload {i} " * (i + 1)) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["media_id"]: r for r in
           decode_media_real(synthesize_ico(df, "doc_id", "text"))
           .collect()}
    for i, text in rows:
        bts = np.frombuffer(text.encode(), np.uint8)
        c = i % 3
        n = 1024 if c == 1 else 256
        want = float(bts[np.arange(n) % len(bts)].mean())
        r = got[i]
        assert abs(r["mean_value"] - want) < 1e-9, i
        assert r["width"] == (32 if c == 1 else 16)
        assert r["n_samples"] == (2 if c == 1 else 1)


def test_canonical_url_equivalence_classes(spark):
    """URL canonicalization (round 10): every normalization axis —
    case, www, default ports, duplicate/trailing slashes, fragments,
    tracking params, parameter order — maps equivalent fetches to ONE
    key, while genuinely different URLs stay distinct."""
    from climate_data_pipeline_spark.operators.text import (
        canonical_url,
        url_dedup,
    )

    rows = [
        (1, "HTTPS://WWW.Example.COM:443/a//b/?utm_source=x&b=2&a=1"
            "&fbclid=z#frag"),
        (2, "https://example.com/a/b?a=1&b=2"),
        (3, "http://Example.com:80/"),
        (4, "http://example.com"),
        (5, "https://example.com/a/b/"),
        (6, "https://sub.example.com/path?ref=tw&id=9"),
        (7, "ftp://Files.Example.com:21/pub/"),
        (8, "https://example.com:443/a/b?b=2&a=1&utm_campaign=c"),
        (9, "https://example.com/a/b?a=2&b=2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    canon = {r.doc_id: r.c for r in
             df.select("doc_id",
                       canonical_url("url").alias("c")).collect()}
    assert canon[1] == canon[2] == canon[8] \
        == "https://example.com/a/b?a=1&b=2"
    assert canon[3] == canon[4] == "http://example.com/"
    assert canon[5] == "https://example.com/a/b"
    assert canon[6] == "https://sub.example.com/path?id=9"
    # non-default port and non-http scheme are preserved
    assert canon[7] == "ftp://files.example.com:21/pub"
    assert canon[9] == "https://example.com/a/b?a=2&b=2"
    dedup = {r.canon_url: (r.keep_doc_id, r.n_fetches)
             for r in url_dedup(df, "url", "doc_id").collect()}
    assert dedup["https://example.com/a/b?a=1&b=2"] == (1, 3)
    assert dedup["http://example.com/"] == (3, 2)


def test_robots_rfc9309_semantics():
    """RFC 9309 evaluation pinned directly: group selection (longest
    matching agent token, * fallback, no-group default-allow),
    longest-match specificity with Allow winning ties, wildcard runs,
    $-anchoring, empty-Disallow dropping, comment/unknown-directive
    handling, and the agent-run grammar (a rule line closes the
    User-agent run)."""
    from climate_data_pipeline_spark.sources.warc import (
        parse_robots,
        robots_decision,
    )

    body = (
        "# header comment\n"
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Allow: /private/ok\n"
        "\n"
        "User-agent: trainbot\n"
        "User-agent: otherbot\n"
        "Disallow: /t/\n"
        "Allow: /t/data*.json$\n"
        "Crawl-delay: 5\n"
        "Disallow:\n"           # empty value: permits, never matches
        "Sitemap: https://x/sitemap.xml\n"
    )
    rules = parse_robots(body)
    # both agents of the shared group got both rules
    assert ("otherbot", "disallow", "/t/") in rules
    dec = robots_decision
    assert dec(rules, "TrainBot", "/t/x") is False          # case-ins.
    assert dec(rules, "trainbot", "/t/data1.json") is True  # $-anchor
    assert dec(rules, "trainbot", "/t/data1.jsonx") is False
    assert dec(rules, "trainbot-v2", "/t/x") is False       # prefix
    assert dec(rules, "trainbot", "/private/x") is True     # own group
    assert dec(rules, "randombot", "/private/x") is False   # * group
    assert dec(rules, "randombot", "/private/okay") is True # tie→allow
    assert dec(rules, "randombot", "/pub") is True          # no match
    assert dec([], "anybot", "/anything") is True           # no rules
    # a rule line closes the agent run: a later User-agent opens a NEW
    # group rather than extending the previous one
    two = parse_robots("User-agent: a\nDisallow: /x/\n"
                       "User-agent: b\nDisallow: /y/\n")
    assert dec(two, "a", "/y/z") is True
    assert dec(two, "b", "/y/z") is False
    # r11 (ADVICE fix): an UNKNOWN directive between groups also closes
    # the agent run — the next User-agent opens a new group instead of
    # merging into the previous one and inheriting its rules
    three = parse_robots("User-agent: a\nDisallow: /x/\n"
                         "Clean-param: utm_source\n"
                         "User-agent: b\nDisallow: /y/\n")
    assert dec(three, "b", "/x/z") is True
    assert dec(three, "a", "/y/z") is True
    assert dec(three, "b", "/y/z") is False


def test_robots_screen_missing_host_allows(spark):
    """robots_screen: a candidate whose host has no robots row is
    allowed (RFC unavailable-file rule); present hosts evaluate."""
    from climate_data_pipeline_spark.sources.warc import robots_screen

    cand = spark.createDataFrame(
        [(1, "a.com", "/private/x"), (2, "a.com", "/pub"),
         (3, "nofile.com", "/private/x")],
        "doc_id long, host string, path string")
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string")
    got = {r.doc_id: r.allowed
           for r in robots_screen(cand, robots, "anybot").collect()}
    assert got == {1: False, 2: True, 3: True}


def test_sitemap_parse_edge_cases():
    """sitemaps.org parsing: namespaced and bare documents, optional
    fields, loc-less entries skipped, sitemapindex kind, malformed XML
    and non-sitemap roots loud."""
    import pytest as _pt

    from climate_data_pipeline_spark.sources.warc import parse_sitemap

    ns = ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'
    doc = (f'<?xml version="1.0"?><urlset{ns}>'
           "<url><loc>https://e.com/a</loc><lastmod>2024-01-02"
           "</lastmod><changefreq>daily</changefreq>"
           "<priority>0.8</priority></url>"
           "<url><loc> https://e.com/b </loc></url>"
           "<url><lastmod>2024-01-01</lastmod></url>"
           "</urlset>")
    got = parse_sitemap(doc)
    assert len(got) == 2                      # loc-less entry skipped
    assert got[0] == {"kind": "urlset", "loc": "https://e.com/a",
                      "lastmod": "2024-01-02", "changefreq": "daily",
                      "priority": 0.8}
    assert got[1]["loc"] == "https://e.com/b"   # whitespace trimmed
    assert got[1]["priority"] is None
    idx = ("<sitemapindex><sitemap><loc>https://e.com/s1.xml</loc>"
           "</sitemap></sitemapindex>")
    assert parse_sitemap(idx)[0]["kind"] == "sitemapindex"
    with _pt.raises(ValueError, match="not a sitemap"):
        parse_sitemap("<html></html>")
    with _pt.raises(ValueError, match="malformed"):
        parse_sitemap("<urlset><url>")


def test_main_content_link_density(spark):
    """main_content: link farms (nav/footer), short blocks and
    link-heavy asides drop; running text and headings stay; escaped
    entities round-trip (&lt; before &amp; so a literal '&lt;' in the
    source survives); the density ratio is exact integer arithmetic."""
    from climate_data_pipeline_spark.operators.text import main_content

    html = ('<body><nav><a>One</a> <a>Two</a> <a>Three</a></nav>'
            '<h1>A heading long enough to pass the bar</h1>'
            '<p>Running text with a literal &amp;lt; marker and an '
            '&amp; ampersand, plus <a href="u">a link</a> inside.</p>'
            '<p>short</p>'
            '<footer><a>Privacy</a> <a>Terms</a></footer></body>')
    r = (spark.createDataFrame([(1, html)], "i long, html string")
              .select(main_content("html").alias("mc"))
              .select("mc.*").first())
    assert r.n_blocks == 5
    assert r.n_kept == 2
    assert r.main_text == ("A heading long enough to pass the bar "
                           "Running text with a literal &lt; marker "
                           "and an & ampersand, plus a link inside.")
    # a block that is MOSTLY one long link still drops at any length
    linky = ('<body><p><a href="u">' + "x" * 100 + '</a> tail</p>'
             '<p>' + "y " * 30 + '</p></body>')
    r2 = (spark.createDataFrame([(1, linky)], "i long, html string")
               .select(main_content("html").alias("mc"))
               .select("mc.*").first())
    assert r2.n_kept == 1 and r2.main_text.startswith("y y")
