"""Deterministic sampling and dataset splitting (beyond-reference
extension for training-data pipelines).

Training pipelines need train/val/test assignment that is (a) stable
across runs and cluster sizes — re-running on 10 or 1000 executors must
give byte-identical splits, (b) a pure per-row map — no shuffle, no
global state, streams through 100 TB — and (c) portable, so any engine
(here: DuckDB as the oracle) derives the same assignment.

Spark's ``df.sample``/``sampleBy`` fail (a) and (c): they draw from a
partition-seeded RNG, so results change with partitioning. Instead we
bucket each row by a cryptographic hash of its id — ``md5`` is available
and bit-identical in Spark, DuckDB, and every warehouse engine — and cut
bucket ranges per split. Hash quality makes bucket occupancy uniform to
within sampling noise, so split sizes track the requested weights.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_BUCKETS = 10_000


def hash_bucket(id_col: Column | str, n_buckets: int = N_BUCKETS,
                salt: str = "") -> Column:
    """Uniform bucket in [0, n_buckets) from md5 of the id (+ optional
    salt — distinct salts give independent assignments). First 8 hex
    chars → 32-bit int → mod: portable SQL is
    ``('0x' || substr(md5(id::VARCHAR || salt), 1, 8))::BIGINT % n``."""
    key = F.concat(F.col(id_col).cast("string"), F.lit(salt)) \
        if isinstance(id_col, str) else F.concat(id_col.cast("string"),
                                                 F.lit(salt))
    return (F.conv(F.substring(F.md5(key), 1, 8), 16, 10)
             .cast("long") % n_buckets)


def sql_hash_bucket(id_expr: str, n_buckets: int = N_BUCKETS,
                    salt: str = "") -> str:
    """The DuckDB-side expression equivalent to :func:`hash_bucket` —
    kept adjacent so the two definitions can't drift."""
    key = f"CAST({id_expr} AS VARCHAR) || '{salt}'" if salt \
        else f"CAST({id_expr} AS VARCHAR)"
    return f"CAST(('0x' || substr(md5({key}), 1, 8)) AS BIGINT) % {n_buckets}"


def deterministic_split(df: DataFrame, id_col: str,
                        weights: dict[str, float],
                        salt: str = "") -> DataFrame:
    """Assign every row to a named split by hash-bucket range; weights
    must sum to 1. Adds a ``split`` column; narrow (no shuffle), stable
    under any partitioning, and re-derivable by any engine."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bucket = hash_bucket(id_col, salt=salt)
    cuts, acc = [], 0.0
    for name, w in weights.items():
        acc += w
        cuts.append((name, int(round(acc * N_BUCKETS))))
    case = None
    for name, hi in cuts:
        cond = bucket < hi
        case = F.when(cond, F.lit(name)) if case is None \
            else case.when(cond, F.lit(name))
    return df.withColumn("split", case)


def sql_split_case(id_expr: str, weights: dict[str, float],
                   salt: str = "") -> str:
    """DuckDB CASE expression mirroring :func:`deterministic_split`."""
    b = sql_hash_bucket(id_expr, salt=salt)
    acc, arms = 0.0, []
    for name, w in weights.items():
        acc += w
        arms.append(f"WHEN {b} < {int(round(acc * N_BUCKETS))} THEN '{name}'")
    return "CASE " + " ".join(arms) + " END"


def deterministic_sample(df: DataFrame, id_col: str, fraction: float,
                         salt: str = "") -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by hash bucket — deterministic,
    partition-independent, and consistent across tables sharing the id
    (sampling users samples *all* rows of each kept user if keyed on the
    user id — the standard correlated-sampling trick)."""
    return df.where(hash_bucket(id_col, salt=salt)
                    < int(round(fraction * N_BUCKETS)))


def sql_sample_pred(id_expr: str, fraction: float, salt: str = "") -> str:
    """DuckDB predicate mirroring :func:`deterministic_sample`."""
    return (f"{sql_hash_bucket(id_expr, salt=salt)} "
            f"< {int(round(fraction * N_BUCKETS))}")


def quota_sample(df: DataFrame, key_cols: list[str], id_col: str,
                 n_per_key: int, salt: str = "") -> DataFrame:
    """Exactly min(n, group size) rows per key — balanced-quota sampling
    (e.g. capping each language/source at N documents so head groups
    don't drown the tail in a training mix).

    Rows are ranked inside each key by md5 of their id: a deterministic,
    engine-portable pseudo-random order (same discipline as
    :func:`hash_bucket`), so the selected set is stable across runs,
    partitionings, and engines — ``df.sampleBy`` can promise none of
    those, and can't promise exact quotas either. One shuffle on the
    key columns; the rank window never materializes more than a
    partition."""
    from pyspark.sql import Window

    order_key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    w = (Window.partitionBy(*key_cols)
               .orderBy(order_key.asc(), F.col(id_col).asc()))
    return (df.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") <= n_per_key).drop("__rn"))


def sql_quota_pred(id_expr: str, key_cols: list[str], n_per_key: int,
                   salt: str = "") -> str:
    """DuckDB QUALIFY clause mirroring :func:`quota_sample`."""
    key = f"CAST({id_expr} AS VARCHAR) || '{salt}'" if salt \
        else f"CAST({id_expr} AS VARCHAR)"
    return (f"QUALIFY ROW_NUMBER() OVER (PARTITION BY {', '.join(key_cols)} "
            f"ORDER BY md5({key}) ASC, {id_expr} ASC) <= {n_per_key}")


def weighted_sample(df: DataFrame, key_cols: list[str], id_col: str,
                    weight_col: str, n_per_key: int,
                    salt: str = "") -> DataFrame:
    """Exactly min(n, group size) rows per key with inclusion probability
    proportional to weight — weighted reservoir sampling in its
    one-shot form (Efraimidis-Spirakis A-Res): each row draws a
    deterministic uniform u from md5 of its id and ranks by
    ln(u)/w (equivalent to u^(1/w)); the top n per key are exactly a
    w-weighted sample without replacement.

    Same engine-portability discipline as :func:`quota_sample`: u comes
    from the hash, not an RNG, so the selection is stable across runs,
    partitionings and engines. Rows with non-positive weight are
    excluded (they have zero inclusion probability). One shuffle on the
    key columns. Rank keys are well-separated random doubles, so libm
    vs JVM ulp differences in ln() cannot realistically reorder them;
    the id tie-break pins the order regardless."""
    from pyspark.sql import Window

    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    # 52 hash bits → uniform in (0, 1), strictly inside the open interval
    u = ((F.conv(F.substring(h, 1, 13), 16, 10).cast("double") + 1.0)
         / float((1 << 52) + 2))
    rank_key = F.log(u) / F.col(weight_col)
    w = (Window.partitionBy(*key_cols)
               .orderBy(rank_key.desc(), F.col(id_col).asc()))
    return (df.where(F.col(weight_col) > 0)
              .withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") <= n_per_key).drop("__rn"))


def sql_weighted_pred(id_expr: str, key_cols: list[str], weight_expr: str,
                      n_per_key: int, salt: str = "") -> str:
    """DuckDB QUALIFY clause mirroring :func:`weighted_sample` (pair with
    ``WHERE {weight_expr} > 0``)."""
    key = f"CAST({id_expr} AS VARCHAR) || '{salt}'" if salt \
        else f"CAST({id_expr} AS VARCHAR)"
    u = (f"(CAST(('0x' || substr(md5({key}), 1, 13)) AS BIGINT) + 1.0)"
         f" / {float((1 << 52) + 2)}")
    return (f"QUALIFY ROW_NUMBER() OVER (PARTITION BY {', '.join(key_cols)} "
            f"ORDER BY ln({u}) / ({weight_expr}) DESC, {id_expr} ASC)"
            f" <= {n_per_key}")


def token_budget_mix(df: DataFrame, source_col: str, id_col: str,
                     token_col: str, budgets: dict[str, int],
                     salt: str = "") -> DataFrame:
    """Deterministic corpus mixing to per-source token budgets: within
    each source, documents are taken in md5 order until the running
    token total would exceed the source's budget (the overflowing
    document is dropped, not truncated). Sources absent from
    ``budgets`` are excluded.

    This is the standard "mix N billion tokens of web + code + books"
    step of a training-data pipeline, made reproducible: md5 order means
    the same documents are chosen on any engine, cluster size, or rerun.
    One shuffle on the source column; the running sum is a window over
    the same partitioning."""
    from pyspark.sql import Window

    budget = None
    for src, b in sorted(budgets.items()):
        cond = F.col(source_col) == src
        budget = (F.when(cond, F.lit(int(b))) if budget is None
                  else budget.when(cond, F.lit(int(b))))
    order_key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    w = (Window.partitionBy(source_col)
               .orderBy(order_key.asc(), F.col(id_col).asc())
               .rowsBetween(Window.unboundedPreceding, 0))
    return (df.withColumn("__budget", budget)
              .where(F.col("__budget").isNotNull())
              .withColumn("__cum", F.sum(F.col(token_col)).over(w))
              .where(F.col("__cum") <= F.col("__budget"))
              .drop("__budget", "__cum"))


def temperature_weights(df: DataFrame, group_col: str, token_col: str,
                        alpha: float = 0.3) -> DataFrame:
    """Temperature-scaled sampling weights per group (the mBERT/XLM-R
    multilingual rebalancing rule): with p_g = group's token share,
    sample groups proportionally to p_g^α, α < 1 flattening the
    distribution so head languages/sources stop drowning the tail.
    ``factor`` (= q_g / p_g) is the per-document up/down-sampling
    multiplier a mixing stage applies.

    One grouped aggregation; the corpus total and the Σ p^α partition
    function fold in as broadcast one-row aggregates (no driver-side
    counts, fully lazy). Exponentiation happens on rounded shares, and
    the partition function sums those shares as exact nano-scaled
    integers; every rounded value is a RATIONAL (ratios of integer
    sums), so the tie-portable ``round_port`` (integer-unit rounding)
    is used throughout — plain round(x, s) diverges between engines on
    exact decimal ties, and a p/q/factor tie would cascade into
    ``temperature_resample``'s copy multiset.

    Output: (group, n_docs, n_tokens, p, q, factor)."""
    from ..functions.exact import round_port

    g = (df.groupBy(F.col(group_col).alias("group"))
           .agg(F.count("*").alias("n_docs"),
                F.sum(token_col).alias("n_tokens")))
    tot = g.agg(F.sum("n_tokens").alias("__tot"))
    p = round_port(F.col("n_tokens") / F.col("__tot"), 9)
    shares = (g.crossJoin(F.broadcast(tot))
                .withColumn("p", p)
                .withColumn("__pa",
                            round_port(F.pow("p", F.lit(alpha)), 9)))
    z = shares.agg(F.sum(F.round(F.col("__pa") * 1e9).cast("long"))
                    .alias("__zn"))
    q = round_port(F.col("__pa") / (F.col("__zn") / 1e9), 9)
    return (shares.crossJoin(F.broadcast(z))
                  .withColumn("q", q)
                  .select("group", "n_docs", "n_tokens", "p", "q",
                          round_port(F.col("q") / F.col("p"), 6)
                           .alias("factor")))


def temperature_resample(df: DataFrame, group_col: str, id_col: str,
                         token_col: str, alpha: float = 0.3,
                         salt: str = "") -> DataFrame:
    """Materialize the temperature-scaled mix: every document is kept
    ``floor(factor)`` times plus one more with probability
    ``frac(factor)``, where factor is its group's up/down-sampling
    multiplier from :func:`temperature_weights`. The stochastic part
    uses the md5 uniform (id + salt), so the exact replicated corpus —
    which rows, how many copies — is deterministic on any engine or
    cluster size, and E[group tokens] matches the α-flattened target.

    Plan: the 6-row factor table broadcast-joins back onto the corpus;
    copies come from one bounded ``sequence`` explode (≤ ⌈factor⌉ per
    row). Rows in downweighted groups drop when their uniform falls
    above frac(factor) and floor = 0.

    Output: input columns + (n_copies, repeat_idx), one row per copy."""
    wts = (temperature_weights(
        df.select(F.col(group_col).alias("group"),
                  F.col(token_col)), "group", token_col, alpha)
        .select(F.col("group").alias("__g"), "factor"))
    u = hash_bucket(F.col(id_col), 1_000_000, salt + ":tmp") / 1.0e6
    frac = F.col("factor") - F.floor("factor")
    n_copies = (F.floor("factor")
                + F.when(u < frac, F.lit(1)).otherwise(F.lit(0))) \
        .cast("long")
    out_cols = df.columns
    return (df.join(F.broadcast(wts), F.col(group_col) == F.col("__g"))
              .withColumn("n_copies", n_copies)
              .where(F.col("n_copies") >= 1)
              .select(*out_cols, "n_copies",
                      F.explode(F.sequence(F.lit(1), F.col("n_copies")))
                       .alias("repeat_idx")))


def training_shards(df: DataFrame, id_col: str, n_shards: int,
                    salt: str = "") -> DataFrame:
    """The final deterministic shuffle before training: assign every row
    a shard in [0, n_shards) and a position within its shard, both
    md5-derived — the same (shard, pos) on any engine, cluster size, or
    rerun, so a training run is exactly reproducible from the manifest.
    Ordering by an independent md5 key *within* the shard interleaves
    sources/languages/time uniformly (the "global shuffle" data loaders
    need) without any global sort.

    Scale shape: one shuffle onto the shard key; per-shard sort is the
    write-side ``repartition(n_shards, shard).sortWithinPartitions``
    unit — shard count is chosen as the write parallelism (hundreds to
    thousands at 100 TB), so the window partitioning is exactly the
    layout the files need anyway. Distinct salts give independent
    epochs."""
    from pyspark.sql import Window

    shard = hash_bucket(id_col, n_shards, salt + ":shard")
    okey = F.md5(F.concat(F.col(id_col).cast("string"),
                          F.lit(salt + ":pos")))
    w = (Window.partitionBy("shard")
               .orderBy(okey.asc(), F.col(id_col).asc()))
    return (df.withColumn("shard", shard.cast("int"))
              .withColumn("pos", F.row_number().over(w).cast("long")))


def leakage_safe_split(df: DataFrame, id_col: str, group_col: Column | str,
                       weights: dict[str, float],
                       salt: str = "") -> DataFrame:
    """Deterministic split with a leakage guarantee: all rows sharing a
    duplicate-group key land in the SAME split, so near-identical
    documents can never sit on both sides of a train/eval boundary
    (the contamination mode that inflates evals silently).

    The split key is the group's minimum id (a stable representative,
    computed with one aggregation + broadcast-friendly join back), then
    the usual hash-bucket assignment. ``group_col`` is any duplicate
    key: a content fingerprint for exact dups, a MinHash/SimHash
    cluster id for near-dups (compose with `dedup.duplicate_clusters`).
    Two shuffles total (group-min agg + join); at 100 TB the group table
    is #distinct-groups rows — usually broadcastable."""
    from pyspark.sql import functions as F  # noqa: F811

    gcol = F.col(group_col) if isinstance(group_col, str) else group_col
    # null keys (e.g. md5 of a null text) form ONE group, like SQL's
    # PARTITION BY — a plain equi-join would drop them (null != null),
    # silently losing rows from both splits
    keyed = df.withColumn(
        "__g", F.coalesce(gcol.cast("string"), F.lit("\x00__null__")))
    reps = keyed.groupBy("__g").agg(F.min(id_col).alias("__rep"))
    joined = keyed.join(reps, "__g")
    out = deterministic_split(joined.withColumnRenamed(id_col, "__id_tmp")
                              .withColumnRenamed("__rep", id_col),
                              id_col, weights, salt=salt)
    return (out.withColumnRenamed(id_col, "__rep")
               .withColumnRenamed("__id_tmp", id_col)
               .drop("__g", "__rep"))


def dsir_importance_weights(df: DataFrame, text_col: str, id_col: str,
                            is_target: Column,
                            n_features: int = 4096) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — public method):
    fit bag-of-hashed-bigram unigram models for a small TARGET corpus p
    and the RAW pool q, then score every raw document with

        log w(x) = Σ_grams log p̂(bucket) − log q̂(bucket)

    using add-one smoothing over ``n_features`` hash buckets. High
    weight = looks like the target distribution; resample the pool by
    weight to skew a 100 TB crawl toward a curated domain.

    Plan shape: the corpus is TOKENIZED exactly ONCE — the hashed
    bigram stream (doc id, target flag, bucket) persists
    (MEMORY_AND_DISK, the classic write-features-once DSIR shape) and
    feeds both the conditional-count hash agg (target and raw counts
    in the same pass, bounded at ``n_features`` rows however big the
    corpus is) and the scoring stream. Totals come from a
    single-partition window over the ``n_features``-row count table
    (never a second corpus pass, never an eager ``.count()``); the
    token stream then pays exactly one broadcast equi-join + one
    grouped sum. Per-gram log-ratios are rounded to integer micro-nats
    BEFORE the per-document sum (the scaled-long exact-sum
    discipline), so scores are partition-order invariant and
    engine-portable. No UDFs; linear in corpus tokens.

    Returns (id, n_grams, sum_logw_micro, logw) for EVERY raw (i.e.
    non-target) document — including those with fewer than 2 words,
    which carry no bigram evidence and get the neutral weight
    (n_grams 0, logw 0.0) instead of silently vanishing from the
    output (a downstream resampler inner-joining weights back must
    never lose short documents).
    """
    from pyspark.sql import Window

    from .text import words

    w = words(text_col)
    grams = (df.withColumn("__ws", w)
               .withColumn("__t", is_target)
               .select(F.col(id_col).alias("__id"), "__t",
                       F.explode(F.zip_with(
                           F.slice("__ws", 1, F.greatest(
                               F.size("__ws") - 1, F.lit(0))),
                           F.slice("__ws", 2, F.greatest(
                               F.size("__ws") - 1, F.lit(0))),
                           lambda a, b: F.concat(a, F.lit(" "), b)))
                       .alias("__g")))
    from pyspark import StorageLevel
    # session-scoped cache: the feature stream feeds BOTH the count agg
    # and the scoring join, so the corpus is tokenized exactly once; it
    # stays registered until the session ends (or storage-pressure
    # eviction) — callers scoring many corpora in one long-lived
    # session should spark.catalog.clearCache() between runs
    feat = (grams.withColumn("__f", hash_bucket(F.col("__g"), n_features,
                                                salt=":dsir"))
                 .select("__id", "__t", "__f")
                 .persist(StorageLevel.MEMORY_AND_DISK))
    counts = (feat.groupBy("__f")
                  .agg(F.sum(F.when(F.col("__t"), 1).otherwise(0))
                        .alias("__tc"),
                       F.sum(F.when(~F.col("__t"), 1).otherwise(0))
                        .alias("__rc")))
    buckets = (df.sparkSession.range(n_features)
                 .select(F.col("id").cast("long").alias("__f")))
    # totals via a window over the n_features-row count table: the
    # corpus-derived agg is consumed once, never recomputed per scalar
    wall = Window.partitionBy()
    filled = (buckets.join(counts, "__f", "left")
                     .select("__f",
                             F.coalesce("__tc", F.lit(0)).alias("__tc"),
                             F.coalesce("__rc", F.lit(0)).alias("__rc"))
                     .withColumn("__tt", F.sum("__tc").over(wall))
                     .withColumn("__rt", F.sum("__rc").over(wall)))
    logratio = (F.log((F.col("__tc") + F.lit(1.0))
                      / (F.col("__tt") + F.lit(float(n_features))))
                - F.log((F.col("__rc") + F.lit(1.0))
                        / (F.col("__rt") + F.lit(float(n_features)))))
    lm = filled.select("__f", F.round(logratio * 1e6).cast("long")
                       .alias("__lw"))
    scored = (feat.where(~F.col("__t"))
                  .join(F.broadcast(lm), "__f")
                  .groupBy("__id")
                  .agg(F.count("*").alias("n_grams"),
                       F.sum("__lw").alias("sum_logw_micro")))
    raw_ids = (df.withColumn("__t", is_target).where(~F.col("__t"))
                 .select(F.col(id_col).alias("__id")))
    return (raw_ids.join(scored, "__id", "left")
                   .select(F.col("__id").alias(id_col),
                           F.coalesce("n_grams", F.lit(0))
                            .cast("long").alias("n_grams"),
                           F.coalesce("sum_logw_micro", F.lit(0))
                            .cast("long").alias("sum_logw_micro"),
                           (F.coalesce("sum_logw_micro", F.lit(0)) / 1e6)
                           .alias("logw")))
