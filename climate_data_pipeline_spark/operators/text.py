"""Text analysis for training-data pipelines (beyond-reference extension,
build-plan step 9): tokenization, token counting, quality scoring,
language ID, document fingerprinting.

All operators are pure built-in column expressions (split / filter /
transform / regexp_count / md5) — no Python UDFs, so they run inside
whole-stage codegen and scale linearly with partitions. Deterministic by
construction (integer counts, rational arithmetic, md5), so every one has
an exact DuckDB oracle.
"""

from __future__ import annotations

import itertools
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

WORD_SPLIT = "[^a-z0-9]+"
# BPE-ish pieces: runs of ≤4 alphanumerics, or a single non-space symbol
BPE_PIECE = "[a-z0-9]{1,4}|[^a-z0-9\\s]"

# Small marker lexicons for the n-gram/stopword language heuristic.
# (The driver's synthetic documents carry a lang *label*; the heuristic is
# the deterministic scoring machinery a real pipeline would back with
# proper lexicons.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en": ("the", "a", "and", "of", "to", "in", "is", "that"),
    "es": ("el", "la", "de", "los", "y", "en", "que", "un"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "des"),
    "zh": ("de", "shi", "bu", "le", "zai", "you", "wo", "ta"),
}

ENGLISH_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is",
                     "it", "that", "this", "for", "on", "with", "as", "at")

def _spread(df: DataFrame) -> DataFrame:
    """Rebalance a DataFrame whose scan yields fewer partitions than the
    cluster has slots — the case for small/compacted inputs (a single
    parquet row group scans as ONE task, serializing the CPU-heavy
    tokenize/explode that follows; measured 13× on the sf0.1
    contamination scan). The shuffle moves only raw rows (tiny next to
    the shingle explosion downstream) and doubles as doc-length skew
    balancing; when the source already has enough splits — the 100 TB
    case — it is a no-op.

    The split estimate comes from ``inputFiles()`` + file sizes — a
    driver-side metadata peek (the file index is already materialized by
    the scan). NOT ``df.rdd.getNumPartitions()``: converting the plan to
    an RDD costs seconds per query build. Non-file or remote sources
    fall through untouched (conservative: never add a shuffle we can't
    size)."""
    import os
    import re
    from urllib.parse import urlparse

    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        files = df.inputFiles()
        if not files:
            return df
        raw = df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728b")
        # the conf surfaces with a size suffix ("4m", "128MB",
        # "134217728b") — parse it as Spark does; a bare-digit strip
        # would read "4m" as 4 BYTES and silently no-op the rebalance
        mm = re.fullmatch(r"(\d+)\s*([kmgtp]?)b?",
                          str(raw).strip().lower())
        if not mm:
            return df
        mpb = int(mm.group(1)) * (1024 ** " kmgtp".index(mm.group(2) or " "))
        splits = 0
        for f in files:
            p = urlparse(f)
            if p.scheme not in ("", "file"):
                return df
            size = os.path.getsize(p.path)
            splits += max(1, -(-size // mpb))
            if splits >= target:
                return df
    except OSError:
        return df
    return df.repartition(target)


def words(text: Column | str) -> Column:
    """Lowercased word array (split on non-alphanumerics, empties dropped)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), WORD_SPLIT), lambda w: w != "")


def tokenize(df: DataFrame, text_col: str, alias: str = "words") -> DataFrame:
    return df.withColumn(alias, words(text_col))


def token_stats(df: DataFrame, text_col: str) -> DataFrame:
    """Token counting: whitespace words + BPE-ish sub-word piece count
    (greedy ≤4-char runs — a deterministic stand-in for a real BPE vocab)."""
    w = words(text_col)
    return (df.withColumn("n_chars_text", F.length(text_col).cast("long"))
              .withColumn("n_words", F.size(w).cast("long"))
              .withColumn("n_tokens_bpe",
                          F.regexp_count(F.lower(F.col(text_col)),
                                         F.lit(BPE_PIECE)).cast("long")))


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Repetition-based quality signals in the style of the public Gopher
    filtering rules (Rae et al. 2021): the share of a document taken by
    its most frequent word / most frequent word-bigram, and the fraction
    of word occurrences that are repeats. High values flag boilerplate
    and template spam before training.

    Shape at scale: explode → count per (doc, gram) → per-doc max/sum.
    Shuffle volume ∝ distinct (doc, gram) pairs — the gram counting never
    leaves the doc key, so there is no hot global key and no |corpus|²
    term. All outputs are ratios of exact integer counts (single double
    division), so the whole thing is DuckDB-oracle-checkable.
    """
    # stage the tokenizer once: as a raw expression, words() would
    # re-inline inside the bigram transform lambda (2 element_at per
    # bigram, each re-running the regex split) — 11 s -> ~1.5 s at sf0.1
    staged = df.withColumn("__ws", words(text_col))
    w = F.col("__ws")
    bigrams = _ngrams(w, 2)   # one shared adjacent-pair construction

    def per_doc(gram_col, top_alias, extra=()):
        g = staged.select(F.col(id_col).alias("id"),
                          F.explode(gram_col).alias("g"))
        counts = g.groupBy("id", "g").agg(F.count("*").alias("c"))
        aggs = [(F.max("c") / F.sum("c")).alias(top_alias), *extra]
        return counts.groupBy("id").agg(*aggs)

    wagg = per_doc(w, "top_word_share",
                   extra=[F.sum("c").alias("n_words"),
                          ((F.sum("c") - F.count("*")) / F.sum("c"))
                          .alias("dup_word_frac")])
    bagg = per_doc(bigrams, "top_bigram_share")
    return (df.select(F.col(id_col).alias("id"))
              .join(wagg, "id", "left").join(bagg, "id", "left")
              .select(F.col("id").alias(id_col),
                      F.coalesce("n_words", F.lit(0)).alias("n_words"),
                      F.coalesce("dup_word_frac", F.lit(0.0))
                       .alias("dup_word_frac"),
                      F.coalesce("top_word_share", F.lit(0.0))
                       .alias("top_word_share"),
                      F.coalesce("top_bigram_share", F.lit(0.0))
                       .alias("top_bigram_share")))


# PII-ish patterns, kept to the regex subset with identical semantics in
# Java regex (Spark) and RE2 (DuckDB): no lookaround, no backrefs.
PII_PATTERNS: dict[str, str] = {
    "email": "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}",
    "url": "https?://[^\\s]+",
    "number_run": "[0-9]{4,}",
}


def pii_scan(df: DataFrame, text_col: str, id_col: str,
             patterns: dict[str, str] = PII_PATTERNS) -> DataFrame:
    """Per-document PII-ish pattern counts plus the redacted length — the
    scrub-before-training pass. Pure ``regexp_count``/``regexp_replace``
    column expressions (whole-stage codegen, no shuffle at all until a
    consumer aggregates); patterns are applied to the lowercased text so
    both engines share one case rule. ``n_chars_redacted`` binds the
    *positions* of every match, not just the counts: it only hash-matches
    if both engines matched the same spans."""
    lower = F.lower(F.col(text_col))
    redacted = lower
    for name, p in patterns.items():
        redacted = F.regexp_replace(redacted, p, f"<{name}>")
    return df.select(F.col(id_col),
                     *[F.regexp_count(lower, F.lit(p)).cast("long")
                        .alias(f"n_{name}") for name, p in patterns.items()],
                     F.length(redacted).cast("long")
                      .alias("n_chars_redacted"))


def quality_score(df: DataFrame, text_col: str,
                  alias: str = "quality_score") -> DataFrame:
    """Heuristic document quality in [0,1]: favors stopword-bearing prose
    of moderate word length with little punctuation. Components are exact
    integer ratios; the blend is fixed-weight rational arithmetic."""
    # stage the tokenizer once (see gopher_rules/char_entropy: raw
    # expressions re-inline at every use site)
    staged = df.withColumn("__ws", words(text_col))
    w = F.col("__ws")
    lower = F.lower(F.col(text_col))
    n_words = F.size(w)
    n_stop = F.size(F.filter(
        w, lambda x: F.array_contains(F.array(*[F.lit(s) for s in ENGLISH_STOPWORDS]), x)))
    word_chars = F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x))
    n_punct = F.length(F.regexp_replace(lower, "[a-z0-9\\s]", ""))
    stop_ratio = n_stop / F.greatest(n_words, F.lit(1))
    avg_word_len = word_chars / F.greatest(n_words, F.lit(1))
    punct_ratio = n_punct / F.greatest(F.length(F.col(text_col)), F.lit(1))
    score = (F.lit(0.4) * stop_ratio
             + F.lit(0.3) * F.least(avg_word_len / F.lit(8.0), F.lit(1.0))
             + F.lit(0.3) * (F.lit(1.0) - punct_ratio))
    return (staged.withColumn("stopword_ratio", stop_ratio)
                  .withColumn("avg_word_len", avg_word_len)
                  .withColumn("punct_ratio", punct_ratio)
                  .withColumn(alias, score)
                  .drop("__ws"))


def language_id(df: DataFrame, text_col: str,
                alias: str = "lang_pred") -> DataFrame:
    """Marker-lexicon language scoring with a deterministic alphabetical
    tie-break. Scores are duplicate-weighted marker counts — pure array
    ops, one pass, no shuffle."""
    w = words(text_col)
    langs = sorted(LANG_MARKERS)
    out = df
    for lang in langs:
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        out = out.withColumn(
            f"score_{lang}",
            F.size(F.filter(w, lambda x: F.array_contains(markers, x))).cast("long"))
    pred = None
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = F.col(f"score_{lang}") >= F.col(f"score_{other}")
            cond = c if cond is None else cond & c
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    return out.withColumn(alias, pred.otherwise(langs[-1]))


def fingerprint(df: DataFrame, text_col: str,
                alias: str = "fingerprint") -> DataFrame:
    """Content fingerprint: md5 of the whitespace-normalized lowercase
    word stream — invariant to case/punctuation/whitespace variations,
    the canonical key for exact dedup."""
    return df.withColumn(alias, F.md5(F.concat_ws(" ", words(text_col))))


# winnowing constants: Karp-Rabin base/modulus picked so every
# intermediate fits int64 exactly in BOTH engines (h < M = 2^31-1,
# term ≤ 255·M < 2^39, k-term sum < 2^42)
_WINNOW_B = 257
_WINNOW_M = (1 << 31) - 1


def winnow_fingerprints(df: DataFrame, text_col: str, id_col: str,
                        k: int = 5, w: int = 4) -> DataFrame:
    """Document fingerprinting by WINNOWING (Schleimer, Wilkerson,
    Aiken — "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003; the MOSS algorithm): Karp-Rabin hashes of the
    character ``k``-grams of the normalized text, then the RIGHTMOST
    MINIMUM of every ``w``-window of consecutive hashes is selected —
    guaranteeing any shared substring of length ≥ k+w−1 contributes at
    least one IDENTICAL (hash) fingerprint in both documents, while
    keeping ~2/(w+1) of positions. The local-match primitive under
    plagiarism / training-data contamination detection, where
    whole-document hashes (``fingerprint``) and bag-of-shingles
    (MinHash) both miss copied REGIONS.

    Spark-first shape (r12): winnowing is PER-DOCUMENT LOCAL, so the
    whole selection runs inside one projection with higher-order
    functions — per-position closed-form k-gram hashes
    (``ascii(substring)·Bᵉ mod M``), the rightmost-min tie rule encoded
    into a single integer key (``hash·2³² + (2³²−1−pos)``), a sliding
    ``array_min`` over each complete w-window, ``array_distinct`` per
    document, THEN the explode of just the selected fingerprints.
    ZERO exchanges: the former shape exploded one row per character
    position and paid a full shuffle + sort (window by id) plus a
    distinct shuffle of the char-level stream — at 100 TB that is two
    corpus-character-scale exchanges for a computation that never
    crosses a document boundary. Output rows are distinct by
    construction (array_distinct within a doc; the id separates docs),
    so no final ``distinct()`` is needed; only COMPLETE windows select
    (docs shorter than k+w−1 characters yield no fingerprints, pinned;
    test_winnowing_matches_numpy_reference pins the exact (pos, hash)
    set against an independent SIGMOD-2003 transcription).

    Returns distinct ``(id, pos, hash)`` — pos is the 1-based offset
    of the selected k-gram in the normalized text."""
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    B, M = _WINNOW_B, _WINNOW_M
    # same integer math as the former exploded arm: k terms, each
    # ≤ 255·(M−1) < 2^39, k-term sum < 2^42 — exact in int64
    terms = " + ".join(
        f"CAST(ascii(substring(__norm, __p + {j}, 1)) AS BIGINT) "
        f"* {pow(B, k - 1 - j, M)}"
        for j in range(k))
    # h < 2^31 so h·2^32 + (2^32−1−pos) < 2^63 (pos is the 1-based
    # sequence value __p itself — one fused transform, no index pass)
    keys = (f"transform(sequence(1, length(__norm) - {k - 1}), "
            f"__p -> (({terms}) % {M}) * 4294967296 + "
            f"{(1 << 32) - 1} - __p)")
    # allocation-free sliding min: aggregate over the w window indices
    # (a slice()+array_min would copy a w-element array per position)
    sel = (f"array_distinct(transform("
           f"sequence({w}, size(__keys)), "
           f"__e -> aggregate(sequence(__e - {w - 1}, __e), "
           f"9223372036854775807L, "
           f"(__a, __j) -> least(__a, element_at(__keys, __j)))))")
    return (_spread(df).select(
        F.col(id_col),
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
         .alias("__norm"))
        .where(F.length("__norm") >= k + w - 1)
        .select(id_col, F.expr(keys).alias("__keys"))
        .select(id_col, F.explode(F.expr(sel)).alias("__mk"))
        .select(
            F.col(id_col),
            (F.lit((1 << 32) - 1) - F.col("__mk") % F.lit(1 << 32))
            .alias("pos"),
            F.expr("__mk DIV 4294967296").alias("hash")))


# ---------------------------------------------------------------------------
# Oracle-SQL generators (DuckDB dialect) — kept next to the operators so the
# two definitions evolve together.
# ---------------------------------------------------------------------------

SQL_WORDS = ("list_filter(string_split_regex(lower({t}), '[^a-z0-9]+'), "
             "w -> w <> '')")


def sql_lang_scores(text: str = "text") -> str:
    """Per-language duplicate-weighted marker counts, DuckDB dialect."""
    w = SQL_WORDS.format(t=text)
    cols = []
    for lang in sorted(LANG_MARKERS):
        lst = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        cols.append(
            f"CAST(len(list_filter({w}, x -> list_contains([{lst}], x))) AS BIGINT)"
            f" AS score_{lang}")
    return ",\n       ".join(cols)


def sql_lang_pred(prefix: str = "score_") -> str:
    langs = sorted(LANG_MARKERS)
    lines = []
    for lang in langs[:-1]:
        conds = " AND ".join(f"{prefix}{lang} >= {prefix}{other}"
                             for other in langs if other != lang)
        lines.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(lines) + f" ELSE '{langs[-1]}' END"


def chunk_text(df: DataFrame, text_col: str, id_col: str,
               chunk_size: int = 64, stride: int = 48) -> DataFrame:
    """Sliding-window document chunking — the context-window splitter a
    training/RAG pipeline runs over every document (fixed token budget
    per chunk, ``chunk_size - stride`` words of overlap to avoid cutting
    context at boundaries).

    Pure built-ins: word starts via `sequence(1, n, stride)`, each chunk
    a `slice` + `concat_ws` — one projection + one explode, no Python,
    no shuffle; the words array is materialized once per document (the
    tokenize-once discipline, see `dedup.shingles_from_words`).
    Output: (id, chunk_idx 0-based, n_words, chunk_text)."""
    if stride < 1 or chunk_size < 1:
        raise ValueError("chunk_size and stride must be >= 1")
    pre = (df.select(F.col(id_col).alias("id"), words(text_col).alias("__w"))
             .where(F.size("__w") >= 1))
    starts = F.sequence(F.lit(1), F.size("__w"), F.lit(stride))
    chunk = F.explode(
        F.transform(starts, lambda s, i: F.struct(
            i.alias("chunk_idx"),
            F.slice(F.col("__w"), s, chunk_size).alias("cw"))))
    return (pre.select("id", chunk.alias("c"))
               .select(F.col("id").alias(id_col),
                       F.col("c.chunk_idx").cast("long").alias("chunk_idx"),
                       F.size("c.cw").cast("long").alias("n_words"),
                       F.concat_ws(" ", F.col("c.cw")).alias("chunk_text")))


# itertools.count().__next__ is atomic under the GIL, so concurrent
# chunker invocations in one session can never draw the same name
_CHUNK_SEQ = itertools.count(1).__next__


def chunk_text_udtf(spark, df: DataFrame, text_col: str, id_col: str,
                    chunk_size: int = 64, stride: int = 48) -> DataFrame:
    """The same chunker as a Python UDTF (Spark 4 user-defined *table*
    function) — one input row → N output rows from imperative code.

    This exists to prove the extension seam, not to replace
    :func:`chunk_text`: the built-in expression form stays JVM-side in
    codegen while a UDTF crosses the Python boundary per row. Use the
    UDTF shape only when chunk logic genuinely can't be expressed with
    sequence/slice/transform (e.g. a real tokenizer model). Tested
    row-identical to the built-in path."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="chunk_idx bigint, n_words bigint, chunk_text string")
    class Chunker:
        def eval(self, text: str, size: int, step: int):
            import re

            ws = [w for w in re.split(r"[^a-z0-9]+", (text or "").lower())
                  if w]
            for idx, s in enumerate(range(0, len(ws), step)):
                piece = ws[s:s + size]
                yield idx, len(piece), " ".join(piece)

    # unique per-invocation names: fixed session-global names let a
    # second chunking job clobber the first's temp view before its lazy
    # plan executes (silently chunking the wrong table); the id column
    # is backtick-quoted, never spliced bare into SQL
    seq = _CHUNK_SEQ()
    fn, view = f"__chunk_udtf_{seq}", f"__chunk_in_{seq}"
    spark.udtf.register(fn, Chunker)
    df.select(F.col(id_col), F.col(text_col).alias("__text")) \
      .createOrReplaceTempView(view)
    qid = id_col.replace("`", "``")
    return spark.sql(f"""
        SELECT i.`{qid}`, c.chunk_idx, c.n_words, c.chunk_text
        FROM {view} i, LATERAL {fn}(i.__text, {int(chunk_size)},
                                    {int(stride)}) c
    """)


def vocabulary(df: DataFrame, text_col: str, id_col: str,
               min_df: int = 1, max_df_frac: float = 1.0,
               top_k: int | None = None) -> DataFrame:
    """Corpus vocabulary with term/document frequencies — the heavy-hitter
    scan every tokenizer/vocab-building stage of a training pipeline runs
    first. ``min_df``/``max_df_frac`` are the classic pruning knobs (drop
    hapaxes, drop stopword-like terms present in nearly every document);
    ``top_k`` keeps the most frequent survivors with a deterministic
    (−tf, term) tie-break.

    Tokenize once per document (the `shingles_from_words` discipline),
    explode, then ONE aggregation computes both tf (Σ occurrences) and
    df (distinct docs) — df via count(DISTINCT id) inside the same
    groupBy, no second shuffle. The total-documents denominator for
    ``max_df_frac`` is a broadcast one-row aggregate folded into the
    plan (the tpch_q22 scalar pattern) — NOT a driver-side count(),
    which would run an extra eager job per invocation and break
    laziness. Top-k uses a global TakeOrderedAndProject only when k is
    small; unbounded keeps the full distributed result.

    Output: (term, tf, df) [+ rank when top_k]."""
    n_docs = df.agg(F.countDistinct(id_col).alias("__n_docs"))
    tokens = (df.select(F.col(id_col).alias("__id"),
                        F.explode(words(text_col)).alias("term")))
    vocab = (tokens.groupBy("term")
             .agg(F.count("*").alias("tf"),
                  F.countDistinct("__id").alias("df"))
             .crossJoin(F.broadcast(n_docs))
             .where((F.col("df") >= min_df)
                    & (F.col("df") <= F.floor(F.lit(max_df_frac)
                                              * F.col("__n_docs"))))
             .drop("__n_docs"))
    if top_k is None:
        return vocab
    ranked = vocab.orderBy(F.col("tf").desc(), "term").limit(top_k)
    w = Window.orderBy(F.col("tf").desc(), "term")
    return ranked.withColumn("rank", F.row_number().over(w))


def tfidf_top_terms(df: DataFrame, text_col: str, id_col: str,
                    k: int = 3, min_df: int = 1) -> DataFrame:
    """Top-k TF-IDF terms per document — the classic relevance weighting
    (tf · smoothed idf, `ln((N+1)/(df+1)) + 1`, scikit-learn's smooth_idf
    formulation) as a pure DataFrame pipeline: tokenize once → per-(doc,
    term) counts → document frequencies → join → ranking window.

    Shuffle budget: one agg on (doc, term), one agg on term, one join
    back (term df table is vocabulary-sized — broadcastable), one window
    partitioned by doc; N comes from a broadcast one-row aggregate, not
    a driver-side count. Ties break deterministically by (−tfidf, term).

    Output: (id, term, tf, df, tfidf, rank ≤ k)."""
    n_docs = df.agg(F.countDistinct(id_col).alias("__n_docs"))
    tokens = (df.select(F.col(id_col).alias(id_col),
                        F.explode(words(text_col)).alias("term")))
    tf = tokens.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = (tf.groupBy("term").agg(F.count("*").alias("df"))
               .where(F.col("df") >= min_df))
    idf = (F.log((F.col("__n_docs") + F.lit(1.0)) / (F.col("df") + 1)) + 1)
    scored = (tf.join(F.broadcast(dfreq), "term")
                .crossJoin(F.broadcast(n_docs))
                .withColumn("tfidf", F.col("tf") * idf)
                .drop("__n_docs"))
    w = (Window.partitionBy(id_col)
               .orderBy(F.col("tfidf").desc(), "term"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k)
                  .select(id_col, "term", "tf", "df", "tfidf", "rank"))


def _ngrams(w: Column, n: int) -> Column:
    """Word n-grams from a materialized words array (n=1 → the array).
    Same projection discipline as `dedup.shingles_from_words`."""
    if n == 1:
        return w
    idx = F.sequence(F.lit(1), F.size(w) - (n - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(w, i + j) for j in range(n)])
    return F.when(F.size(w) >= n, F.transform(idx, gram)) \
            .otherwise(F.array().cast("array<string>"))


def lexical_diversity(df: DataFrame, text_col: str, group_col: str,
                      ns: tuple[int, ...] = (1, 2, 3)) -> DataFrame:
    """Distinct-n lexical diversity per group — the corpus-health
    metric (distinct-1/distinct-2/... type-token ratios) that catches
    template-generated and near-duplicated feeds before any pairwise
    dedup: a source emitting boilerplate shows a cratered distinct-2/3
    ratio at normal distinct-1.

    One explode + one (group, count, count-distinct) aggregation per n
    — uniform n-gram keys, map-side partials — LEFT-joined onto the
    distinct group dimension (broadcast): a group whose documents are
    all shorter than n still appears, with zero counts and NULL ttr —
    the degenerate source this metric exists to catch must never be
    the one silently missing from the report. Ratios round to 9 dp.

    Output: (group, total_1, distinct_1, ttr_1, ... per n)."""
    out = df.select(F.col(group_col).alias("group")).distinct()
    for n in ns:
        grams = (df.select(F.col(group_col).alias("group"),
                           words(text_col).alias("__w"))
                   .select("group",
                           F.explode(_ngrams(F.col("__w"), n)).alias("g")))
        agg = (grams.groupBy("group")
               .agg(F.count("*").alias(f"total_{n}"),
                    F.countDistinct("g").alias(f"distinct_{n}"))
               .withColumn(f"ttr_{n}",
                           F.round(F.col(f"distinct_{n}")
                                   / F.col(f"total_{n}"), 9)))
        out = (out.join(F.broadcast(agg), "group", "left")
                  .fillna(0, [f"total_{n}", f"distinct_{n}"]))
    return out


def _bigram_stream(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, cur, nxt) adjacent-word pairs, tokenizing once per doc."""
    w = (df.select(F.col(id_col).alias("__id"),
                   words(text_col).alias("__w"))
           .where(F.size("__w") >= 2))
    return (w.select("__id", F.explode(F.transform(
        F.sequence(F.lit(0), F.size("__w") - 2),
        lambda i: F.struct(F.col("__w")[i].alias("cur"),
                           F.col("__w")[i + 1].alias("nxt")))).alias("p"))
             .select("__id", "p.cur", "p.nxt"))


def train_bigram_lm(train: DataFrame, text_col: str,
                    id_col: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train `lm_perplexity`'s add-one bigram LM once and return its
    three tables (pair counts, context totals, vocab size) — persist
    them and pass as ``lm=`` to score many batches/streams against one
    standing LM without re-aggregating the corpus per call."""
    pc = (_bigram_stream(train, text_col, id_col)
          .groupBy("cur", "nxt").agg(F.count("*").alias("__c")))
    cc = pc.groupBy("cur").agg(F.sum("__c").alias("__total"))
    vocab = (train.select(F.explode(words(text_col)).alias("__t"))
                  .agg(F.countDistinct("__t").alias("__v")))
    return pc, cc, vocab


def lm_perplexity(df: DataFrame, text_col: str, id_col: str,
                  nll_keep_threshold: float = 3.4,
                  ref: DataFrame | None = None,
                  lm: tuple | None = None) -> DataFrame:
    """CCNet-style language-model quality scoring: train an add-one
    smoothed bigram LM on the corpus itself, score every document's
    average per-bigram negative log-likelihood, and flag fluent
    documents (low NLL = text that looks like the corpus — the signal
    CCNet/RedPajama use to tier web text by LM perplexity).

    p(nxt|cur) = (c(cur,nxt) + 1) / (total(cur) + V), V = corpus
    vocabulary size. Per-bigram log-probs are rounded to integer
    micro-nats BEFORE the per-document sum (the scaled-long exact-sum
    discipline), so the document score is partition-order invariant and
    engine-portable; the keep flag compares the round-6 average, never
    a raw float.

    Plan shape: the conditional-total table derives from the bigram
    pair counts, so the pair-count table (vocab²-bounded) has two
    consumers. Their (cur, nxt) exchanges are NOT reused: Catalyst
    infers a different null filter into each branch (the scoring join
    keys on (cur, nxt), the total on cur), so the executed plan at
    sf0.1 has no ReusedExchange and the corpus pays four passes: pair
    counts twice, vocabulary, scoring. A localCheckpoint to share them
    was never measured to pay here and lost at the sites that were
    measured (plans/r12/). V is a broadcast one-row aggregate. The fully-scored LM — pair
    count ⋈ context total ⋈ V, with the micro-nat log-prob already
    computed — is assembled on the vocabulary-sized side FIRST, so the
    token stream pays exactly ONE equi join + one grouped sum. No
    UDFs, no driver-side state; every stage is a hash agg or equi join
    that scales linearly with corpus tokens.

    With ``ref`` (a separate training corpus — the streaming-gate /
    score-new-data-against-standing-LM mode) the LM trains on ``ref``
    and scores ``df``; bigrams unseen in the reference fall back to the
    same add-one formula with c = 0 (and total = 0 for unseen
    contexts), i.e. p = 1/(total+V), via left joins — never silently
    dropped. ``lm`` (a `train_bigram_lm` result, usually persisted)
    skips training entirely — the score-many-batches mode where
    re-aggregating the standing corpus per call would dominate.

    Output: (id, n_bigrams, sum_logp_micro, avg_nll, keep)."""
    bigrams = _bigram_stream(df, text_col, id_col)
    if lm is not None:
        pc, cc, vocab = lm
    else:
        train = ref if ref is not None else df
        pc, cc, vocab = train_bigram_lm(train, text_col, id_col)
    if ref is None and lm is None:
        # self-trained: every scored bigram exists in the LM, so the
        # fully-scored LM assembles vocabulary-side and the token
        # stream pays exactly ONE equi join
        logp = F.log((F.col("__c") + F.lit(1.0))
                     / (F.col("__total") + F.col("__v")))
        lm = (pc.join(cc, "cur")
                .crossJoin(F.broadcast(vocab))
                .select("cur", "nxt",
                        F.round(logp * 1e6).cast("long").alias("__lp")))
        scored = bigrams.join(lm, ["cur", "nxt"]).select("__id", "__lp")
    else:
        logp = F.log((F.coalesce(F.col("__c"), F.lit(0)) + F.lit(1.0))
                     / (F.coalesce(F.col("__total"), F.lit(0))
                        + F.col("__v")))
        scored = (bigrams.join(pc, ["cur", "nxt"], "left")
                  .join(cc, "cur", "left")
                  .crossJoin(F.broadcast(vocab))
                  .select("__id",
                          F.round(logp * 1e6).cast("long").alias("__lp")))
    agg = (scored.groupBy("__id")
           .agg(F.count("*").alias("n_bigrams"),
                F.sum("__lp").alias("sum_logp_micro")))
    # integer-unit tie-portable rounding: -sum_micro/n is rational, so
    # round(x, 6) can hit an exact decimal tie engines break differently
    avg_nll = (F.round(-F.col("sum_logp_micro")
                       / F.col("n_bigrams").cast("double")) / 1e6)
    return agg.select(F.col("__id").alias(id_col), "n_bigrams",
                      "sum_logp_micro", avg_nll.alias("avg_nll"),
                      (avg_nll <= F.lit(nll_keep_threshold)).alias("keep"))


def clean_text(df: DataFrame, text_col: str, min_line_words: int = 1,
               require_terminal_punct: bool = False,
               alias: str | None = None) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2, public
    method): split into lines, collapse internal whitespace, drop lines
    with fewer than ``min_line_words`` words (and, optionally, lines not
    ending in terminal punctuation — the C4 rule), reassemble.

    Entirely array higher-order functions on one row — shuffle-free,
    whole-stage-codegen'd, trivially parallel at 100 TB. Output adds
    ``<col>_clean`` plus line-count diagnostics (n_lines,
    n_lines_kept)."""
    out_col = alias or f"{text_col}_clean"
    norm = F.transform(
        F.split(F.col(text_col), "\n"),
        lambda x: F.trim(F.regexp_replace(x, "\\s+", " ")))

    def keep(x):
        ok = (F.length(x) > 0) & (F.size(F.split(x, " ")) >= min_line_words)
        if require_terminal_punct:
            ok = ok & x.rlike("[.!?]\"?$")
        return ok

    kept = F.filter(norm, keep)
    return (df.withColumn(out_col, F.array_join(kept, "\n"))
              .withColumn("n_lines", F.size(norm))
              .withColumn("n_lines_kept", F.size(kept)))


def nfc_normalize(df: DataFrame, text_col: str, form: str = "NFC",
                  alias: str | None = None) -> DataFrame:
    """Unicode normalization (NFC/NFD/NFKC/NFKD) — the canonicalization
    step upstream of every dedup/tokenize stage: visually identical
    strings with different codepoint sequences (decomposed accents,
    compatibility forms) hash differently and silently defeat exact AND
    fuzzy dedup. No JVM builtin exists, so this is an Arrow-batched
    kernel around ``unicodedata.normalize`` (the Unicode reference
    implementation); per-row work is linear in the string, shuffle-free,
    trivially parallel at 100 TB. Adds ``<col>_norm`` plus a ``changed``
    flag and before/after char counts."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    out_col = alias or f"{text_col}_norm"

    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata
        return s.map(lambda x: None if x is None
                     else unicodedata.normalize(form, x))

    _norm.__annotations__ = {"s": pd.Series, "return": pd.Series}
    nt = pandas_udf(_norm, "string")(F.col(text_col))
    return (df.withColumn(out_col, nt)
              .withColumn("n_chars_before",
                          F.length(text_col).cast("long"))
              .withColumn("n_chars_after",
                          F.length(out_col).cast("long"))
              .withColumn("changed", F.col(text_col) != F.col(out_col)))


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(df: DataFrame, text_col: str, id_col: str,
                 min_words: int = 50, max_words: int = 100_000,
                 min_stop_hits: int = 2,
                 stopwords: tuple[str, ...] = GOPHER_STOPWORDS) -> DataFrame:
    """Gopher quality-rule filter (Rae et al. 2021 §A1.1.1, public
    method): word-count bounds, mean word length in [3, 10],
    symbol-to-word ratio (#/ellipsis) < 0.1, < 90 % bullet-started
    lines, < 30 % ellipsis-ended lines, ≥ 80 % words with an alphabetic
    character, and ≥ ``min_stop_hits`` distinct mandatory stopwords.

    Every rule is evaluated in EXACT INTEGER arithmetic by
    cross-multiplication (e.g. ratio < 0.1 becomes ``10·n < d``), so no
    float rounding exists to diverge across engines or partitionings —
    the strongest form of the repo's tie-portable-rounding rule is to
    never materialize the ratio at all. One narrow projection per row:
    shuffle-free, whole-stage-codegen'd, embarrassingly parallel at
    100 TB. Returns per-rule booleans plus the conjunction ``pass``.
    """
    # project the tokenizer ONCE into real columns: raw expressions
    # inline at every use site (the documented 15x shingle trap), and
    # this function would otherwise re-run the regex split ~20x/row
    staged = df.withColumn("__ws", words(text_col)) \
               .withColumn("__lines", F.filter(
                   F.split(F.col(text_col), "\n"),
                   lambda x: F.trim(x) != ""))
    w = F.col("__ws")
    lines = F.col("__lines")
    n_words = F.size(w).cast("long")
    word_chars = F.aggregate(
        w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    n_symbols = (F.regexp_count(F.col(text_col), F.lit("#"))
                 + F.regexp_count(F.col(text_col), F.lit("\\.\\.\\."))
                 + F.regexp_count(F.col(text_col), F.lit("…"))).cast("long")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(F.filter(
        lines, lambda x: x.rlike("^\\s*[-*•]"))).cast("long")
    n_ellipsis = F.size(F.filter(
        lines, lambda x: x.rlike("(\\.\\.\\.|…)\\s*$"))).cast("long")
    n_alpha_words = F.size(F.filter(w, lambda x: x.rlike("[a-z]"))).cast("long")
    n_stop_hits = F.size(F.filter(
        F.array(*[F.lit(s) for s in stopwords]),
        lambda s: F.array_contains(w, s))).cast("long")

    r_word_count = n_words.between(min_words, max_words)
    # 3 ≤ word_chars/n_words ≤ 10, cross-multiplied (guard empty docs)
    r_mean_word_len = ((word_chars >= 3 * n_words)
                       & (word_chars <= 10 * n_words) & (n_words > 0))
    r_symbol_ratio = 10 * n_symbols < n_words
    r_bullet_lines = 10 * n_bullet < 9 * F.greatest(n_lines, F.lit(1))
    r_ellipsis_lines = 10 * n_ellipsis < 3 * F.greatest(n_lines, F.lit(1))
    r_alpha_words = 5 * n_alpha_words >= 4 * n_words
    r_stopwords = n_stop_hits >= min_stop_hits
    passed = (r_word_count & r_mean_word_len & r_symbol_ratio
              & r_bullet_lines & r_ellipsis_lines & r_alpha_words
              & r_stopwords)
    return staged.select(
        F.col(id_col), n_words.alias("n_words"),
        word_chars.alias("word_chars"), n_lines.alias("n_lines"),
        r_word_count.alias("r_word_count"),
        r_mean_word_len.alias("r_mean_word_len"),
        r_symbol_ratio.alias("r_symbol_ratio"),
        r_bullet_lines.alias("r_bullet_lines"),
        r_ellipsis_lines.alias("r_ellipsis_lines"),
        r_alpha_words.alias("r_alpha_words"),
        r_stopwords.alias("r_stopwords"),
        passed.alias("pass"))


def char_entropy(df: DataFrame, text_col: str,
                 alias: str = "char_entropy") -> DataFrame:
    """Shannon entropy (nats) of the per-document character
    distribution — the cheap randomness/quality signal that separates
    prose from padding, mojibake and base64 blobs.

    Shuffle-free: the histogram is built per row with array HOFs
    (sorted distinct chars → counts via filter), so cost is
    O(alphabet × len) per document with zero exchanges — at 100 TB this
    beats the explode-and-aggregate formulation (which shuffles every
    character) by the full corpus volume. The distinct list is sorted so
    the entropy fold visits terms in identical order in any engine
    (bit-stable parity)."""
    # Stage the char array / sorted copy / length as real columns (raw
    # expressions re-inline at every use site — the documented trap),
    # then count runs in the SORTED array with one O(len) aggregate
    # instead of a distinct×len filter-per-unique-char loop (which also
    # re-ran regexp_extract_all per distinct char: ~16 s at sf0.1,
    # now ~1 s). Runs are visited in sorted-char order, i.e. the exact
    # term order of the previous sorted-distinct formulation and of the
    # SQL oracle — bit-identical sums.
    # n_chars comes straight from length() (code points, the same
    # count the regex char class yields) and the distinct-char count
    # rides the SAME run fold as the entropy (each run boundary is one
    # distinct char) — the previous array_distinct pass re-walked the
    # whole char array per row for a number the fold already knows
    staged = (df.withColumn("__sorted", F.array_sort(
                    F.regexp_extract_all(F.col(text_col),
                                         F.lit("[\\s\\S]"), 0)))
                .withColumn("__nch", F.length(F.col(text_col))))
    srt, n = F.col("__sorted"), F.col("__nch")
    nd = n.cast("double")

    def term(run):
        return F.when(run > 0,
                      (run.cast("double") / nd) * F.log(run.cast("double") / nd))                 .otherwise(F.lit(0.0))

    st0 = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                   F.lit(0.0).alias("acc"), F.lit(0).alias("nd"))
    folded = F.aggregate(
        srt, st0,
        lambda st, c: F.struct(
            c.alias("prev"),
            F.when(c == st["prev"], st["run"] + 1).otherwise(F.lit(1))
             .alias("run"),
            F.when(c == st["prev"], st["acc"])
             .otherwise(st["acc"] + term(st["run"])).alias("acc"),
            F.when(c == st["prev"], st["nd"])
             .otherwise(st["nd"] + 1).alias("nd")),
        lambda st: F.struct((st["acc"] + term(st["run"])).alias("acc"),
                            st["nd"].alias("nd")))
    staged = staged.withColumn("__fold", folded)
    ent = -F.col("__fold")["acc"]
    # NULL text stays NULL in the counts (len() of NULL — the same
    # contract the SQL oracle's len(regexp_extract_all(NULL)) has)
    return (staged.withColumn("n_chars", n.cast("int"))
                  .withColumn("n_distinct_chars",
                              F.col("__fold")["nd"].cast("int"))
                  .withColumn(alias, F.when(n > 0, ent).otherwise(F.lit(0.0)))
                  .drop("__sorted", "__nch", "__fold"))


def unicode_profile(df: DataFrame, text_col: str,
                    id_col: str = "doc_id") -> DataFrame:
    """Encoding-health profile per document: counts of non-ASCII,
    control and U+FFFD replacement characters (the mojibake signature of
    a bad decode step upstream), plus the ASCII ratio. Web-scale corpora
    gate on these before tokenization — a burst of replacement chars
    means the source bytes were mis-decoded and the text is garbage.

    Pure projection over built-in string/regex functions: no UDF, no
    shuffle, stays in whole-stage codegen. The char-class regexes use
    only portable escapes (``\\x00-\\x7F``) so Java regex (Spark) and
    RE2-style engines (oracle) agree byte-for-byte."""
    t = F.col(text_col)
    n = F.length(t)
    non_ascii = F.length(F.regexp_replace(t, "[\\x00-\\x7F]", ""))
    control = n - F.length(F.regexp_replace(t, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""))
    replacement = n - F.length(F.regexp_replace(t, "�", ""))
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_chars"),
        non_ascii.cast("long").alias("n_non_ascii"),
        control.cast("long").alias("n_control"),
        replacement.cast("long").alias("n_replacement"),
        F.round((n - non_ascii) * 1.0 / F.greatest(n, F.lit(1)), 6)
         .alias("ascii_ratio"))


def _bpe_trigrams(toks: DataFrame, batch: list[tuple[str, str, int]]):
    """Counts of symbol trigrams touching a candidate merge batch:
    rows (x, y, z, t) where (x,y) or (y,z) is a batch pair — every
    pair CREATED by applying the batch has each occurrence inside one
    of these trigrams, so ``t`` upper-bounds created-pair counts. One
    bounded aggregation (the filter keeps only batch-adjacent
    trigrams, ≤ |batch| × alphabet in distinct keys)."""
    keys = [a + "\x00" + b for a, b, _ in batch]
    tri_col = F.explode(F.transform(
        F.sequence(F.lit(0), F.size("__t") - 3),
        lambda i: F.struct(F.col("__t")[i].alias("x"),
                           F.col("__t")[i + 1].alias("y"),
                           F.col("__t")[i + 2].alias("z")))).alias("g")
    g = (toks.where(F.size("__t") >= 3)
             .select(tri_col, "n")
             .where(F.concat_ws("\x00", "g.x", "g.y").isin(keys)
                    | F.concat_ws("\x00", "g.y", "g.z").isin(keys)))
    return (g.groupBy("g.x", "g.y", "g.z").agg(F.sum("n").alias("t"))
             .collect())


def _bpe_truncate_batch(batch: list[tuple[str, str, int]],
                        trigrams, orig_counts: dict, horizon: int,
                        symbols: set) -> list[tuple[str, str, int]]:
    """Keep the longest prefix of the candidate merge batch that
    sequential BPE provably picks in the same order: from the trigram
    counts, enumerate every token pair a prior batch merge can create
    — (x, aᵢbᵢ), (aᵢbᵢ, y), and merged-merged adjacencies
    (aᵢbᵢ, aⱼbⱼ) — with its count upper bound and its literal token
    strings; batch element m falls (and the batch truncates there) if
    any candidate born before step m could beat it under
    (count desc, pair asc), comparing actual token strings on count
    ties. When a created pair's token strings coincide with an
    EXISTING pair (a merged token spelling an existing symbol — rare
    but possible), the created occurrences add to that pair's original
    count, so the bound is topped up from ``orig_counts`` (or
    ``horizon``, the count of the last collected pair, when the pair
    sits below the collected window). All bounds are upper bounds, so
    truncation is conservative — never wrong, only shorter batches."""
    pos: dict[tuple[str, str], int] = {}
    lefts: dict[str, list[int]] = {}
    rights: dict[str, list[int]] = {}
    for i, (a, b, _) in enumerate(batch):
        pos[(a, b)] = i
        lefts.setdefault(a, []).append(i)
        rights.setdefault(b, []).append(i)

    def eff(tok_pair: tuple[str, str], bound: int) -> int:
        # top-up only when both tokens are (or may be) live symbols —
        # then the "created" pair is really an existing pair gaining
        # occurrences
        if tok_pair[0] in symbols and tok_pair[1] in symbols:
            return bound + orig_counts.get(tok_pair, horizon)
        return bound

    # candidates: token-string pair → [(born_step, count_upper_bound)].
    # DISTINCT origins can spell the SAME merged token strings (e.g.
    # ('a','bc') and ('ab','c') both producing 'abc'), and one pair can
    # arise from several disjoint trigram keys — the true count of a
    # token-string pair is bounded by the SUM of bounds across all its
    # origins born so far, with the existing-pair top-up applied ONCE,
    # not by any single row's bound.
    cands: dict[tuple[str, str], list[tuple[int, int]]] = {}
    for r in trigrams:
        x, y, z, t = r["x"], r["y"], r["z"], r["t"]
        i = pos.get((y, z))
        if i is not None:
            cands.setdefault((x, y + z), []).append((i + 1, t))
            for j in rights.get(x, ()):
                aj, bj, _ = batch[j]
                cands.setdefault((aj + bj, y + z), []).append(
                    (max(i, j) + 1, t))
        i = pos.get((x, y))
        if i is not None:
            cands.setdefault((x + y, z), []).append((i + 1, t))
            for j in lefts.get(z, ()):
                aj, bj, _ = batch[j]
                cands.setdefault((x + y, aj + bj), []).append(
                    (max(i, j) + 1, t))
    for m, (a, b, c) in enumerate(batch):
        if m == 0:
            continue            # the argmax itself — always exact
        for tok_pair, origins in cands.items():
            if tok_pair == (a, b):
                continue        # extra occurrences of itself only help
            total = sum(bd for born, bd in origins if born <= m)
            if total == 0:
                continue        # nothing creating this pair has run yet
            total = eff(tok_pair, total)
            if total > c or (total == c and tok_pair < (a, b)):
                return batch[:m]
    return batch


def _bpe_apply_merges(vocab: DataFrame,
                      merges: list[tuple[str, str]]) -> DataFrame:
    """Apply an ordered merge list to the vocabulary's ``symbols``
    column with the standard left-to-right non-overlapping pass, one
    Arrow kernel (the same pass the training loop applies per batch)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    pairs = list(merges)

    def _apply(s: pd.Series) -> pd.Series:
        out = []
        for sym in s:
            toks = sym.split(" ")
            for a, b in pairs:
                res, i = [], 0
                while i < len(toks):
                    if (i + 1 < len(toks) and toks[i] == a
                            and toks[i + 1] == b):
                        res.append(a + b)
                        i += 2
                    else:
                        res.append(toks[i])
                        i += 1
                toks = res
            out.append(" ".join(toks))
        return pd.Series(out)

    _apply.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return vocab.withColumn("symbols",
                            pandas_udf(_apply, "string")(F.col("symbols")))


def _bpe_single_task(vocab: DataFrame, n_merges: int) -> DataFrame:
    """Exact sequential BPE over the whole frequency-weighted
    vocabulary in ONE executor task (``mapInPandas`` after
    ``coalesce(1)`` — never a driver collect): one merge at a time,
    argmax by (count desc, pair asc), left-to-right non-overlapping
    application, incremental pair-count maintenance via a pair→words
    inverted index so each merge touches only the words containing it.
    Returns ``(merge_rank, left, right)`` rows.

    This is the small-vocabulary arm of the adaptive trainer — by
    construction merge-for-merge identical to reference sequential BPE
    (stronger than the batched rounds' equivalence argument). The
    distributed rounds remain the path for vocabularies above the
    caller's gate."""
    import pandas as pd

    def _kernel(batches):
        from collections import defaultdict
        words_ = []                       # [tokens list, freq]
        for pdf in batches:
            for sym, n in zip(pdf["symbols"], pdf["n"]):
                toks = sym.split(" ")
                if len(toks) >= 2:
                    words_.append([toks, int(n)])
        counts: dict = defaultdict(int)
        where: dict = defaultdict(set)
        for wi, (toks, n) in enumerate(words_):
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                counts[p] += n
                where[p].add(wi)
        merges = []
        for _ in range(n_merges):
            if not counts:
                break
            best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            a, b = best
            merges.append(best)
            for wi in list(where.get(best, ())):
                toks, n = words_[wi]
                for i in range(len(toks) - 1):
                    p = (toks[i], toks[i + 1])
                    counts[p] -= n
                    if counts[p] <= 0:
                        counts.pop(p, None)
                    where[p].discard(wi)
                res, i = [], 0
                while i < len(toks):
                    if (i + 1 < len(toks) and toks[i] == a
                            and toks[i + 1] == b):
                        res.append(a + b)
                        i += 2
                    else:
                        res.append(toks[i])
                        i += 1
                words_[wi][0] = res
                for i in range(len(res) - 1):
                    p = (res[i], res[i + 1])
                    counts[p] += n
                    where[p].add(wi)
        yield pd.DataFrame(
            {"merge_rank": range(1, len(merges) + 1),
             "left": [a for a, _ in merges],
             "right": [b for _, b in merges]})

    return vocab.select("symbols", "n").coalesce(1).mapInPandas(
        _kernel, schema="merge_rank long, left string, right string")


def bpe_train(df: DataFrame, text_col: str, n_merges: int = 20,
              checkpoint_every: int = 8, batch_limit: int = 256,
              mode: str = "exact", small_vocab_words: int = 0,
              stats: dict | None = None) -> tuple[list[tuple[str, str]],
                                                  DataFrame]:
    """Distributed BPE tokenizer training — the full iterative loop, not
    just one pair count. Returns (ordered merge list, final vocabulary
    DataFrame of (word, n, symbols)).

    The corpus collapses FIRST to its frequency-weighted vocabulary
    (one groupBy — at 100 TB the vocab is millions of rows, not
    trillions of tokens), and every round runs over that table: count
    adjacent symbol pairs weighted by word frequency (one bounded
    explode + agg), pick a BATCH of merges (below), and apply them
    with left-to-right non-overlapping passes in ONE Arrow kernel.
    Driver state per round is a bounded (≤ ``batch_limit``+1 row) pair
    table; lineage is truncated by periodic localCheckpoint.

    **Batched merges, exactly sequential-equivalent.** Naively the
    loop is one Spark job per merge — 30k jobs for a production vocab.
    Instead each round takes the maximal *contiguous* prefix of the
    (count desc, pair asc)-sorted pair list that is pairwise
    symbol-disjoint, then truncates it with an exact created-pair
    check. Equivalence to one-at-a-time BPE:

    (1) disjoint pairs cannot destroy each other's occurrences, so
    every batched pair's count is unchanged when its sequential turn
    comes; (2) contiguity means every original pair outranking a
    batched pair is already merged before it, and destroyed pairs only
    lose count; (3) the only new contenders are pairs CREATED by
    earlier batch merges — each contains a merged token, so each
    occurrence lies inside a trigram around that batch pair. A second
    bounded aggregation counts exactly those trigrams, giving an upper
    bound AND the literal token pair for every possible created pair;
    a batched pair survives only if no created-pair candidate from
    earlier merges can beat it under the (count desc, pair asc) rule
    (ties resolve by comparing the candidate's actual token strings).
    (4) order within the batch follows the same argmax rule. A
    single-pair batch is always exact, so progress is guaranteed.
    Round count drops from O(n_merges) to O(n_merges / batch-yield)
    at 2 bounded-aggregation jobs per round; pass ``stats={}`` to
    receive ``{"rounds": r, "merges_per_round": [...]}``.

    **Ceiling of the exact mode.** Merge CHAINS — (l,u) then (lu,m),
    the dominant pattern in natural-language midgame — are inherently
    sequential: the follow-up pair only exists after the first merge,
    so no exact batching can parallelize a chain, and exact-mode round
    count scales with chain structure (measured ≈ n_merges/4 on the
    test corpus). For production vocab builds (30k merges)
    ``mode="fast"`` applies the standard parallel-BPE relaxation: per
    round, greedily batch EVERY top pair whose count is provably
    unperturbed by the others (the same (c,d): d ∉ firsts, c ∉ seconds
    rule, but skipping incompatible pairs instead of stopping at the
    first) with no created-pair check — one job per round, round count
    ≈ n_merges / |top| rather than per-chain-link; the merge ORDER is
    then approximate (vocabularies are equivalent in practice, and the
    token-coverage property holds by construction), so ``fast`` is not
    the oracle path.

    ``small_vocab_words`` > 0 arms the adaptive single-task arm: when
    the checkpointed vocabulary holds at most that many words, the
    whole training runs as ONE exact sequential BPE inside a single
    executor task (``_bpe_single_task``) — merge-for-merge identical
    to the reference algorithm, one job instead of 2 per round. 0
    (default) always runs the distributed rounds."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    vocab = (df.select(F.explode(words(text_col)).alias("word"))
               .groupBy("word").agg(F.count("*").alias("n"))
               .withColumn("symbols",
                           F.array_join(F.split("word", ""), " "))
               .localCheckpoint())

    if small_vocab_words and vocab.count() <= small_vocab_words:
        # adaptive single-task arm: exact sequential BPE in one job
        # (see _bpe_single_task) — the batched rounds below are pure
        # scheduling floor when the vocabulary fits one task
        rows = _bpe_single_task(vocab, n_merges) \
            .orderBy("merge_rank").collect()
        merges = [(r["left"], r["right"]) for r in rows]
        if stats is not None:
            stats["rounds"] = 1
            stats["merges_per_round"] = [len(merges)]
        final = _bpe_apply_merges(vocab, merges)
        return merges, final

    # live symbol set, maintained driver-side for the string-coincidence
    # check in the batch truncation (initial alphabet + merged tokens)
    symbols = {r["s"] for r in vocab.select(
        F.explode(F.split("symbols", " ")).alias("s")).distinct().collect()}

    merges: list[tuple[str, str]] = []
    rounds = 0
    per_round: list[int] = []
    since_checkpoint = 0
    while len(merges) < n_merges:
        # project the split ONCE (never pass a compound expression into
        # a higher-order lambda — the expression-inlining rule)
        toks = (vocab.select(F.split("symbols", " ").alias("__t"), "n")
                     .where(F.size("__t") >= 2))
        pair_col = F.explode(F.transform(
            F.sequence(F.lit(0), F.size("__t") - 2),
            lambda i: F.struct(F.col("__t")[i].alias("a"),
                               F.col("__t")[i + 1].alias("b")))).alias("p")
        top = (toks.select(pair_col, "n")
               .groupBy("p.a", "p.b").agg(F.sum("n").alias("c"))
               .orderBy(F.col("c").desc(), F.col("a").asc(),
                        F.col("b").asc())
               .limit(batch_limit + 1).collect())
        if not top:
            break
        rounds += 1
        remaining = n_merges - len(merges)
        # contiguous compatible prefix: merging (a,b) only perturbs
        # pairs (x,a)-followed-by-b and (b,y)-preceded-by-a, so a later
        # pair (c,d) keeps its exact count iff d never equals an
        # earlier first symbol and c never equals an earlier second —
        # NOT full symbol-disjointness (pairs sharing a FIRST symbol,
        # the common case among top pairs, are compatible)
        batch: list[tuple[str, str, int]] = []
        firsts: set[str] = set()
        seconds: set[str] = set()
        for idx, r in enumerate(top):
            if idx >= batch_limit or len(batch) >= remaining:
                break
            if r["b"] in firsts or r["a"] in seconds:
                if mode == "fast":
                    continue     # skip and keep batching (order approx.)
                break            # exact: contiguity is load-bearing
            batch.append((r["a"], r["b"], r["c"]))
            firsts.add(r["a"])
            seconds.add(r["b"])
        if mode != "fast" and len(batch) > 1:
            orig_counts = {(r["a"], r["b"]): r["c"] for r in top}
            horizon = top[-1]["c"] if len(top) == batch_limit + 1 else 0
            batch = _bpe_truncate_batch(batch, _bpe_trigrams(toks, batch),
                                        orig_counts, horizon, symbols)
        batch_pairs = [(a, b) for a, b, _ in batch]
        merges.extend(batch_pairs)
        symbols.update(a + b for a, b in batch_pairs)
        per_round.append(len(batch_pairs))

        def make_kernel(pairs):
            # factory gives each round's kernel its own closure cell —
            # never the loop variable (late binding would make stacked
            # un-checkpointed rounds all see the last batch)
            def apply_merges(s: pd.Series) -> pd.Series:
                out = []
                for sym in s:
                    toks = sym.split(" ")
                    for a, b in pairs:
                        res, i = [], 0
                        while i < len(toks):
                            if (i + 1 < len(toks) and toks[i] == a
                                    and toks[i + 1] == b):
                                res.append(a + b)
                                i += 2
                            else:
                                res.append(toks[i])
                                i += 1
                        toks = res
                    out.append(" ".join(toks))
                return pd.Series(out)

            apply_merges.__annotations__ = {"s": pd.Series,
                                            "return": pd.Series}
            return apply_merges

        vocab = vocab.withColumn(
            "symbols", pandas_udf(make_kernel(list(batch_pairs)),
                                  "string")(F.col("symbols")))
        since_checkpoint += 1
        if since_checkpoint >= max(1, checkpoint_every // 8):
            vocab = vocab.localCheckpoint()
            since_checkpoint = 0
    if stats is not None:
        stats["rounds"] = rounds
        stats["merges_per_round"] = per_round
    return merges, vocab


def bpe_encode(df: DataFrame, text_col: str,
               merges: list[tuple[str, str]]) -> DataFrame:
    """Apply a trained BPE merge list to text — the inference side of
    `bpe_train`. Adds ``tokens`` (array<string>) and ``n_tokens``.
    The merge list broadcasts in the closure; each Arrow batch memoizes
    per distinct word, so the per-row cost is amortized toward the
    batch's vocabulary size (the same vocabulary-not-token-stream
    economics as training)."""
    import re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ms = list(merges)
    word_re = WORD_SPLIT

    def _enc(s: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}

        def enc_word(w: str) -> list[str]:
            t = memo.get(w)
            if t is None:
                t = list(w)
                for a, b in ms:
                    res, i = [], 0
                    while i < len(t):
                        if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                            res.append(a + b)
                            i += 2
                        else:
                            res.append(t[i])
                            i += 1
                    t = res
                memo[w] = t
            return t

        out = []
        for txt in s:
            toks: list[str] = []
            for w in re.split(word_re, (txt or "").lower()):
                if w:
                    toks.extend(enc_word(w))
            out.append(toks)
        return pd.Series(out)

    _enc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    enc = pandas_udf(_enc, "array<string>")(F.col(text_col))
    return (df.withColumn("tokens", enc)
              .withColumn("n_tokens", F.size("tokens").cast("long")))


# --------------------------------------------------------------------------
# URL canonicalization (round 10) — the crawl-pipeline dedup key
# --------------------------------------------------------------------------

# query parameters that carry tracking state, not content identity —
# the standard strip set (utm_* per the urchin convention, plus the
# click-id params the major platforms append)
URL_TRACKING_PARAMS = ("fbclid", "gclid", "msclkid", "ref", "ref_src")


def canonical_url(col) -> Column:
    """Canonicalize a URL column with pure JVM-side expressions — the
    aggregation key for URL-level dedup of a web crawl (the step ahead
    of content dedup: exact-duplicate *fetches* never reach hashing).

    Normalizations (each a content-preserving equivalence for http(s)):
    lowercase scheme and host, strip the fragment, drop default ports
    (http:80 / https:443), drop a leading ``www.``, collapse duplicate
    path slashes, strip one trailing slash (non-root, empty path →
    ``/``), drop tracking query parameters (``utm_*`` +
    ``URL_TRACKING_PARAMS``), and sort the surviving parameters
    byte-wise. Mirrored verbatim by the ``text_url_canonicalize``
    oracle SQL; both engines use the same simple regex class so
    RE2/Java syntax differences cannot bite."""
    c = F.col(col) if isinstance(col, str) else col
    u = F.regexp_replace(F.trim(c), "#.*", "")         # fragment off
    scheme = F.lower(F.regexp_extract(
        u, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    host = F.lower(F.regexp_extract(rest, "^([^/?]*)", 1))
    host = (F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
             .when(scheme == "https",
                   F.regexp_replace(host, ":443$", ""))
             .otherwise(host))
    host = F.regexp_replace(host, "^www\\.", "")
    pathq = F.regexp_replace(rest, "^[^/?]*", "")
    path = F.regexp_extract(pathq, "^([^?]*)", 1)
    path = F.regexp_replace(path, "//+", "/")
    path = F.regexp_replace(path, "(.)/$", "$1")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_replace(pathq, "^[^?]*\\??", "")

    def _keep(p):
        name = F.split(p, "=")[0]
        tracked = name.startswith("utm_")
        for t in URL_TRACKING_PARAMS:
            tracked = tracked | (name == t)
        return (p != "") & ~tracked

    params = F.array_join(
        F.array_sort(F.filter(F.split(query, "&"), _keep)), "&")
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(params == "", F.lit(""))
         .otherwise(F.concat(F.lit("?"), params)))


def url_dedup(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """URL-level dedup: canonicalize, then keep the minimum id per
    canonical URL with the duplicate count — one hash aggregation on
    the canonical key (the crawl-frontier dedup shape; at 100 TB this
    runs BEFORE any payload fetch/hash so duplicate fetches are never
    paid for)."""
    return (df.withColumn("canon_url", canonical_url(url_col))
              .groupBy("canon_url")
              .agg(F.min(id_col).alias("keep_" + id_col),
                   F.count("*").cast("long").alias("n_fetches")))


# --------------------------------------------------------------------------
# main-content extraction (round 10) — link-density boilerplate removal
# --------------------------------------------------------------------------

_BLOCK_RX = (r"(?i)</?(?:div|p|li|ul|ol|nav|footer|header|aside|table"
             r"|tr|td|h[1-6]|section|article|br)[^>]*>")
_ANCHOR_RX = r"(?is)<a[^>]*>(.*?)</a>"


def _html_text(c: Column) -> Column:
    """Strip tags, unescape the three escaped entities (&lt;/&gt;
    BEFORE &amp; so a literal '&lt;' in the source text survives the
    round trip), collapse whitespace."""
    t = F.regexp_replace(c, "<[^>]*>", " ")
    t = F.regexp_replace(t, "&lt;", "<")
    t = F.regexp_replace(t, "&gt;", ">")
    t = F.regexp_replace(t, "&amp;", "&")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def main_content(html_col, min_chars: int = 25,
                 link_density_denom: int = 3) -> Column:
    """Boilerplate removal by LINK DENSITY (the boilerpipe/jusText
    family's core signal, public) with pure JVM-side higher-order
    functions — no UDF: split the page into blocks at block-level tag
    boundaries, measure each block's visible text and its
    anchor-enclosed text, and keep blocks that are long enough
    (``min_chars``) and link-sparse (link chars ≤ text chars /
    ``link_density_denom`` — an integer ratio, so the filter is exact
    arithmetic). Returns a struct (n_blocks, n_kept, main_text):
    navs, footers, sidebars and link farms drop; running text stays.
    Mirrored step-for-step by the ``crawl_main_content`` oracle."""
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    blocks = F.split(c, _BLOCK_RX)
    cleaned = F.transform(blocks, lambda b: F.struct(
        _html_text(b).alias("text"),
        F.length(_html_text(F.concat_ws(" ", F.regexp_extract_all(
            b, F.lit(_ANCHOR_RX), F.lit(1))))).alias("link_chars")))
    nonempty = F.filter(cleaned, lambda x: x["text"] != "")
    kept = F.filter(nonempty, lambda x:
                    (F.length(x["text"]) >= min_chars)
                    & (x["link_chars"] * link_density_denom
                       <= F.length(x["text"])))
    return F.struct(
        F.size(nonempty).cast("long").alias("n_blocks"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(F.transform(kept, lambda x: x["text"]), " ")
         .alias("main_text"))
