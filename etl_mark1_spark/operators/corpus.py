"""Corpus-preparation operators for training-data pipelines.

Beyond the reference's surface (its engine stops at generic SQL —
backend/services/duckdb_engine.py) these cover the steps an LLM data
pipeline runs between raw documents and a training shard: deterministic
splits, stratified sampling, TF-IDF term scoring, benchmark-contamination
checks, and PII redaction. Every operator is a pure DataFrame expression
chain (no Python in the hot path) and is oracle-checked against DuckDB in
the catalog — the split/sample hashes are md5-based so both engines agree
bit-for-bit.

Scale notes are per function; the common theme: splits and samples must be
DETERMINISTIC FUNCTIONS OF THE ROW, never of partitioning or visit order
(``rand()`` or ``monotonically_increasing_id`` would reshuffle membership
on every re-run/backfill and leak test data into training).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_mark1_spark.functions.grams import (tokens, word_ngram_rows,
                                             word_ngrams)


def _md5_bucket(col: Column, buckets: int = 100) -> Column:
    """Deterministic [0, buckets) bucket from the md5 of a value — stable
    across engines, runs, partitionings, and Spark versions (unlike
    ``hash``/``xxhash64``, which are engine-specific)."""
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10)
            .cast("int") % buckets)


def train_test_split(df: DataFrame, id_col: str = "doc_id",
                     train_pct: int = 80,
                     out_col: str = "split") -> DataFrame:
    """Tag each row 'train' or 'test' by hashing its id — a map-side
    expression: no shuffle, no state, and membership never changes when the
    corpus is re-partitioned, appended to, or re-processed."""
    bucket = _md5_bucket(F.col(id_col))
    return df.withColumn(
        out_col, F.when(bucket < train_pct, F.lit("train"))
        .otherwise(F.lit("test")))


def stratified_sample(df: DataFrame, strata_col: str, fraction: float,
                      id_col: str = "doc_id") -> DataFrame:
    """Deterministic per-stratum sample: keep the first
    ``ceil(fraction * stratum_size)`` rows of each stratum in md5-of-id
    order. Within-stratum proportions are exact (unlike
    ``df.sampleBy``, which is Bernoulli and drifts per run); ordering by a
    hash makes the pick pseudo-random but reproducible. One window shuffle
    on the stratum key; at scale prefer a pre-bucketed table on
    ``strata_col`` so the window runs shuffle-free."""
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col))
    cnt = Window.partitionBy(strata_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(cnt))
        .filter(F.col("_rn") <= F.ceil(F.col("_n") * F.lit(fraction)))
        .drop("_rn", "_n")
    )


def tfidf_top_terms(df: DataFrame, k: int = 3, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Top-k terms per document by tf-idf (idf = ln(N / df), raw tf).

    explode -> (doc, term) counts -> document frequency -> window top-k.
    Two aggregations and one window, all JVM-side; the (doc, term) grouping
    gets map-side partial aggregation, and document frequency is a
    broadcast-sized table (vocabulary), joined without shuffling the terms.
    Ties break on term text for determinism.
    """
    n_docs = df.select(id_col).distinct().count()
    terms = df.select(
        F.col(id_col),
        F.explode(F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                           lambda t: t != "")).alias("term"),
    )
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(
        F.countDistinct(id_col).alias("df_count"))
    scored = (
        tf.join(F.broadcast(docfreq), "term")
        .withColumn("tfidf", F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df_count")), 6))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def ngram_contamination(df: DataFrame, benchmark: DataFrame, n: int = 8,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Documents sharing any word n-gram with a benchmark set — the
    standard eval-contamination sweep before training.

    Both sides explode to (gram) and meet in a semi-join on the gram hash:
    candidate generation is an equi-join, never a cross product. The
    benchmark side is usually tiny (eval suites), so Catalyst broadcasts
    it; at 100 TB the corpus side stays a single exploded scan with
    map-side dedup of grams (distinct before join keeps shuffle volume at
    unique-gram cardinality)."""
    toks = tokens(text_col, "lower_ws")
    corpus_grams = (word_ngram_rows(df, toks, n, (id_col,))
                    .select(id_col, F.col("gram").alias("_gram")))
    bench_grams = (word_ngram_rows(benchmark, toks, n)
                   .select(F.col("gram").alias("_gram")).distinct())
    return (
        corpus_grams.join(bench_grams, "_gram", "left_semi")
        .select(id_col).distinct()
    )


def pack_sequences(df: DataFrame, budget: int, size_col: str = "n_tokens",
                   shard_col: str | None = None,
                   id_col: str = "doc_id",
                   out_col: str = "seq_id",
                   num_shards: int = 64) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are (conceptually)
    concatenated in ``id_col`` order and cut into fixed ``budget``-sized
    training sequences; each document is tagged with the sequence its first
    token lands in — ``floor(running_size_before_doc / budget)``.

    This is the standard LLM-pretraining packing (concatenate with EOS,
    chunk to context length). With ``shard_col`` the running-sum window
    partitions by shard and each shard packs independently IN PARALLEL.

    Without ``shard_col`` the result is still the EXACT global running
    sum, but never through a single-partition window: it runs on the
    shared two-phase prefix-sum primitive (sketches.py:
    two_phase_prefix_sum — sketch-derived contiguous shards, parallel
    within-shard windows, broadcast cumulative offsets). Identical output
    to the naive global window; plan-asserted window-parallel in
    tests/test_corpus.py. The unsharded path needs an orderable
    numeric/date ``id_col`` (sketch cutoffs); for string ids pass a
    ``shard_col``.
    """
    if shard_col is not None:
        w = (Window.partitionBy(shard_col).orderBy(id_col)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        before = F.sum(size_col).over(w) - F.col(size_col)
        return df.withColumn(
            out_col, F.floor(before / F.lit(budget)).cast("bigint"))

    from etl_mark1_spark.operators.sketches import two_phase_prefix_sum

    cum = two_phase_prefix_sum(df, id_col, [size_col],
                               num_shards=num_shards)
    return (cum.withColumn(
        out_col, F.floor((F.col(f"{size_col}_cum") - F.col(size_col))
                         / F.lit(budget)).cast("bigint"))
        .drop(f"{size_col}_cum"))


def length_bucketed_batches(df: DataFrame, budget: int,
                            size_col: str = "n_tokens",
                            id_col: str = "doc_id",
                            min_bucket: int = 16,
                            max_bucket: int = 65536,
                            num_shards: int = 64) -> DataFrame:
    """Length-bucketed dynamic batching: pad each document up to the next
    power-of-two ``bucket`` (floored at ``min_bucket``, clamped at
    ``max_bucket``), then fill batches per bucket in ``id_col`` order with
    ``capacity = max(1, budget // bucket)`` documents each — the standard
    padding-waste reducer for variable-length training (long docs batch
    few-at-a-time, short docs many-at-a-time, padding never exceeds the
    bucket boundary). Adds ``bucket`` (padded length) and ``batch_idx``
    (0-based within the bucket).

    Scale shape: the per-bucket rank is NOT a per-bucket window — bucket
    keys are few and huge (the worst window skew), so ranks come from the
    shared two-phase prefix sum (sketches.py:two_phase_prefix_sum) over
    one 0/1 indicator column per bucket (log2(max/min)+1 columns, ~12):
    sketch-sharded parallel windows in ``id_col`` order, broadcast
    offsets, no sort ever scales with a bucket's row count. Deterministic
    for unique ``id_col`` (doc ids)."""
    from etl_mark1_spark.operators.sketches import two_phase_prefix_sum

    buckets = []
    b = min_bucket
    while b < max_bucket:
        buckets.append(b)
        b *= 2
    buckets.append(max_bucket)

    size = F.col(size_col)
    bucket = F.lit(buckets[-1])
    for b in reversed(buckets):
        bucket = F.when(size <= b, F.lit(b)).otherwise(bucket)
    flagged = df.withColumn("_bucket", bucket)
    flag_cols = []
    for b in buckets:
        flagged = flagged.withColumn(
            f"_in{b}", (F.col("_bucket") == b).cast("bigint"))
        flag_cols.append(f"_in{b}")

    cum = two_phase_prefix_sum(flagged, id_col, flag_cols,
                               num_shards=num_shards)
    rank = F.lit(None).cast("bigint")
    for b in buckets:
        rank = F.when(F.col("_bucket") == b,
                      F.col(f"_in{b}_cum") - 1).otherwise(rank)
    capacity = F.greatest(F.floor(F.lit(budget) / F.col("_bucket")),
                          F.lit(1)).cast("bigint")
    out = (cum.withColumn("_rank", rank)
           .withColumn("batch_idx",
                       F.floor(F.col("_rank") / capacity).cast("bigint"))
           .withColumnRenamed("_bucket", "bucket"))
    drop = flag_cols + [f"{c}_cum" for c in flag_cols] + ["_rank"]
    return out.drop(*drop)


#: simple, engine-portable PII patterns (emails; international-ish phones)
PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?[0-9][0-9()\- ]{7,}[0-9]", "<PHONE>"),
]


def redact_pii(df: DataFrame, text_col: str = "text",
               out_col: str = "clean_text") -> DataFrame:
    """Regex PII redaction (emails, phone numbers) — ``regexp_replace``
    chains, JVM-side, global replacement. The pattern list is the portable
    common denominator; production pipelines layer locale-specific patterns
    on top via the same chain."""
    col = F.col(text_col)
    for pattern, token in PII_PATTERNS:
        col = F.regexp_replace(col, pattern, token)
    return df.withColumn(out_col, col)


def leakage_safe_split(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", train_pct: int = 80,
                       out_col: str = "split") -> DataFrame:
    """Split that can NEVER put two copies of the same content on opposite
    sides: the split hash is taken over the duplicate group's canonical id
    (min id per identical text), so all members land together. Splitting
    by row id alone leaks — a train document with a test-side duplicate is
    memorized eval data. Same shape extends to near-dup clusters: feed
    ``minhash_dedup``'s cluster_id in as the grouping instead of raw text.
    One aggregation + one broadcast-able join more than the plain split."""
    canon = df.groupBy(text_col).agg(F.min(id_col).alias("_canon_id"))
    bucket = _md5_bucket(F.col("_canon_id"))
    return (df.join(canon, text_col)
            .withColumn(out_col,
                        F.when(bucket < train_pct, F.lit("train"))
                        .otherwise(F.lit("test")))
            .drop("_canon_id"))


def md5_uniform(col: Column) -> Column:
    """Deterministic pseudo-uniform in [0, 1) from the md5 of a value —
    the engine-portable replacement for ``rand()`` (see module docstring on
    why sampling must be a function of the row). 32 hash bits of
    resolution."""
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
            .cast("double") / F.lit(4294967296.0))


def weighted_sample(df: DataFrame, weight: Column,
                    id_col: str = "doc_id") -> DataFrame:
    """Keep each row with probability ``weight`` (clamped to [0, 1]),
    deterministically: a row survives iff md5-uniform(id) < weight.

    This is how quality-weighted corpus downsampling works at scale — keep
    probability proportional to a quality score — as a pure map-side
    filter: no shuffle, no state, membership stable under re-partitioning
    and backfills, and the expected kept fraction is exactly
    ``avg(weight)``. Upsampling (weights > 1) belongs in a separate
    repeat-explode pass; here extra mass clamps to "always keep".
    """
    p = F.least(F.greatest(weight.cast("double"), F.lit(0.0)), F.lit(1.0))
    return df.filter(md5_uniform(F.col(id_col)) < p)


def weighted_sample_exact_k(df: DataFrame, weight: Column, k: int,
                            id_col: str = "doc_id") -> DataFrame:
    """Exactly-``k`` weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis A-ES): each row gets key ``u ** (1/w)`` with
    ``u`` = md5-uniform(id) and ``w`` its (positive) weight; the k
    largest keys are the sample — provably equivalent to drawing k rows
    sequentially with probability proportional to remaining weight.
    The Bernoulli :func:`weighted_sample` has binomial size jitter;
    this is the fixed-budget variant ("give me exactly 50k docs, biased
    toward quality").

    Deterministic (u is a hash, not rand()), so membership survives
    re-runs and re-partitioning, and the selection shape is
    ``orderBy(key desc).limit(k)`` — TakeOrderedAndProject: per-partition
    k-row heaps and a k-row driver merge, no full sort, no full shuffle.
    Keys are rounded tie-deterministically to 12 decimals so the DuckDB
    oracle's libm pow (vs the JVM's) cannot flip a boundary row; ties
    break on id. Non-positive weights exclude the row outright (their
    sequential-draw probability is zero).
    """
    u = md5_uniform(F.col(id_col))
    w = weight.cast("double")
    key = F.pow(u, F.lit(1.0) / w)
    key = F.floor(key * F.lit(1e12) + F.lit(0.5)) / F.lit(1e12)
    return (df.filter(w > 0)
            .withColumn("_wkey", key)
            .orderBy(F.desc("_wkey"), F.col(id_col))
            .limit(k)
            .drop("_wkey"))


def weighted_sample_per_group(df: DataFrame, weight: Column, k: int,
                              group_col: str = "source",
                              id_col: str = "doc_id") -> DataFrame:
    """Exactly-``min(k, n_g)`` weighted sampling without replacement PER
    GROUP: the grouped form of :func:`weighted_sample_exact_k` ("50k
    docs per language, biased toward quality"). Same A-ES keys
    (``u ** (1/w)`` on md5-uniform u, 12-decimal tie-deterministic
    rounding, id tie-break); selection is a rank <= k over a window
    PARTITIONED BY the group — groups sample in parallel, nothing
    global. Non-positive weights are excluded outright."""
    u = md5_uniform(F.col(id_col))
    w = weight.cast("double")
    key = F.floor(F.pow(u, F.lit(1.0) / w) * F.lit(1e12) + F.lit(0.5)) \
        / F.lit(1e12)
    win = Window.partitionBy(group_col).orderBy(F.desc("_wkey"),
                                                F.col(id_col))
    return (df.filter(w > 0)
            .withColumn("_wkey", key)
            .withColumn("_rk", F.row_number().over(win))
            .filter(F.col("_rk") <= k)
            .drop("_wkey", "_rk"))


def epoch_shuffle(df: DataFrame, num_shards: int | None = None,
                  epoch: int = 0, id_col: str = "doc_id",
                  rows_per_shard: int = 4_000_000) -> DataFrame:
    """Deterministic epoch-varying global shuffle for multi-epoch
    training: shard assignment AND within-shard order are pure functions
    of (id, epoch) via an md5 hash, so every epoch presents a different
    pseudo-random order of the corpus while any re-run of the same epoch
    reproduces it exactly (the property rand() and ORDER BY random()
    cannot give a restartable trainer). Adds (shard, pos): shard =
    hash % num_shards, pos = 1-based rank within the shard by (hash,
    id).

    Scale shape: the hash is map-side; the only shuffle is the implicit
    exchange under the per-shard ranking window, whose partitions are
    corpus/num_shards-sized BY CONSTRUCTION — so num_shards is the knob
    that decides whether one reducer ranks 4M rows or 1.5 TB. Left
    unset, it is DERIVED from one count() of the input (a columnless
    parquet scan — footer-cheap next to the shuffle it sizes) at
    ``rows_per_shard`` rows per reducer, the same sizing discipline as
    ensure_parallelism. REPRODUCIBILITY CAVEAT: the shard count is part
    of the hash contract (shard = hash % num_shards), so a derived
    count changes the epoch's order whenever the corpus grows across
    runs — a trainer that must replay an epoch bit-for-bit should pin
    ``num_shards`` explicitly and record it in the run config.

    No global sort ever materializes a total order (the total order is
    the concatenation shard 0..N-1, which downstream loaders read
    shard-by-shard)."""
    if num_shards is None:
        num_shards = max(1, -(-df.count() // rows_per_shard))
    h = F.conv(F.substring(
        F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                          F.lit(str(epoch)))), 1, 8), 16, 10).cast("bigint")
    w = Window.partitionBy("shard").orderBy("_h", id_col)
    return (df.withColumn("_h", h)
            .withColumn("shard",
                        F.pmod(F.col("_h"), F.lit(num_shards)).cast("int"))
            .withColumn("pos", F.row_number().over(w).cast("bigint"))
            .drop("_h"))


def chunk_documents(df: DataFrame, chunk_chars: int = 400,
                    overlap: int = 80, text_col: str = "text",
                    id_col: str = "doc_id",
                    keep_cols: tuple = ()) -> DataFrame:
    """Split documents into overlapping character windows — the standard
    retrieval/training chunking step (context-length-bounded pieces with
    ``overlap`` chars of continuity at each boundary).

    One row per (doc, chunk): id, 0-based chunk_id, start offset, and the
    chunk text. Pure explode of a generated offset sequence — map-side,
    no shuffle, no Python; chunk membership is a function of the row, so
    re-runs and backfills produce identical chunk ids. At 100 TB this is
    the shape that matters: chunking is a flat-map, and anything stateful
    (a window over the corpus) would shuffle the whole text volume.
    """
    if chunk_chars <= overlap:
        raise ValueError("chunk_chars must exceed overlap")
    step = chunk_chars - overlap
    text = F.col(text_col)
    # n_chunks = ((max(len - overlap, 1) - 1) div step) + 1; integer math
    # only, so the DuckDB oracle can reproduce it bit-for-bit
    last_k = F.expr(
        f"(greatest(length({text_col}) - {overlap}, 1) - 1) div {step}")
    k = F.explode(F.sequence(F.lit(0).cast("bigint"),
                             last_k.cast("bigint"))).alias("chunk_id")
    return (
        df.filter(text.isNotNull())
        .select(F.col(id_col), *[F.col(c) for c in keep_cols], text, k)
        .select(
            id_col,
            *keep_cols,
            F.col("chunk_id"),
            (F.col("chunk_id") * step).alias("chunk_start"),
            text.substr(
                (F.col("chunk_id") * step + 1).cast("int"),
                F.lit(chunk_chars)).alias("chunk_text"),
        )
    )


def rebalance_mixture(df: DataFrame, strata_col: str = "source",
                      targets: dict[str, float] | None = None,
                      id_col: str = "doc_id") -> DataFrame:
    """Deterministically downsample strata to a target mixture — the
    training-data rebalancing step (e.g. cap web-crawl at 50%, keep all of
    the small curated sources).

    With ``targets`` = {stratum: proportion}, the kept corpus approaches
    the largest total consistent with never UPSAMPLING any stratum:
    c = min_s(n_s / p_s), keep_prob_s = c * p_s / n_s. ``targets=None``
    means uniform — every stratum downsampled toward the smallest one.
    Membership is the md5-of-id filter (map-side, re-run stable); kept
    sizes are binomial around the target, not exact counts — exactness
    would need a per-stratum rank window over the full corpus.

    Shape at scale: stratum statistics are a tiny aggregate (one shuffle
    of stratum cardinality rows), the probabilities broadcast back, and
    the sample itself is a pure filter. The two cross-stratum scalars
    (stratum count, min n/p) are single-row aggregates broadcast back
    over the tiny counts frame — not empty-partition windows, which plan
    a single-partition WindowExec and warn on every run even though the
    frame is metadata-sized.
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n"))
    if targets is None:
        k = counts.agg(F.count(F.lit(1)).alias("_k"))
        with_p = (counts.crossJoin(F.broadcast(k))
                  .withColumn("_p", F.lit(1.0) / F.col("_k")).drop("_k"))
    else:
        spark = df.sparkSession
        tgt = spark.createDataFrame(
            [(k, float(v)) for k, v in targets.items()],
            [strata_col, "_p"])
        with_p = counts.join(F.broadcast(tgt), strata_col)
    c = with_p.agg(F.min(F.col("_n") / F.col("_p")).alias("_c"))
    probs = (with_p.crossJoin(F.broadcast(c))
             .withColumn("_keep",
                         F.col("_c") * F.col("_p") / F.col("_n"))
             .drop("_c"))
    return (
        df.join(F.broadcast(probs.select(strata_col, "_keep")), strata_col)
        .filter(md5_uniform(F.col(id_col)) < F.col("_keep"))
        .drop("_keep")
    )


def temperature_mixture(df: DataFrame, alpha: float = 0.7,
                        strata_col: str = "source",
                        id_col: str = "doc_id") -> DataFrame:
    """Temperature-based mixture flattening: downsample strata toward
    proportions ∝ n^alpha — the standard multilingual/multi-source
    rebalance (alpha < 1 boosts small sources' relative share without
    upsampling anyone; alpha=1 keeps everything, alpha=0 equalizes).

    Closed form of :func:`rebalance_mixture` with targets ∝ n^alpha:
    keep_prob_s = (n_min / n_s)^(1-alpha) — the smallest stratum keeps
    every row, larger strata shed mass smoothly. Same scale shape:
    stratum counts are a tiny aggregate, keep-probabilities broadcast
    back, membership is the map-side md5-of-id filter (re-run and
    repartition stable).

    ``alpha`` must lie in [0, 1]: for alpha > 1 the pow in the keep
    formula is DECREASING in n, so the min would come from the LARGEST
    stratum and the semantics silently invert (smallest strata
    downsampled hardest) — rejected loudly instead.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(
            f"temperature_mixture: alpha must be in [0, 1], got {alpha} "
            "(alpha > 1 would invert the flattening: the keep formula's "
            "min would come from the largest stratum)")
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n"))
    m = counts.agg(F.min(F.pow("_n", 1.0 - alpha)).alias("_m"))
    probs = (counts.crossJoin(F.broadcast(m))
             .select(strata_col,
                     (F.col("_m") / F.pow("_n", 1.0 - alpha))
                     .alias("_keep")))
    return (df.join(F.broadcast(probs), strata_col)
            .filter(md5_uniform(F.col(id_col)) < F.col("_keep"))
            .drop("_keep"))


def sample_per_group(df: DataFrame, group_col: str, k: int,
                     id_col: str = "doc_id") -> DataFrame:
    """Deterministic fixed-size sample: exactly ``min(k, n_g)`` rows per
    group, chosen by md5-of-id rank — the exact-count sibling of the
    probabilistic samplers (binomial counts) for quotas that must be
    met ("500 eval docs per language"). Membership is a pure function
    of (id, k), so re-runs, backfills, and repartitioning cannot move
    the sample.

    One ranking window PER GROUP (partitioned — parallel across groups);
    groups so large that even a single group's rows swamp a partition
    would rank via the two-phase prefix-sum primitive instead.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string").cast("binary")), id_col)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k).drop("_rn"))


def unigram_logprob_score(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Per-document average token log-probability under a corpus-trained
    add-one-smoothed unigram LM — the classic cheap perplexity scorer for
    quality filtering (docs full of rare/garbage tokens score low, plain
    prose scores high). Returns (id, n_tokens, avg_logprob).

    Shape at scale: one exploded token scan -> vocabulary counts (map-side
    partials, vocabulary-sized result) -> probabilities BROADCAST back onto
    the token stream -> per-doc average. The corpus text shuffles as
    (doc_id, token) once; the model itself is a broadcast table. A
    bigram/KenLM upgrade keeps the same join shape with gram keys.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_c"))
    stats = counts.agg(F.sum("_c").alias("_n"),
                       F.count(F.lit(1)).alias("_v"))
    probs = counts.crossJoin(F.broadcast(stats)).select(
        "tok",
        ((F.col("_c") + 1).cast("double")
         / (F.col("_n") + F.col("_v")).cast("double")).alias("_p"))
    return (
        toks.join(F.broadcast(probs), "tok")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
             F.round(F.avg(F.log("_p")), 6).alias("avg_logprob"))
    )


def bigram_logprob_score(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         round_digits: int = 6) -> DataFrame:
    """Per-document average bigram log-probability under a corpus-trained
    add-one-smoothed bigram LM — the conditional upgrade of
    :func:`unigram_logprob_score` (p(w2|w1) instead of p(w)): catches
    scrambled/concatenated text that has plausible unigrams but
    implausible transitions. Returns (id, n_bigrams, avg_logprob).

    Smoothing: p(w2|w1) = (c(w1,w2) + 1) / (c(w1,·) + V), with c(w1,·)
    derived from the bigram counts (tokens in left-context position) and
    V the full corpus unigram vocabulary.

    Shape at scale: bigrams are built MAP-SIDE per document
    (``arrays_zip`` of two shifted slices — no self-join, no window),
    counted into a model table, and the model joins back onto the bigram
    stream on its (w1, w2) key. Unlike the unigram scorer the model is
    vocabulary-squared in the worst case, so it shuffle-joins rather than
    broadcasting; both sides hash-partition on the same composite key.
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda x: x != "")
    d = df.select(F.col(id_col), toks.alias("_tk"))
    bg = (d.filter(F.size("_tk") >= 2)
          .select(id_col,
                  F.slice("_tk", F.lit(1), F.size("_tk") - 1).alias("_l"),
                  F.slice("_tk", F.lit(2), F.size("_tk") - 1).alias("_r"))
          .select(id_col, F.explode(F.arrays_zip("_l", "_r")).alias("_p"))
          .select(id_col, F.col("_p._l").alias("w1"),
                  F.col("_p._r").alias("w2")))
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c2"))
    c1 = c2.groupBy("w1").agg(F.sum("_c2").alias("_c1"))
    vocab = (d.select(F.explode("_tk").alias("_w"))
             .agg(F.count_distinct("_w").alias("_v")))
    probs = (c2.join(c1, "w1").crossJoin(F.broadcast(vocab))
             .select("w1", "w2",
                     ((F.col("_c2") + 1).cast("double")
                      / (F.col("_c1") + F.col("_v")).cast("double"))
                     .alias("_p")))
    return (bg.join(probs, ["w1", "w2"])
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
                 F.round(F.avg(F.log("_p")),
                         round_digits).alias("avg_logprob")))


def bm25_topk(df: DataFrame, query_terms: list[str], top_k: int = 10,
              k1: float = 1.2, b: float = 0.75, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """BM25 ranked retrieval: top-``top_k`` documents for a bag-of-words
    query — the lexical-search workhorse between tf-idf term weighting
    (:func:`tfidf_top_terms`) and embedding ANN (operators/similarity):
    score(d) = sum over query terms of
    ``idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))`` with the
    Robertson-Sparck Jones ``idf = ln(1 + (N - df + .5)/(df + .5))``.

    Shape at scale: the token stream filters to query terms FIRST (a
    broadcast hash probe against a literal array), so everything
    downstream — term frequencies, document frequencies, the scoring
    join — is sized by documents-matching-query, not the corpus. Corpus
    stats (N, avgdl) and per-term df are one-row / query-sized broadcast
    frames; document length joins on the id key; the final top-k is an
    ordered limit (TakeOrderedAndProject, no global sort). Scores round
    to 6dp and tie-break on id so the ranking is engine-reproducible.

    Query terms fold to lowercase THROUGH THE ENGINE's lower() (the
    same fold the token stream gets — a Python-side str.lower() can
    disagree on Unicode edge cases), so mixed-case queries match exactly
    like the persisted-index path (indexing.py:bm25_search_persisted,
    which folds via lookup_terms) — the two retrieval paths stay drop-in
    interchangeable for any input casing (round-12 ADVICE fix; pinned in
    tests/test_corpus.py).
    """
    terms = F.array(*[F.lower(F.lit(t)) for t in query_terms])
    toks = df.select(
        F.col(id_col),
        F.explode(F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                           lambda x: x != "")).alias("tok"))
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("_dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("_n"),
                   F.avg("_dl").alias("_avgdl"))
    qtoks = toks.filter(F.array_contains(terms, F.col("tok")))
    tf = qtoks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("_tf"))
    dft = (qtoks.select(id_col, "tok").distinct()
           .groupBy("tok").agg(F.count(F.lit(1)).alias("_df")))
    scored = (tf.join(dl, id_col)
              .join(F.broadcast(dft), "tok")
              .crossJoin(F.broadcast(stats)))
    idf = F.log(F.lit(1.0) + (F.col("_n") - F.col("_df") + 0.5)
                / (F.col("_df") + 0.5))
    norm = (F.col("_tf") * (k1 + 1)
            / (F.col("_tf") + k1 * (1 - b + b * F.col("_dl")
                                    / F.col("_avgdl"))))
    return (scored.groupBy(id_col)
            .agg(F.round(F.sum(idf * norm), 6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col(id_col))
            .limit(top_k))


def percentile_rank(df: DataFrame, value_col: str,
                    out_col: str = "pct_rank",
                    round_digits: int = 6,
                    num_shards: int = 32) -> DataFrame:
    """EXACT percentile rank (``cume_dist``: fraction of rows with value
    <= this row's value) of ``value_col`` for every row — the standard
    normalization that turns a raw quality signal into a corpus-relative
    [0, 1] score ("keep the top 30%" works across heterogeneous sources
    where absolute thresholds don't transfer).

    ``cume_dist() OVER (ORDER BY v)`` is a single-partition global sort.
    Here instead: aggregate to per-distinct-value counts, run the shared
    two-phase prefix sum (sketches.py:two_phase_prefix_sum) over the
    distinct values, and join the value -> rank map back on the value key
    — exact, and every stage is parallel. The map is distinct-value
    sized; Spark/AQE broadcasts it when small.
    """
    from etl_mark1_spark.operators.sketches import two_phase_prefix_sum

    counts = df.groupBy(F.col(value_col).alias("_v")).agg(
        F.count(F.lit(1)).alias("_c"))
    total = counts.agg(F.sum("_c").alias("_n"))
    ranks = (two_phase_prefix_sum(counts, "_v", ["_c"],
                                  num_shards=num_shards)
             .crossJoin(F.broadcast(total))
             .select(F.col("_v"),
                     F.round(F.col("_c_cum") / F.col("_n"),
                             round_digits).alias(out_col)))
    return df.join(ranks, df[value_col] == ranks["_v"]).drop("_v")


def collocations_pmi(df: DataFrame, text_col: str = "text",
                     min_count: int = 5, k: int = 20) -> DataFrame:
    """Top-``k`` collocations by pointwise mutual information: adjacent
    word pairs that co-occur far more than their unigram frequencies
    predict (``pmi = ln(p(w1,w2) / (p(w1) p(w2)))``) — the classic
    phrase detector ("new york", "machine learning") feeding tokenizer
    phrase-merging and n-gram feature selection. ``min_count`` drops the
    unstable rare-pair tail, the standard practice.

    Same map-side bigram construction as :func:`bigram_logprob_score`
    (arrays_zip of shifted slices — no self-join); probabilities come
    from exact integer counts, so the scores are engine-reproducible,
    and the top-k is an ordered limit with a (pmi, w1, w2) tie-break.
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda x: x != "")
    d = df.select(toks.alias("_tk"))
    bg = (d.filter(F.size("_tk") >= 2)
          .select(F.slice("_tk", F.lit(1), F.size("_tk") - 1).alias("_l"),
                  F.slice("_tk", F.lit(2), F.size("_tk") - 1).alias("_r"))
          .select(F.explode(F.arrays_zip("_l", "_r")).alias("_p"))
          .select(F.col("_p._l").alias("w1"), F.col("_p._r").alias("w2")))
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c2"))
    uni = (d.select(F.explode("_tk").alias("_w"))
           .groupBy("_w").agg(F.count(F.lit(1)).alias("_c")))
    n2 = c2.agg(F.sum("_c2").alias("_n2"))
    n1 = uni.agg(F.sum("_c").alias("_n1"))
    pmi = F.log((F.col("_c2").cast("double") / F.col("_n2"))
                / ((F.col("_ca").cast("double") / F.col("_n1"))
                   * (F.col("_cb").cast("double") / F.col("_n1"))))
    return (c2.filter(F.col("_c2") >= min_count)
            .join(uni.select(F.col("_w").alias("w1"),
                             F.col("_c").alias("_ca")), "w1")
            .join(uni.select(F.col("_w").alias("w2"),
                             F.col("_c").alias("_cb")), "w2")
            .crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(n1))
            .select("w1", "w2", F.col("_c2").cast("bigint").alias("n"),
                    F.round(pmi, 6).alias("pmi"))
            .orderBy(F.col("pmi").desc(), "w1", "w2")
            .limit(k))


def build_vocab(df: DataFrame, text_col: str = "text", min_count: int = 2,
                max_size: int | None = None) -> DataFrame:
    """Frequency-ranked token vocabulary: (token, cnt, token_id) with ids
    assigned by (count DESC, token ASC) — the deterministic tie-break makes
    the id assignment reproducible across engines and runs.

    Shape at scale: one exploded token scan -> per-token counts (map-side
    partials collapse the Zipf head before the shuffle) -> ``min_count``
    filter drops the hapax long tail BEFORE any ordering. With
    ``max_size`` set, the cap compiles to TakeOrderedAndProject
    (per-partition heaps, no global sort shuffle) and the ranking window
    then runs over at most ``max_size`` rows — bounded by the parameter,
    not the corpus. Without a cap the final rank is one sort of the
    surviving vocabulary (vastly smaller than the corpus, but unbounded:
    set ``max_size`` at 100 TB).
    """
    toks = df.select(
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    counts = (toks.groupBy("token")
              .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
              .filter(F.col("cnt") >= min_count))
    ordered = counts.orderBy(F.col("cnt").desc(), "token")
    if max_size is not None:
        ordered = ordered.limit(max_size)
    w = Window.orderBy(F.col("cnt").desc(), "token")
    return ordered.withColumn(
        "token_id", F.row_number().over(w).cast("bigint"))


def encode_tokens(df: DataFrame, vocab: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  out_col: str = "token_ids") -> DataFrame:
    """Encode each document as its in-vocabulary token-id sequence
    (out-of-vocabulary tokens are dropped — the deterministic policy a SQL
    oracle can replay; map OOV to a reserved id upstream if you need it).

    The vocabulary is broadcast-sized by construction (build_vocab caps
    it), so the token->id lookup is a broadcast join on the exploded
    token stream; re-assembly is one per-document aggregation with the
    order restored by sorting on token position — no Python, and the only
    shuffle is the per-doc regroup."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+"))
        .alias("_pos", "token"),
    ).filter(F.col("token") != "")
    joined = toks.join(F.broadcast(vocab.select("token", "token_id")),
                       "token")
    return (joined.groupBy(id_col)
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "token_id"))),
                lambda x: x["token_id"]).alias(out_col)))


def dsir_importance(corpus: DataFrame, target: DataFrame,
                    text_col: str = "text", id_col: str = "doc_id",
                    hash_buckets: int | None = None) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS
    2023), reduced to its deterministic core: score every corpus document
    by how much more likely its tokens are under a target-domain unigram
    LM than under the raw-corpus LM,

        score(d) = avg_t [ ln p_target(t) - ln p_corpus(t) ]

    with both LMs add-1-smoothed over the union vocabulary. High scores =
    looks like the target distribution; feed the scores to
    weighted_sample for the resampling step.

    ``hash_buckets`` replaces tokens with md5 buckets (the paper's hashed
    n-gram features): caps both count tables at the bucket count no
    matter the vocabulary, engine-reproducible because the bucketing is
    md5 arithmetic, not an engine hash.

    Shape at scale: two vocabulary-sized (or bucket-capped) count tables
    built with map-side partials; the per-token log-ratio table
    BROADCASTS onto one exploded corpus scan; one per-doc average. The
    target corpus is small by definition (it is the domain sample);
    nothing else shuffles except the (doc, token) regroup.
    """
    def toks(df, *cols):
        t = df.select(
            *cols,
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+"))
            .alias("tok")).filter(F.col("tok") != "")
        if hash_buckets is not None:
            t = t.withColumn(
                "tok", _md5_bucket(F.col("tok"), hash_buckets)
                .cast("string"))
        return t

    t_counts = toks(target).groupBy("tok").agg(
        F.count(F.lit(1)).alias("_ct"))
    c_counts = toks(corpus).groupBy("tok").agg(
        F.count(F.lit(1)).alias("_cc"))
    vocab = (t_counts.select("tok").unionByName(c_counts.select("tok"))
             .distinct())
    sizes = vocab.agg(F.count(F.lit(1)).alias("_v")).crossJoin(
        t_counts.agg(F.sum("_ct").alias("_nt"))).crossJoin(
        c_counts.agg(F.sum("_cc").alias("_nc")))
    ratios = (vocab.join(t_counts, "tok", "left")
              .join(c_counts, "tok", "left")
              .crossJoin(F.broadcast(sizes))
              .select(
                  "tok",
                  (F.log((F.coalesce(F.col("_ct"), F.lit(0)) + 1)
                         .cast("double")
                         / (F.col("_nt") + F.col("_v")).cast("double"))
                   - F.log((F.coalesce(F.col("_cc"), F.lit(0)) + 1)
                           .cast("double")
                           / (F.col("_nc") + F.col("_v")).cast("double"))
                   ).alias("_lr")))
    return (toks(corpus, id_col).join(F.broadcast(ratios), "tok")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                 F.round(F.avg("_lr"), 6).alias("dsir_score")))


def sample_to_token_budget(df: DataFrame, budgets: dict[str, int],
                           strata_col: str = "source",
                           text_col: str = "text", id_col: str = "doc_id",
                           size_col: str | None = None) -> DataFrame:
    """Fill each stratum to an exact TOKEN budget — the "make me a
    1T-token mix at these proportions" step that rebalance_mixture's
    doc-count probabilities can't express (documents vary in length).

    Documents are taken in md5-of-id order (pseudo-random but re-run /
    repartition / backfill stable) and a stratum stops accepting once
    its running token total reaches the budget: keep while
    running_sum_before < budget, so the final kept document may overshoot
    by less than its own length, and a stratum whose corpus is smaller
    than its budget keeps everything. Strata not in ``budgets`` are
    dropped (the join doubles as the mixture filter).

    Shape at scale: the budget table broadcasts; the only shuffle is the
    per-stratum running-sum window, which packs strata in parallel —
    shard a single huge stratum the way pack_sequences does if one
    stratum dominates. Returns (id, stratum, n_tokens).
    """
    from etl_mark1_spark.functions.text import whitespace_token_count

    size = (F.col(size_col) if size_col
            else whitespace_token_count(F.col(text_col)))
    spark = df.sparkSession
    b = spark.createDataFrame(
        [(k, int(v)) for k, v in budgets.items()],
        [strata_col, "_budget"])
    sized = (df.join(F.broadcast(b), strata_col)
             .withColumn("_nt", size.cast("long")))
    w = (Window.partitionBy(strata_col)
         .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
         .rowsBetween(Window.unboundedPreceding, 0))
    before = F.sum("_nt").over(w) - F.col("_nt")
    return (sized.withColumn("_before", before)
            .filter(F.col("_before") < F.col("_budget"))
            .select(id_col, strata_col, F.col("_nt").alias("n_tokens")))


# -- step-DSL integration ---------------------------------------------------
# The corpus operators double as step operators, so the reference-style
# pipeline surface ({"operator": ..., "params": ...}) can run a curation
# chain (backend/schemas/schemas.py:227-230 is the wire shape).

def _register_steps() -> None:
    from etl_mark1_spark.operators.steps import register_operator

    register_operator(
        "train_test_split",
        lambda df, p: train_test_split(
            df, id_col=p.get("id_column", "doc_id"),
            train_pct=int(p.get("train_pct", 80))))
    register_operator(
        "redact_pii",
        lambda df, p: redact_pii(
            df, text_col=p.get("column", "text"),
            out_col=p.get("target_column", "clean_text")))
    register_operator(
        "stratified_sample",
        lambda df, p: stratified_sample(
            df, p["strata_column"], float(p["fraction"]),
            id_col=p.get("id_column", "doc_id")))
    register_operator(
        "pack_sequences",
        lambda df, p: pack_sequences(
            df, int(p["budget"]), size_col=p.get("size_column", "n_tokens"),
            shard_col=p.get("shard_column"),
            id_col=p.get("id_column", "doc_id")))
    register_operator(
        "chunk_documents",
        lambda df, p: chunk_documents(
            df, chunk_chars=int(p.get("chunk_chars", 400)),
            overlap=int(p.get("overlap", 80)),
            text_col=p.get("column", "text"),
            id_col=p.get("id_column", "doc_id")))
    register_operator(
        "rebalance_mixture",
        lambda df, p: rebalance_mixture(
            df, strata_col=p.get("strata_column", "source"),
            targets=p.get("targets"),
            id_col=p.get("id_column", "doc_id")))
    register_operator(
        "token_budget_sample",
        lambda df, p: sample_to_token_budget(
            df, {k: int(v) for k, v in p["budgets"].items()},
            strata_col=p.get("strata_column", "source"),
            text_col=p.get("column", "text"),
            id_col=p.get("id_column", "doc_id"),
            size_col=p.get("size_column")))

    def _strip_spans(df, p):
        from etl_mark1_spark.operators.spans import strip_duplicate_spans

        return strip_duplicate_spans(
            df, text_col=p.get("column", "text"),
            id_col=p.get("id_column", "doc_id"),
            n=int(p.get("ngram", 8)),
            min_docs=int(p.get("min_docs", 2)),
            out_col=p.get("target_column", "clean_text"))

    register_operator("strip_duplicate_spans", _strip_spans)

    def _gopher(df, p):
        from etl_mark1_spark.functions.text import gopher_quality_flags

        flags = gopher_quality_flags(
            df, text_col=p.get("column", "text"),
            id_col=p.get("id_column", "doc_id"))
        if p.get("filter", True):
            id_col = p.get("id_column", "doc_id")
            return df.join(flags.filter("keep").select(id_col),
                           id_col, "left_semi")
        return flags

    register_operator("gopher_quality_filter", _gopher)
    register_operator(
        "temperature_mixture",
        lambda df, p: temperature_mixture(
            df, alpha=float(p.get("alpha", 0.7)),
            strata_col=p.get("strata_column", "source"),
            id_col=p.get("id_column", "doc_id")))
    register_operator(
        "sample_per_group",
        lambda df, p: sample_per_group(
            df, p["group_column"], int(p["k"]),
            id_col=p.get("id_column", "doc_id")))
    def _keep_best(df, p):
        from etl_mark1_spark.operators.dedup import dedup_keep_best

        return dedup_keep_best(
            df, key_col=p.get("key_column", "text"),
            score_col=p.get("score_column", "n_chars"),
            id_col=p.get("id_column", "doc_id"))

    register_operator("dedup_keep_best", _keep_best)
    register_operator(
        "percentile_rank",
        lambda df, p: percentile_rank(
            df, p["column"],
            out_col=p.get("target_column", "pct_rank")))

    def _winsorize(df, p):
        from etl_mark1_spark.plans.quality import winsorize

        return winsorize(
            df, p["column"], lo=float(p.get("lo", 0.01)),
            hi=float(p.get("hi", 0.99)),
            out_col=p.get("target_column"),
            exact=bool(p.get("exact", False)))

    register_operator("winsorize", _winsorize)


_register_steps()


def inverted_index(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Postings of an inverted index as ROWS: one (token, doc_id) per
    distinct token occurrence, the form search infrastructure builds
    from (write it partitioned/bucketed by token and a term lookup is a
    partition-pruned scan). Deliberately NOT a posting-LIST column: a
    stopword's list would concentrate its entire corpus-wide posting
    set in one task's aggregation state, while rows shard it like any
    other key. One explode + one distinct shuffle; tokens come from the
    normalized (lowercased, whitespace-collapsed) text."""
    from etl_mark1_spark.functions.text import normalized_text
    from etl_mark1_spark.operators.dedup import ensure_parallelism

    return (ensure_parallelism(df)
            .select(F.col(id_col),
                    F.explode(F.split(normalized_text(F.col(text_col)),
                                      " ")).alias("token"))
            .filter(F.col("token") != "")
            .distinct())


def token_index_stats(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      min_df: int = 1) -> DataFrame:
    """Per-token index statistics over the postings: document frequency,
    posting range (min/max doc id), and the BM25 idf
    ``ln((N - df + 0.5) / (df + 0.5) + 1)`` — the dictionary side of the
    inverted index, and the stats a query planner or BM25 scorer loads.

    Every aggregate is ALGEBRAIC (count/min/max with map-side partials),
    so a stopword's millions of postings collapse inside each task
    before the shuffle — this is why the entry carries no posting-list
    column (see :func:`inverted_index`). N is one bounded driver count.
    Returns (token, df, min_doc, max_doc, idf) for tokens with
    ``df >= min_df``."""
    n_docs = df.select(id_col).distinct().count()
    postings = inverted_index(df, text_col, id_col)
    idf = F.log((F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    return (postings.groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("df"),
                 F.min(id_col).cast("bigint").alias("min_doc"),
                 F.max(id_col).cast("bigint").alias("max_doc"))
            .filter(F.col("df") >= min_df)
            .withColumn("idf", F.round(idf, 6)))


def waterfill_budget(df: DataFrame, budget: int,
                     strata_col: str = "source",
                     text_col: str = "text") -> DataFrame:
    """Exact water-filling allocation of a global token budget across
    strata: find the single cap ``c`` with ``sum_s min(n_s, c) = budget``
    and allocate ``min(n_s, c)`` to each stratum — the closed-form answer
    to "trim the over-represented sources, keep the small ones whole"
    that a mixture designer otherwise eyeballs (the same knee-finding
    construction as max-min fair bandwidth allocation).

    Solved EXACTLY, no iteration: sort the per-stratum counts ascending,
    take prefix sums; stratum ``i`` (1-based, ``m`` strata) survives
    uncapped iff ``S_i + n_i * (m - i) <= budget`` (filling everyone
    else to at least ``n_i`` still fits). With ``i*`` the largest such
    index, ``c = (budget - S_{i*}) / (m - i*)``. When the corpus already
    fits the budget the cap is NULL and every allocation is ``n_s``.

    Scale shape: one shuffle for the per-stratum token counts (map-side
    partials); the sort, prefix-sum window, and knee scalar all run on
    the AGGREGATED frame — rows = number of strata, not corpus size. The
    knee scalar broadcasts back onto that same tiny frame.

    Returns (strata_col, n_tokens, cap, alloc_tokens); ``cap`` and
    ``alloc_tokens`` are rounded doubles (the cap is generally
    fractional)."""
    from etl_mark1_spark.functions.text import whitespace_token_count

    counts = (df.groupBy(strata_col)
              .agg(F.sum(whitespace_token_count(F.col(text_col)))
                   .cast("bigint").alias("n_tokens")))
    w = Window.orderBy("n_tokens", strata_col)
    ranked = (counts
              .withColumn("_i", F.row_number().over(w))
              .withColumn("_s", F.sum("n_tokens").over(w)))
    m = Window.partitionBy()
    ranked = ranked.withColumn("_m", F.max("_i").over(m))
    uncapped = (F.col("_s")
                + F.col("n_tokens") * (F.col("_m") - F.col("_i"))
                <= F.lit(budget))
    knee = (ranked
            .select(F.max(F.when(uncapped, F.col("_i"))).alias("_istar"),
                    F.max(F.when(uncapped, F.col("_s"))).alias("_sstar"),
                    F.max("_m").alias("_mm")))
    cap = F.when(
        F.col("_istar").isNull(),
        (F.lit(budget) - F.lit(0)) / F.col("_mm")).otherwise(
        F.when(F.col("_istar") < F.col("_mm"),
               (F.lit(budget) - F.col("_sstar"))
               / (F.col("_mm") - F.col("_istar"))))
    out = (ranked.crossJoin(F.broadcast(knee))
           .withColumn("cap", F.round(cap, 6))
           .withColumn(
               "alloc_tokens",
               F.round(F.when(F.col("cap").isNull(),
                              F.col("n_tokens").cast("double"))
                       .otherwise(F.least(F.col("n_tokens").cast("double"),
                                          F.col("cap"))), 6)))
    return out.select(strata_col, "n_tokens", "cap", "alloc_tokens")


def luhn_valid(col: Column) -> Column:
    """Luhn checksum validity of a digit string, as a pure column
    expression: from the RIGHTMOST digit, double every second digit
    (subtracting 9 when the double exceeds 9) and require the sum to be
    divisible by 10 — the checksum every real payment-card number
    carries, and the filter that separates card-shaped noise (order ids,
    timestamps) from redaction-worthy PII. JVM-side ``aggregate`` over a
    generated index sequence; no UDF.

    Returns a DEFINITE boolean for arbitrary input: a leading all-digit
    guard short-circuits non-digit strings to false (without it the
    per-digit ``cast('int')`` yields NULL, which would propagate through
    the aggregate and surface as NULL instead of false)."""
    rev = F.reverse(col)
    n = F.length(col)
    total = F.aggregate(
        F.sequence(F.lit(1), n), F.lit(0),
        lambda acc, i: acc + F.when(
            i % 2 == 0,
            F.when(F.substring(rev, i, 1).cast("int") * 2 > 9,
                   F.substring(rev, i, 1).cast("int") * 2 - 9)
            .otherwise(F.substring(rev, i, 1).cast("int") * 2))
        .otherwise(F.substring(rev, i, 1).cast("int")))
    return (n >= 13) & col.rlike("^[0-9]+$") & (total % 10 == 0)


def scan_card_numbers(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Payment-card PII audit: extract every 13-19 digit run, validate
    each with the Luhn checksum, and report per-document candidate and
    valid counts — the release-blocking scan a corpus runs before
    shipping (a bare ``[0-9]{16}`` regex flags ~10x more false positives
    than Luhn survivors; redact the survivors, keep the rest).

    Map-side only: regex extraction and the checksum are column
    expressions inside the document scan; the per-document counts are
    array aggregates, so there is NO explode and NO shuffle — the output
    is a projection of the scan. Returns (id_col, n_candidates, n_valid)
    for documents with at least one candidate."""
    cands = F.regexp_extract_all(F.col(text_col), F.lit(r"[0-9]{13,19}"),
                                 F.lit(0))
    valid = F.filter(cands, luhn_valid)
    return (df.select(
        F.col(id_col),
        F.size(cands).cast("bigint").alias("n_candidates"),
        F.size(valid).cast("bigint").alias("n_valid"))
        .filter(F.col("n_candidates") > 0))


def ngram_novelty(df: DataFrame, n: int = 5, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's DISTINCT
    word n-grams whose corpus-wide first occurrence (minimum doc id) is
    this document — 1.0 for genuinely fresh text, near 0 for boilerplate
    re-statements. The keep-first-order complement of span dedup: instead
    of rewriting text it SCORES residual duplication, which is the signal
    quality filters threshold on.

    Scale shape: within-document gram dedup happens IN-ROW
    (``array_distinct`` over the gram array in the scan — no
    (doc, gram) distinct shuffle), grams travel as 8-byte ``xxhash64``
    keys, never strings (the keying cannot change the output — any
    collision-free keying yields the same min-doc attribution, so the
    oracle replays raw gram strings), and the gram GENERATION — the
    dominant CPU cost, higher-order expressions outside codegen — runs
    exactly ONCE: both consumers hang off one explicit ``repartition``
    exchange (totals recount by doc; gram-level min-doc regrouped by
    its value for the novel counts), which Spark's ReuseExchange
    serves to both without re-evaluating the scan. Profiled the
    alternatives at sf0.1: any shape that references the gram array
    from two subplans re-runs the generation and doubles the wall
    clock. Round-13-opt: the generation scan fans out first
    (``ensure_parallelism`` — a compact parquet corpus arrives as ONE
    split, which serialized the whole ~4 s gram stage on a single core
    at sf0.1; real many-split corpora pass through untouched).
    Returns (id_col, n_grams, novel_frac rounded to 6)."""
    from etl_mark1_spark.operators.dedup import ensure_parallelism

    ex = (ensure_parallelism(df)
          .select(F.col(id_col),
                  F.explode(F.array_distinct(
                      word_ngrams(text_col, n, "lower_ws", "none")))
                  .alias("_gram"))
          .select(F.col(id_col), F.xxhash64("_gram").alias("_g"))
          .repartition("_g"))
    totals = ex.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"))
    novel = (ex.groupBy("_g").agg(F.min(id_col).alias(id_col))
             .groupBy(id_col)
             .agg(F.count(F.lit(1)).cast("bigint").alias("_novel")))
    return (totals.join(novel, id_col, "left")
            .select(id_col, "n_grams",
                    F.round(F.coalesce(F.col("_novel"), F.lit(0))
                            / F.col("n_grams"), 6).alias("novel_frac")))


def oov_rate(df: DataFrame, vocab_size: int = 10, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-``vocab_size`` tokens (count DESC, token ASC tie-break): the
    tokenizer-fit diagnostic — a stratum whose OOV rate spikes is text
    the vocabulary (and so the tokenizer) underserves.

    Two phases, both bounded: (1) corpus token counts with map-side
    partials, capped to ``vocab_size`` rows via TakeOrderedAndProject —
    no global sort; (2) the vocabulary broadcasts into a map-side
    membership test over each document's token array — counting per-doc
    occurrences directly in the scan, so phase 2 adds NO shuffle and no
    explode. Returns (id_col, n_tokens, oov_rate rounded to 6)."""
    vocab = [r["token"] for r in
             build_vocab(df, text_col=text_col, min_count=1,
                         max_size=vocab_size).collect()]
    vocab_arr = F.array([F.lit(v) for v in sorted(vocab)])
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda t: t != "")
    oov = F.filter(toks, lambda t: ~F.array_contains(vocab_arr, t))
    return (df.select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.round(F.size(oov) / F.greatest(F.size(toks), F.lit(1)), 6)
        .alias("oov_rate"))
        .filter(F.col("n_tokens") > 0))
