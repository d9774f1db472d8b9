"""Deduplication operators for large-scale document pipelines.

Five families (SURVEY.md §7.2 step 8; first-class components beyond the
reference's ``deduplicate_rows``):

- exact           : hash-groupBy on content or fingerprint — one shuffle
- MinHash + LSH   : shingle -> minhash signature -> banded buckets ->
                    bucket-join candidates -> exact-Jaccard verify ->
                    min-label clustering
- SimHash         : 64-bit weighted token hash, banded hamming buckets
- n-gram Jaccard  : word-ngram variant of the MinHash pipeline
- embedding cosine: random-hyperplane LSH buckets over a vector column

Design for 100 TB:
- Signatures/buckets computed with built-in expressions (xxhash64, transform,
  array_min) — JVM codegen, no Python in the hot path; SimHash is the one
  Arrow-batched Pandas UDF (bit-twiddling isn't expressible efficiently in
  SQL expressions).
- Candidate generation is a self-equi-join on bucket id (shuffle on bucket),
  never an all-pairs product.
- Clustering is iterative min-label propagation over the verified-pair edge
  list — a few hash joins, no driver-side union-find, no collect().
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_mark1_spark.functions.grams import (char_shingles, tokens,
                                             word_ngram_rows, word_ngrams)
from etl_mark1_spark.operators.similarity import _rhp_signature, dot, l2_norm


# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------

def _plan_has_shuffle_exchange(jplan) -> bool:
    """Walk a physical-plan (SparkPlan) tree for a SHUFFLE exchange —
    ``ShuffleExchangeExec`` or an AQE ``ShuffleQueryStageExec`` wrapper —
    by node CLASS, not by matching substrings of the explain string
    (format drifts across Spark versions; class names are the API).
    Broadcast exchanges deliberately don't count: a single-split scan
    broadcast-joined to a tiny dim frame is still serialized on one core.
    ``AdaptiveSparkPlanExec`` is a leaf wrapper, so descend into its
    ``initialPlan`` — the plan AFTER EnsureRequirements inserted the
    exchanges (``inputPlan`` is pre-insertion and shows none); plain
    ``children()`` covers everything else."""
    stack = [jplan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name.startswith(("ShuffleExchange", "ShuffleQueryStage")):
            return True
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.initialPlan())
            continue
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())
    return False


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Fan a narrow FILE-BACKED input out to the cluster's parallelism.

    Compact columnar files arrive in very few partitions (a 5 MB parquet is
    ONE split), which serializes every downstream CPU-heavy stage — shingling
    a corpus on a single core while 31 idle. A cheap round-robin repartition
    before expensive per-row work fixes that; inputs that already have enough
    splits (the 100 TB case) pass through untouched.

    Derived frames (post-join/post-agg — ``inputFiles()`` is empty) pass
    through untouched: their partitioning reflects upstream shuffles and
    AQE's coalescing, and a blind round-robin there is a gratuitous
    full-data shuffle at scale. Callers that KNOW such a frame is narrow
    (e.g. a tiny in-memory test frame) opt in with ``min_partitions``.
    """
    if min_partitions is not None:
        return df.repartition(min_partitions)
    files = df.inputFiles()
    if not files:  # in-memory frame: parallelized at creation, trust it
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    # df.rdd.getNumPartitions() would answer exactly but forces a full
    # plan-to-RDD conversion per call; the file count is a free proxy:
    # few source files means few splits. Many files => enough natural
    # parallelism => pass through. NB inputFiles() reports the LEAF scans'
    # files even for post-join/post-agg frames, so a shuffle check below
    # keeps derived frames out.
    # Fan out only on a REAL shortfall (round-14, ADVICE r13): at
    # files >= target/2 the round-robin would shuffle the full document
    # text for at most a 2x parallelism gain — a bad trade at corpus
    # scale (e.g. 100 files on a 128-core cluster). A genuinely narrow
    # input (the compact-fixture case: 1-2 splits) still spreads.
    if len(files) >= max(1, target // 2):
        return df
    # A frame whose plan already SHUFFLES (join/agg/window upstream) has
    # its partitioning set by that shuffle and AQE's coalescing — adding a
    # round-robin there is a gratuitous full-data shuffle at scale. Only a
    # shuffle-free narrow scan genuinely inherits the (few) file splits.
    # Detection walks the physical-plan tree by node class (see
    # _plan_has_shuffle_exchange) — explain-string matching proved brittle
    # across Spark versions.
    if _plan_has_shuffle_exchange(df._jdf.queryExecution().executedPlan()):
        return df
    return df.repartition(target)


def release_checkpoint(df: DataFrame, deep: bool = False) -> None:
    """Free the executor storage blocks behind a ``localCheckpoint``'d frame.

    ``localCheckpoint`` truncates lineage, so its blocks cannot be
    recomputed — only call this once nothing still depends on ``df``. In a
    long-lived session (the DAG-executor use case) un-released checkpoints
    are unbounded executor storage growth; every checkpoint this module
    creates is released as soon as its consumers have run. No-op for frames
    that are not checkpoint-backed.

    ``deep=True`` walks the whole plan and frees EVERY checkpoint the
    frame leans on — the caller-owned hook for derived results (e.g. the
    final labels checkpoint under a distributed-path dedup result:
    consume the result, then ``release_checkpoint(result, deep=True)``).
    The default stays root-only because internal loops release one frame
    while siblings still share upstream checkpoints.

    Best-effort: failure here is storage pressure, never a correctness
    problem.
    """
    try:
        def walk(plan) -> None:
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(False)
                if not deep:
                    return
            if not deep:
                return
            children = plan.children()
            for i in range(children.size()):
                walk(children.apply(i))

        walk(df._jdf.queryExecution().analyzed())
    except Exception:
        pass


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                keep: str = "min_id") -> DataFrame:
    """Exact dedup on content: one row per distinct ``text_col``.

    ``keep="min_id"`` keeps the row whose id is smallest — deterministic,
    unlike ``dropDuplicates`` — via a min-aggregation + semi-join (two
    shuffles on content hash, no window sort). ``keep="any"`` is the cheaper
    ``dropDuplicates``.
    """
    if keep == "any":
        return df.dropDuplicates([text_col])
    keeper = df.groupBy(text_col).agg(F.min(id_col).alias(id_col))
    return df.join(keeper, [text_col, id_col], "left_semi")


def dedup_keep_best(df: DataFrame, key_col: str = "text",
                    score_col: str = "n_chars",
                    id_col: str = "doc_id") -> DataFrame:
    """Exact dedup keeping the BEST duplicate per key, not an arbitrary
    one: within each ``key_col`` group the row with the highest
    ``score_col`` survives (ties broken by smallest ``id_col`` —
    deterministic). The standard curation shape when near-identical
    documents differ in completeness — keep the longest / highest-quality
    copy, drop the rest.

    Same two-shuffle shape as :func:`dedup_exact`: a ``max_by`` aggregation
    carries only (score, id) through the exchange — never whole rows — and
    a semi-join on (key, id) recovers the winners. ``id_col`` must be
    numeric (the tie-break negates it so one ``max_by`` resolves both
    ordering levels).
    """
    order = F.struct(F.col(score_col).alias("s"),
                     (-F.col(id_col)).alias("ni"))
    keeper = df.groupBy(key_col).agg(
        F.max_by(F.col(id_col), order).alias(id_col))
    return df.join(keeper, [key_col, id_col], "left_semi")


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def lsh_band_buckets(sig_col: str, bands: int, rows_per_band: int) -> Column:
    """Bucket ids: hash each band (slice of the signature) together with its
    band index so buckets from different bands never collide.

    Built as one parsed SQL expression over the signature column's name:
    ``bands`` nested Column trees (lit + slice + transform-lambda +
    concat_ws + xxhash64 each) cost ~0.2 s of driver py4j round trips per
    call at 12 bands, and parse JVM-side to the identical analyzed plan."""
    parts = ", ".join(
        f"xxhash64({b}, concat_ws(',', transform("
        f"slice({sig_col}, {b * rows_per_band + 1}, {rows_per_band}), "
        f"x -> CAST(x AS STRING))))"
        for b in range(bands))
    return F.expr(f"array({parts})")


def _minhash_signatures(base: DataFrame, id_col: str,
                        num_hashes: int) -> DataFrame:
    """The one MinHash signature scheme: ``(id_col, _sh)`` shingle arrays in,
    ``(id_col, _sig array<long>)`` out. Persisted ``minhash_index`` rows
    depend on it, so changing it changes what an index stores.

    Explode + flat min-aggregates rather than one giant nested-lambda
    expression: ``num_hashes`` ``array_min(transform(...))`` columns blow
    past the codegen size limit (interpreted fallback, MB-sized task
    binaries); exploding shingles and taking ``num_hashes`` MIN aggregates
    keeps every codegen unit small and gets map-side partial aggregation —
    the shuffle carries one partial signature per (id, partition), not the
    shingles. Each shingle is hashed to a long once and the hash family
    rehashes that long per seed; ``array_distinct`` drops duplicate
    shingles map-side first (they add nothing to a MIN but multiply the
    rehash rows, ~20% of the hot stage on prose corpora). The aggregates
    are parsed SQL strings, not 4-deep Column trees (~0.5 s of driver py4j
    time per call at 48 hashes; the analyzed plan is identical)."""
    hashed = base.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.transform(
            F.col("_sh"), lambda s: F.xxhash64(s)))).alias("_h"))
    names = ", ".join(f"_m{i}" for i in range(num_hashes))
    return (hashed.groupBy(id_col)
            .agg(*[F.expr(f"min(xxhash64(_h, {i})) AS _m{i}")
                   for i in range(num_hashes)])
            .select(F.col(id_col), F.expr(f"array({names}) AS _sig")))


def _agreement_prefilter(sig_a: str, sig_b: str, num_hashes: int,
               threshold: float) -> Column:
    """Signature-agreement prefilter ahead of the exact verify: the share
    of agreeing MinHash slots is an unbiased Jaccard estimate, so a pair
    whose estimate is below ``threshold - 0.2`` (false-drop probability
    ~1e-4 at 64 hashes) never touches the shingle sets. On template-heavy
    corpora this cuts verify pairs by orders of magnitude, and at scale
    the wide shingle arrays are only shuffled for the surviving pairs."""
    agree = F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
                 lambda v: v == 1)
    ) / F.lit(float(num_hashes))
    return agree >= max(0.0, threshold - 0.2)


def _verify_jaccard(pairs: DataFrame, a: str, b: str, sets_a: DataFrame,
                    sets_b: DataFrame, threshold: float) -> DataFrame:
    """Exact verify: ``pairs`` (columns ``a``, ``b``) joined to each side's
    shingle sets — ``sets_a`` is ``(a, _sh)``, ``sets_b`` is ``(b, _sh)`` —
    keeping the pairs whose exact Jaccard ``_j`` is >= ``threshold``. The
    sketches only narrow candidates; this is the final word on membership."""
    return (pairs
            .join(sets_a.select(a, F.col("_sh").alias("_sh_a")), a)
            .join(sets_b.select(b, F.col("_sh").alias("_sh_b")), b)
            .withColumn("_j", jaccard(F.col("_sh_a"), F.col("_sh_b")))
            .filter(F.col("_j") >= threshold))


def _band_pairs(bucketed: DataFrame, id_col: str,
                keys: tuple = ("_bucket",), carry: tuple = ()) -> DataFrame:
    """Candidate pairs of a bucket self-join on ``keys``: one row per pair
    with ``src < dst``, each ``carry`` column ``c`` riding along as ``ca``
    (the src side) and ``cb`` (the dst side). The join shuffles on the
    bucket; candidate volume is bounded by bucket sizes, never all-pairs."""
    def side(name: str, tag: str) -> DataFrame:
        return bucketed.select(F.col(id_col).alias(name),
                               *[F.col(c).alias(c + tag) for c in carry],
                               *keys)
    return (side("src", "a").join(side("dst", "b"), list(keys))
            .filter(F.col("src") < F.col("dst"))
            .drop(*keys)
            .dropDuplicates(["src", "dst"]))


def _pigeonhole_buckets(hash_col: str, max_hamming: int) -> Column:
    """Band a 64-bit fingerprint into ``max_hamming + 1`` tagged chunks
    (pigeonhole: two fingerprints within ``max_hamming`` bits share at
    least one identical chunk, since band-local differences cannot exceed
    the total)."""
    n_bands = max_hamming + 1
    width = 64 // n_bands
    return F.array(*[
        F.concat_ws(":", F.lit(b),
                    F.shiftrightunsigned(F.col(hash_col), b * width)
                    .bitwiseAND(F.lit((1 << width) - 1)).cast("string"))
        for b in range(n_bands)
    ])


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def _cluster_min_label(ids: DataFrame, edges: DataFrame, id_col: str,
                       max_iter: int = 10,
                       driver_threshold: int = 2_000_000,
                       release_after_edges: tuple = ()) -> DataFrame:
    """Connected components: each node labeled with the minimum id of its
    component. ``edges`` has columns (src, dst), undirected.

    Near-dup edge lists are sparse relative to the corpus, so when the edge
    list fits comfortably on the driver (< driver_threshold edges) a local
    union-find resolves components in one collect — replacing ~10 fixed-cost
    Spark jobs with one. Above the threshold, iterative min-label
    propagation runs distributed: O(E) hash joins per round, no driver
    state, which is the 100 TB path.

    ``release_after_edges``: checkpointed frames the EDGE pipeline depends
    on; their storage blocks are freed the moment the edge list has been
    materialized (collected or checkpointed), so repeated dedup calls in a
    long-lived session keep executor storage flat.

    CALLER-OWNED STORAGE on the distributed (> driver_threshold edges)
    path only: the returned frame depends on the final labels
    ``localCheckpoint`` (node-count sized), which must stay alive until
    the caller has consumed the result — consume it, then call
    ``release_checkpoint(result, deep=True)`` (or close the session) to
    free it. The driver union-find path retains nothing
    (test_minhash_dedup_leaves_storage_flat asserts flat storage there).
    """
    sym = edges.union(edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst"))).distinct()

    # Small-graph probe and fast path in ONE action: collect up to
    # threshold+1 edges. When the edge list is sparse (the normal near-dup
    # case) this single job replaces the old checkpoint + count + collect
    # triple — the rows ARE the union-find input. Only a genuinely large
    # graph pays for the checkpoint and the distributed loop.
    head = sym.limit(driver_threshold + 1).collect()
    if len(head) <= driver_threshold:
        # edge pipeline fully consumed — upstream checkpoints can go now
        for upstream in release_after_edges:
            release_checkpoint(upstream)
        if len(head) == 0:
            return ids.select(F.col(id_col), F.col(id_col).alias("cluster_id"))
        return _cluster_driver_union_find(ids, head, id_col)
    sym = sym.localCheckpoint()  # candidates/verify lineage ends here
    for upstream in release_after_edges:
        release_checkpoint(upstream)

    # Iterate only over nodes that have edges — isolated nodes get their own
    # id at the end without ever entering the loop.
    touched = sym.select(F.col("src").alias("node")).distinct()
    labels = touched.select("node", F.col("node").alias("label"))
    converged = False
    try:
        for _ in range(max_iter):
            neighbor_min = (
                sym.join(labels, sym.dst == labels.node)
                .groupBy("src").agg(F.min("label").alias("nmin"))
            )
            new_labels = (
                labels.join(neighbor_min, labels.node == neighbor_min.src,
                            "left")
                .select(
                    F.col("node"),
                    F.least(F.col("label"),
                            F.coalesce(F.col("nmin"), F.col("label"))
                            ).alias("label"),
                )
            )
            # Pointer-jump: label <- min(label, label-of-label). Labels are
            # always node ids, so self-joining the label table halves the
            # remaining distance to the component minimum each round —
            # convergence in O(log diameter) rounds instead of O(diameter).
            hop = new_labels.select(F.col("node").alias("label"),
                                    F.col("label").alias("label2"))
            new_labels = (
                new_labels.join(hop, "label", "left")
                .select(F.col("node"),
                        F.least(F.col("label"),
                                F.coalesce(F.col("label2"), F.col("label"))
                                ).alias("label"))
            )
            new_labels = new_labels.localCheckpoint()  # cut lineage per round
            converged = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.label") != F.col("o.label"))
                .isEmpty()
            )
            # the convergence probe was the last reader of the previous
            # round's checkpoint — free its blocks before the next round
            release_checkpoint(labels)
            labels = new_labels
            if converged:
                break
        if not converged:
            # Silent split clusters are a correctness bug; with pointer
            # jumping max_iter=10 covers diameters ~2^10, so hitting this
            # means the graph is pathological — fail loudly rather than
            # return wrong data.
            raise RuntimeError(
                f"min-label propagation did not converge in {max_iter} "
                f"rounds; raise max_iter (components with diameter > "
                f"~2^{max_iter})"
            )
    finally:
        # the result depends only on the FINAL labels checkpoint (which
        # must stay alive for the caller) — the edge list can go
        release_checkpoint(sym)
    return (
        ids.join(labels, ids[id_col] == labels.node, "left")
        .select(ids[id_col],
                F.coalesce(labels.label, ids[id_col]).alias("cluster_id"))
    )


def _cluster_driver_union_find(ids: DataFrame, sym_edges: list,
                               id_col: str) -> DataFrame:
    """Small-graph fast path: union-find over the already-collected edge
    list, broadcast-join the (node, cluster) mapping back. Only nodes whose
    label differs from their own id appear in the mapping, so the broadcast
    stays tiny."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in sym_edges:
        a, b = find(row.src), find(row.dst)
        if a != b:
            if b < a:
                a, b = b, a
            parent[b] = a

    mapping = [(node, find(node)) for node in list(parent)]
    mapping = [(n, c) for n, c in mapping if n != c]
    if not mapping:
        return ids.select(F.col(id_col), F.col(id_col).alias("cluster_id"))
    spark = ids.sparkSession
    map_df = spark.createDataFrame(mapping, ["node", "_cl"])
    return (
        ids.join(F.broadcast(map_df), ids[id_col] == map_df.node, "left")
        .select(ids[id_col],
                F.coalesce(map_df._cl, ids[id_col]).alias("cluster_id"))
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_k: int = 5,
    num_hashes: int = 48,
    bands: int = 12,
    threshold: float = 0.8,
    use_word_ngrams: bool = False,
    ngram_n: int = 3,
) -> DataFrame:
    """Near-duplicate clustering: returns (id_col, cluster_id); cluster_id is
    the minimum doc id of the connected component — deterministic.

    Pipeline: shingles -> 48-hash MinHash -> 12 bands x 4 rows (s-curve
    threshold ~0.54 at defaults) -> bucket self-join for candidates -> exact
    Jaccard >= threshold verify -> min-label clustering. The bucket join
    shuffles on bucket id; candidate count is bounded by bucket sizes, never
    all-pairs. ``use_word_ngrams=True`` switches the unit from char shingles
    to word n-grams (the n-gram-Jaccard dedup variant).
    """
    rows_per_band = num_hashes // bands
    shingle_expr = (
        word_ngrams(F.col(text_col), ngram_n)
        if use_word_ngrams else char_shingles(F.col(text_col), shingle_k)
    )
    df = ensure_parallelism(df)
    base = df.select(F.col(id_col), shingle_expr.alias("_sh"))
    # signatures are tiny (num_hashes longs per doc): checkpoint so the
    # candidate, estimate, and verify stages don't re-run the shingle scan
    sig_arr = _minhash_signatures(base, id_col, num_hashes).localCheckpoint()

    # Bucket join carries only (id, bucket) — the heavy shingle arrays never
    # ride through the band explode/shuffle.
    candidates = _band_pairs(sig_arr.select(
        F.col(id_col),
        F.explode(lsh_band_buckets("_sig", bands, rows_per_band))
        .alias("_bucket")), id_col)
    plausible = (
        candidates
        .join(sig_arr.select(F.col(id_col).alias("src"),
                             F.col("_sig").alias("_sa")), "src")
        .join(sig_arr.select(F.col(id_col).alias("dst"),
                             F.col("_sig").alias("_sb")), "dst")
        .filter(_agreement_prefilter("_sa", "_sb", num_hashes, threshold))
        .select("src", "dst")
    )
    verified = _verify_jaccard(
        plausible, "src", "dst", base.withColumnRenamed(id_col, "src"),
        base.withColumnRenamed(id_col, "dst"), threshold).select("src", "dst")

    return _cluster_min_label(df.select(id_col), verified, id_col,
                              release_after_edges=(sig_arr,))


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def with_simhash(df: DataFrame, text_col: str = "text",
                 out_col: str = "simhash") -> DataFrame:
    """64-bit SimHash per document via an Arrow-batched Pandas UDF with
    numpy-vectorized voting.

    md5 (stable across processes/engines) runs once per UNIQUE token in the
    batch — vocabulary follows Zipf, so this collapses the per-byte cost —
    and the ±1 bit votes are a single ``np.add.at`` scatter over a
    ``(docs, 64)`` matrix instead of a per-token Python loop. Fingerprints
    are bit-identical to the scalar formulation (same tokenization, same
    md5-derived bits, sign-of-vote bit build).

    Measured on 100k docs x 60 tokens, local[32]: 1.9 s (scalar loop) ->
    1.1 s. Pure-JVM alternatives lose: higher-order aggregate/zip_with isn't
    whole-stage-codegen'd (3.6 s) and explode + 64 sum-aggregates pays a
    shuffle (2.6 s).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _simhash(texts):
        import hashlib

        import numpy as np
        import pandas as pd

        n = len(texts)
        tok_lists = [t.lower().split() if t is not None else [] for t in texts]
        doc_idx = np.repeat(np.arange(n), [len(tl) for tl in tok_lists])
        if len(doc_idx) == 0:
            return pd.Series(np.zeros(n, dtype=np.int64))
        flat = np.array([tok for tl in tok_lists for tok in tl], dtype=object)
        uniq, inv = np.unique(flat, return_inverse=True)
        digests = np.frombuffer(
            b"".join(hashlib.md5(u.encode("utf-8")).digest()[:8] for u in uniq),
            dtype=np.uint8,
        ).reshape(len(uniq), 8)
        bits_uniq = np.unpackbits(digests, axis=1, bitorder="little") \
            .astype(np.int64)                       # (unique_tokens, 64)
        votes = np.zeros((n, 64), dtype=np.int64)
        np.add.at(votes, doc_idx, 2 * bits_uniq[inv] - 1)
        sig = (votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)
        return pd.Series(sig.sum(axis=1, dtype=np.uint64).view(np.int64))

    return ensure_parallelism(df).withColumn(out_col, _simhash(F.col(text_col)))


def hamming_neardup(hashed: DataFrame, hash_col: str, id_col: str,
                    max_hamming: int = 3) -> DataFrame:
    """Near-dup clusters over ANY 64-bit fingerprint column (SimHash,
    image dHash/pHash, audio fingerprints): band the fingerprint into
    ``max_hamming + 1`` chunks (pigeonhole: any pair within ``max_hamming``
    bits shares at least one identical chunk — band-local differences
    can't exceed the total), bucket equi-join on chunks, verify full
    hamming distance JVM-side (``bit_count(xor)``), cluster by min label.
    Never all-pairs; candidate volume is bucket-bounded, the 100 TB shape.
    Returns (id_col, cluster_id)."""
    # The fingerprint frame fans out three ways (self-join left/right +
    # the id universe below); without a checkpoint each reference re-runs
    # the upstream hashing lineage — for media fingerprints that means
    # re-decoding every payload 3x. The checkpoint holds only
    # (id, 8-byte hash) rows, so it stays tiny even at corpus scale.
    sh = hashed.select(id_col, F.col(hash_col).alias("_h")).localCheckpoint()
    bucketed = sh.select(
        id_col, "_h",
        F.explode(_pigeonhole_buckets("_h", max_hamming)).alias("_bucket"))
    pairs = (
        _band_pairs(bucketed, id_col, carry=("_h",))
        .filter(F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))) <= max_hamming)
        .select("src", "dst")
    )
    return _cluster_min_label(sh.select(id_col), pairs, id_col)


def simhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3) -> DataFrame:
    """Near-dup clusters via SimHash: 64-bit weighted token fingerprint
    (:func:`with_simhash`), then the generic banded-hamming clustering of
    :func:`hamming_neardup`."""
    sh = with_simhash(df.select(id_col, text_col), text_col, "_sh")
    return hamming_neardup(sh, "_sh", id_col, max_hamming)


# --------------------------------------------------------------------------
# embedding cosine near-dup
# --------------------------------------------------------------------------

def embedding_neardup(df: DataFrame, vec_col: str = "embedding",
                      id_col: str = "vec_id", threshold: float = 0.95,
                      num_tables: int = 4, planes_per_table: int = 8,
                      seed: int = 42) -> DataFrame:
    """Near-duplicate vectors by cosine >= threshold.

    BANDED random-hyperplane LSH: ``num_tables`` independent sign-pattern
    signatures of ``planes_per_table`` planes each; a pair is a candidate if
    it shares a bucket in ANY table (explode over table-tagged buckets ->
    bucket equi-join, the same shape as MinHash banding). Recall for a pair
    at angle theta is 1 - (1 - p^b)^L with p = 1 - theta/pi — at cosine
    0.95 and the 8x4 default that is ~0.89 vs ~0.19 for one unbanded
    16-plane signature (the naive formulation this replaces). Exact cosine
    verifies candidates; min-label clustering as elsewhere.
    """
    import numpy as np

    probe = df.select(vec_col).first()
    if probe is None or probe[0] is None:  # empty input: nothing to cluster
        return df.select(F.col(id_col), F.col(id_col).alias("cluster_id"))
    dim = len(probe[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_tables, planes_per_table, dim))

    df = ensure_parallelism(df)
    vec = F.col(vec_col)
    base = df.select(
        id_col, vec.alias("_v"), l2_norm(vec).alias("_n"),
        F.explode(F.array(*[
            F.concat_ws(":", F.lit(t), _rhp_signature(vec, planes[t]))
            for t in range(num_tables)])).alias("_bucket"),
    )
    pairs = (
        _band_pairs(base, id_col, carry=("_v", "_n"))
        .filter(dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb")) >= threshold)
        .select("src", "dst")
    )
    return _cluster_min_label(df.select(id_col), pairs, id_col)


def minhash_cross_dedup(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_k: int = 5,
    num_hashes: int = 48,
    bands: int = 12,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate DECONTAMINATION: corpus docs that near-match any
    reference doc (eval suite, held-out set, licensed content). Returns
    (corpus id, matched reference id, jaccard) — one row per corpus doc,
    its best match.

    Same machinery as :func:`minhash_dedup` but the bucket join is
    corpus x reference instead of a self-join, so candidate volume is
    bounded by shared buckets with the (small) reference side — the
    reference's buckets broadcast at eval-suite sizes. Complements
    ngram_contamination (operators/corpus.py): exact n-gram overlap
    catches verbatim leaks; this catches paraphrased/reformatted ones.
    """
    rows_per_band = num_hashes // bands

    def prep(df: DataFrame, label: str) -> tuple[DataFrame, DataFrame]:
        base = ensure_parallelism(df).select(
            F.col(id_col).alias(label),
            char_shingles(F.col(text_col), shingle_k).alias("_sh"))
        buckets = _minhash_signatures(base, label, num_hashes).select(
            label, F.explode(lsh_band_buckets("_sig", bands, rows_per_band))
            .alias("_bucket"))
        return base, buckets

    corpus_base, corpus_buckets = prep(corpus, "src")
    ref_base, ref_buckets = prep(reference, "ref")

    candidates = (corpus_buckets.join(ref_buckets, "_bucket")
                  .select("src", "ref").dropDuplicates(["src", "ref"]))
    verified = _verify_jaccard(candidates, "src", "ref", corpus_base,
                               ref_base, threshold).select("src", "ref", "_j")
    from pyspark.sql import Window as _W
    w = _W.partitionBy("src").orderBy(F.col("_j").desc(), F.col("ref"))
    return (verified.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn")
            .select(F.col("src").alias(id_col),
                    F.col("ref").alias("matched_ref"),
                    F.round("_j", 6).alias("jaccard")))


def broadcast_ngram_decontam(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    max_ref_grams: int = 5_000_000,
) -> DataFrame:
    """SHUFFLE-FREE document-level n-gram decontamination: flag every
    corpus document sharing at least one word n-gram with a reference
    corpus (eval suites / held-out sets; n=13 is the GPT-3/RefinedWeb
    convention). Returns (id_col, n_hits) — n_hits = count of DISTINCT
    reference grams the document contains — for contaminated docs only.

    The point vs the join-based decontam family (ngram_contamination's
    semi-join, bloom_semi_filter's screen-then-confirm): the CORPUS SIDE
    NEVER SHUFFLES ITS TEXT. The reference's distinct grams — bounded by
    the reference's size, which for benchmark decontam is the eval
    suite, orders of magnitude smaller than the corpus; ``max_ref_grams``
    refuses loudly beyond that regime — are materialized once and
    BROADCAST-HASH-JOINED against each corpus document's deduplicated
    gram explode, entirely inside the scan stage. The only exchange in
    the whole plan carries the MATCHING (doc, gram) rows — the
    contaminated hits, a vanishing fraction of the corpus by the
    decontam premise — map-side-collapsed into per-doc partial counts
    (tests/test_dedup_similarity.py pins the shape: a BroadcastHashJoin
    with no exchange below it on the corpus side). Round-13-opt: this
    replaces an Arrow-batched pandas-UDF set intersection — per-batch
    work was fine, but EVERY corpus document's full gram array crossed
    the JVM->Python boundary (~n x the text bytes serialized per doc;
    guide §4.1 "prefer built-ins"); the join probe is codegen'd and
    ships nothing, measured 4.2 s -> 1.1 s at sf0.1 with identical
    output.

    ORACLE-EXACT: membership is tested on the gram STRINGS themselves
    (no hash screen), so there are no false positives to confirm away.
    Both sides consider only documents with >= n tokens (shorter docs
    have no full n-gram).
    """
    ref_grams = (word_ngram_rows(ensure_parallelism(reference),
                                 tokens(text_col), n)
                 .select("gram").distinct()).localCheckpoint()
    if ref_grams.count() > max_ref_grams:
        raise ValueError(
            f"reference yields more than max_ref_grams={max_ref_grams} "
            "distinct grams — that is corpus-scale, not eval-suite "
            "scale; use ngram_contamination / bloom_semi_filter instead")
    corpus_grams = (ensure_parallelism(corpus)
                    .select(F.col(id_col),
                            F.explode(F.array_distinct(
                                word_ngrams(text_col, n, short="none")))
                            .alias("gram")))
    # inner join multiplicity is exactly 1 per shared distinct gram
    # (both sides deduped), so count(*) == count of DISTINCT shared
    # grams — the same n_hits the set intersection produced
    return (corpus_grams.join(F.broadcast(ref_grams), "gram")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits")))


def _element_sets(df: DataFrame, text_col: str, id_col: str,
                  ngram: int) -> tuple[DataFrame, DataFrame]:
    """Shared prelude of :func:`setsim_join` and :func:`containment_join`:
    ``(idmap, sets)`` where ``sets`` holds one (id_col, _set) row per
    DISTINCT text — its distinct word ``ngram``-grams ordered by
    ascending corpus frequency (ties on the gram) — and ``idmap`` maps
    each representative ``_rid`` to every id carrying that text
    (``_ids``) with ``_q`` = the text has a non-empty element set.

    DUPLICATE-COLLAPSE (round 9, same reasoning as edit_distance_join):
    verbatim-duplicate documents carry IDENTICAL element sets, and
    prefix-join candidates grow with the PRODUCT of copy counts — v
    copies pay v^2 candidate + verify work for pairs that are
    definitionally a perfect match. Collapse to DISTINCT TEXTS *before*
    tokenization (a plain string groupBy — cheaper than comparing
    shingle arrays, and it dedups the shingle/frequency/regroup work
    itself on duplicate-heavy corpora); the whole prefix/verify
    pipeline runs over one representative per text, ids expand back at
    the end, and same-text pairs are emitted directly at 1.0 whenever
    the text yields a non-empty element set. Two different texts with
    an identical token SET ("a b" vs "b a") stay separate reps and pair
    up through the normal verify, unchanged. The narrow (rep, ids,
    qualifies) map is the only retained checkpoint — it fans out three
    ways (both expansion sides + the same-text pairs) and id-only rows
    are cheap to hold; same contract as the fingerprint frame in
    hamming_neardup above."""
    words = tokens(F.col("_t"))
    qualifies = (F.size(F.filter(words, lambda x: x != "")) >= 1
                 if ngram == 1 else F.size(words) >= ngram)
    groups = (ensure_parallelism(df).groupBy(F.col(text_col).alias("_t"))
              .agg(F.min(id_col).alias("_rid"),
                   F.collect_list(id_col).alias("_ids")))
    idmap = groups.select("_rid", "_ids", qualifies.alias("_q")) \
        .localCheckpoint()
    # AQE coalesces the collapse's tiny-BYTES output to one partition,
    # which would serialize the CPU-heavy shingle explode + verify that
    # hang off it (the AQE-size-vs-CPU cliff the graph entries hit in
    # round 8; measured 9.1 s vs 3.5 s on the sf0.1 entry). Fan back out
    # to cluster parallelism — a round-robin of the DISTINCT texts,
    # bounded by the groupBy's own shuffle.
    par = df.sparkSession.sparkContext.defaultParallelism
    reps = ensure_parallelism(
        groups.select(F.col("_rid").alias(id_col), F.col("_t")),
        min_partitions=par)
    # only empty text has an empty token (normalized text has no
    # whitespace runs), and it never forms a set element
    elems = (word_ngram_rows(reps, words, ngram, (id_col,))
             .filter(F.col("gram") != "")
             .select(id_col, F.col("gram").alias("tok")))
    toks = elems.distinct()
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_f"))
    sets = (toks.join(F.broadcast(freq), "tok")
            .groupBy(id_col)
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("_f", "tok"))),
                lambda s: s["tok"]).alias("_set")))
    return idmap, sets


def _expand_ids(idmap: DataFrame, rep_pairs: DataFrame, score: str,
                directed: bool) -> DataFrame:
    """Expand (doc_a, doc_b, score) pairs of representatives (see
    :func:`_element_sets`) back to every id pair, plus the same-text
    pairs at 1.0 for texts with a non-empty element set. Undirected
    pairs come out with doc_a < doc_b, directed ones in both
    directions."""
    ia = idmap.select(F.col("_rid").alias("doc_a"),
                      F.explode("_ids").alias("_ia"))
    ib = idmap.select(F.col("_rid").alias("doc_b"),
                      F.explode("_ids").alias("_ib"))
    a, b = F.col("_ia"), F.col("_ib")
    if not directed:
        a, b = F.least(a, b), F.greatest(a, b)
    cross = (rep_pairs.join(ia, "doc_a").join(ib, "doc_b")
             .select(a.alias("doc_a"), b.alias("doc_b"), score))
    pair = (F.col("_ia") != F.col("_ib")) if directed \
        else (F.col("_ia") < F.col("_ib"))
    dups = (idmap.filter("_q").filter(F.size("_ids") >= 2)
            .select(F.explode("_ids").alias("_ia"), "_ids")
            .select("_ia", F.explode("_ids").alias("_ib"))
            .filter(pair)
            .select(F.col("_ia").alias("doc_a"),
                    F.col("_ib").alias("doc_b"),
                    F.lit(1.0).alias(score)))
    return cross.unionByName(dups)


# FLOAT-PRUNE SLACK (round 10, ADVICE): every prune below compares
# an INTEGER quantity (a set size or overlap count) against a double
# product like t*|x| or t/(1+t)*(|a|+|b|). Doubles round up: 0.8*35
# is 28.000000000000004, so a pair sitting EXACTLY on the threshold
# (jaccard == t with t representable) can fail a mathematically
# tight prune that the exact verify would keep — recall loss against
# the brute-force oracle (22 such (t, size) combos exist for common
# thresholds). Relax every prune by a slack that dwarfs double
# rounding (ulp-relative) yet stays far below 1, the integer
# quantum: prunes can then only OVER-admit, and the exact-jaccard
# verify remains the final word.
def _relaxed(x: Column) -> Column:
    return x - x * F.lit(1e-12) - F.lit(1e-9)


def setsim_join(df: DataFrame, threshold: float = 0.6,
                text_col: str = "text", id_col: str = "doc_id",
                ngram: int = 1) -> DataFrame:
    """EXACT all-pairs Jaccard set-similarity join via prefix filtering
    (SSJoin/PPJoin family, Xiao et al., WWW 2008): every document pair
    whose distinct-token Jaccard >= threshold, with NO recall loss — the
    deterministic alternative to minhash_dedup's probabilistic candidate
    generation.

    The filter that makes it scale: order every document's token set by
    ascending global frequency (rarest first; ties on the token), and
    join only on each set's PREFIX of length |x| - ceil(t*|x|) + 1. Two
    sets meeting the threshold must share a prefix token, so recall is
    exactly 1; prefix tokens are the RAREST tokens, so the equi-join's
    fan-out is tiny. A length filter (t*|a| <= |b|) prunes further, and
    exact Jaccard on the candidate pairs is the final word — the sketch
    layer can only shrink the join, never change the answer (same
    contract as operators/bloom.py).

    Shapes: one (doc, token) distinct aggregation, a broadcast-sized
    token-frequency table joined back, one per-doc regroup to build the
    ordered set, a prefix explode (~(1-t) of each set), the candidate
    equi-join on rare tokens, and the pair verify. Returns
    (doc_a, doc_b, jaccard), doc_a < doc_b.

    ``ngram > 1`` uses word n-gram shingles as the set elements instead
    of unigrams — the right choice when documents share a small
    vocabulary (unigram sets saturate); docs shorter than ``ngram``
    tokens drop out (they have no shingle set).
    """
    idmap, sets = _element_sets(df, text_col, id_col, ngram)

    size = F.size("_set")
    prefix_len = size \
        - F.ceil(_relaxed(size * F.lit(threshold))).cast("int") + 1
    prefixes = sets.select(
        F.col(id_col), size.alias("_n"),
        F.posexplode(F.slice("_set", 1, prefix_len)).alias("_p", "tok"))

    a = prefixes.select(F.col(id_col).alias("doc_a"),
                        F.col("_n").alias("_na"),
                        F.col("_p").alias("_pa"), "tok")
    b = prefixes.select(F.col(id_col).alias("doc_b"),
                        F.col("_n").alias("_nb"),
                        F.col("_p").alias("_pb"), "tok")
    # PPJoin POSITIONAL filter on top of prefix + length: with the sets
    # frequency-ordered identically on both sides, a pair sharing a
    # prefix token at (0-based) positions pa/pb can overlap in at most
    # min(|a|-pa, |b|-pb) elements, while jaccard >= t requires overlap
    # >= t/(1+t) * (|a|+|b|). The bound is LARGEST at the pair's first
    # shared token, so filtering every shared occurrence and
    # de-duplicating keeps exactly the pairs strict PPJoin keeps — full
    # recall, fewer array_intersect verifies (the dominant stage).
    overlap_req = F.lit(threshold / (1.0 + threshold)) \
        * (F.col("_na") + F.col("_nb"))
    overlap_ub = F.least(F.col("_na") - F.col("_pa"),
                         F.col("_nb") - F.col("_pb"))
    cands = (a.join(b, "tok")
             .filter((F.col("doc_a") < F.col("doc_b"))
                     & (_relaxed(F.col("_nb") * F.lit(threshold))
                        <= F.col("_na"))
                     & (_relaxed(F.col("_na") * F.lit(threshold))
                        <= F.col("_nb"))
                     & (overlap_ub >= _relaxed(overlap_req)))
             .select("doc_a", "doc_b").distinct())

    sa = sets.select(F.col(id_col).alias("doc_a"),
                     F.col("_set").alias("_seta"))
    sb = sets.select(F.col(id_col).alias("doc_b"),
                     F.col("_set").alias("_setb"))
    inter = F.size(F.array_intersect("_seta", "_setb"))
    union = F.size("_seta") + F.size("_setb") - inter
    jac = inter.cast("double") / union.cast("double")
    # threshold on the UNROUNDED value: a pair rounding up across the
    # threshold is not covered by the prefix guarantee and the oracle
    # applies the same unrounded cut
    rep_pairs = (cands.join(sa, "doc_a").join(sb, "doc_b")
                 .filter(jac >= threshold)
                 .select("doc_a", "doc_b",
                         F.round(jac, 6).alias("jaccard")))

    return _expand_ids(idmap, rep_pairs, "jaccard", directed=False)


def containment_join(df: DataFrame, threshold: float = 0.8,
                     text_col: str = "text", id_col: str = "doc_id",
                     ngram: int = 3) -> DataFrame:
    """EXACT all-pairs set-CONTAINMENT self-join: every DIRECTED pair
    (doc_a, doc_b) with ``|Sa ∩ Sb| / |Sa| >= threshold`` — doc_a's
    shingle set (near-)contained in doc_b's. This is the asymmetric
    relation Jaccard structurally misses: a quote, excerpt, or chunk
    embedded in a much larger document has tiny Jaccard (the union is
    dominated by the big side) but containment ~1, and a dedup pass
    that only thresholds Jaccard ships the duplicated excerpt.

    Same exactness contract and scaffolding as :func:`setsim_join`
    (duplicate-collapse before tokenization; frequency-ordered sets;
    exact set arithmetic as the final word; float-relaxed prunes that
    can only over-admit), with the filters adapted to the directed
    predicate: the PROBE side explodes only its prefix of length
    ``|A| - ceil(t*|A|) + 1`` (a qualifying pair must share a prefix
    element — rarest-first ordering keeps those postings short), while
    the INDEXED side must expose its full set (containment puts no
    lower bound on ``|B|/|A|``, so there is no length filter — the
    inherent cost of containment joins), and the positional prune
    ``pa + min(|A|-pa, |B|-pb) >= t*|A|`` bounds the overlap by what
    can still follow the first shared element plus everything that
    preceded it. Returns (doc_a, doc_b, containment), a != b, BOTH
    directions when both qualify; identical texts emit 1.0 directly."""
    idmap, sets = _element_sets(df, text_col, id_col, ngram)

    size = F.size("_set")
    prefix_len = size \
        - F.ceil(_relaxed(size * F.lit(threshold))).cast("int") + 1
    a = sets.select(
        F.col(id_col).alias("doc_a"), size.alias("_na"),
        F.posexplode(F.slice("_set", 1, prefix_len)).alias("_pa", "tok"))
    b = sets.select(
        F.col(id_col).alias("doc_b"), size.alias("_nb"),
        F.posexplode("_set").alias("_pb", "tok"))
    overlap_ub = F.col("_pa") + F.least(F.col("_na") - F.col("_pa"),
                                        F.col("_nb") - F.col("_pb"))
    cands = (a.join(b, "tok")
             .filter((F.col("doc_a") != F.col("doc_b"))
                     & (overlap_ub
                        >= _relaxed(F.col("_na") * F.lit(threshold))))
             .select("doc_a", "doc_b").distinct())

    sa = sets.select(F.col(id_col).alias("doc_a"),
                     F.col("_set").alias("_seta"))
    sb = sets.select(F.col(id_col).alias("doc_b"),
                     F.col("_set").alias("_setb"))
    cont = (F.size(F.array_intersect("_seta", "_setb")).cast("double")
            / F.size("_seta").cast("double"))
    rep_pairs = (cands.join(sa, "doc_a").join(sb, "doc_b")
                 .filter(cont >= threshold)
                 .select("doc_a", "doc_b",
                         F.round(cont, 6).alias("containment")))

    return _expand_ids(idmap, rep_pairs, "containment", directed=True)


# --------------------------------------------------------------------------
# Edit-distance (levenshtein) join — FastSS deletion neighborhoods
# --------------------------------------------------------------------------

def _deletion_variants(col: Column, k: int) -> Column:
    """All strings obtainable from ``col`` by deleting up to ``k``
    characters (the FastSS signature set, Bocek et al. 2007 — public
    algorithm). Built entirely JVM-side: k nested delete-one expansions
    with array_distinct between levels; size is O(len^k) per string,
    which is why the join below is for SHORT strings."""
    out = F.array(col)
    cur = out
    for _ in range(k):
        cur = F.array_distinct(F.flatten(F.transform(
            cur, lambda s: F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(s), F.lit(1))),
                lambda i: F.concat(
                    s.substr(F.lit(1), i - F.lit(1)),
                    s.substr(i + F.lit(1), F.length(s)))))))
        out = F.array_distinct(F.concat(out, cur))
    return out


def edit_distance_join(left: DataFrame, right: DataFrame | None = None,
                       text_col: str = "text", id_col: str = "doc_id",
                       max_dist: int = 1,
                       self_join: bool = False) -> DataFrame:
    """String-similarity JOIN under edit distance: all (a, b) pairs with
    ``levenshtein(a, b) <= max_dist`` — the entity-resolution staple
    (near-identical names, titles, codes, URLs) the reference could only
    express as a quadratic SQL cross join.

    Candidates come from FastSS deletion neighborhoods: two strings
    within edit distance k share at least one common string obtainable
    by deleting <= k characters from each (full recall — deleting the
    mismatched positions of both sides yields a common subsequence), so
    the candidate generation is a bucket EQUI-JOIN on the xxhash64 of
    each variant — never an all-pairs comparison; hashing keeps the
    shuffle rows narrow, and hash collisions cannot create false
    positives because every candidate is verified with the exact
    JVM-side ``levenshtein`` before it is emitted.

    Sized for SHORT strings (names/titles/codes: variants per row are
    ~C(len, k)); for long documents use the shingle-based families
    above. ``self_join=True`` dedups mirrored pairs via ``a < b`` (pass
    ``left`` twice). Returns (a, b, dist).

    DUPLICATE-COLLAPSE (round 9): the neighborhood explode and candidate
    join run over DISTINCT strings, with ids expanded back by two plain
    equi-joins at the end. Real corpora are exact-duplicate-heavy, and
    candidate pairs grow with the PRODUCT of bucket sizes — v verbatim
    copies of a string would pay v^2 candidate generation + verify for
    pairs whose distance is already known (measured: 10 copies of every
    sf0.1 customer name pushed the sf1 scaling probe past an hour; the
    collapsed join is distance-work-linear in unique strings). Only the
    final id expansion is pair-count sized, which is the output's own
    size — no stage exceeds it.
    """
    # The self-join path derives BOTH sides from ``left``; a caller
    # passing a genuinely different ``right`` with self_join=True would
    # get a silent behavior change (round-10 ADVICE), so refuse it.
    if self_join:
        if right is not None and right is not left:
            raise ValueError(
                "edit_distance_join(self_join=True) compares `left` with "
                "itself; pass right=None (or `left` again), not a "
                "different frame")
    elif right is None:
        raise ValueError("edit_distance_join requires `right` unless "
                         "self_join=True")
    # The distinct() outputs are tiny in BYTES, so AQE coalesces them to
    # one partition — serializing the deletion-neighborhood explode and
    # the candidate join behind it (the same AQE-size-vs-CPU cliff as in
    # setsim_join). Fan the unique strings back out to cluster
    # parallelism before the explode.
    par = left.sparkSession.sparkContext.defaultParallelism
    lt = ensure_parallelism(
        left.select(F.col(text_col).alias("_ta"))
        .where(F.col("_ta").isNotNull()).distinct(), min_partitions=par)
    rt = lt.select(F.col("_ta").alias("_tb")) if self_join else \
        ensure_parallelism(
            right.select(F.col(text_col).alias("_tb"))
            .where(F.col("_tb").isNotNull()).distinct(),
            min_partitions=par)

    def expl(df, t):
        return df.select(F.col(t), F.explode(F.array_distinct(F.transform(
            _deletion_variants(F.col(t), max_dist),
            lambda v: F.xxhash64(v)))).alias("_v"))

    cand = expl(lt, "_ta").join(expl(rt, "_tb"), "_v")
    if self_join:
        # keep ta == tb too: distinct id pairs sharing one string are
        # dist-0 matches the expansion below must still emit
        cand = cand.filter(F.col("_ta") <= F.col("_tb"))
    dist = F.levenshtein("_ta", "_tb")
    matched = (cand.select("_ta", "_tb").distinct()
               .filter(dist <= max_dist))
    la = left.select(F.col(id_col).alias("a"),
                     F.col(text_col).alias("_ta"))
    rb = (left if self_join else right).select(
        F.col(id_col).alias("b"), F.col(text_col).alias("_tb"))
    out = matched.join(la, "_ta").join(rb, "_tb")
    if self_join:
        # same-string groups: keep each unordered id pair once (a < b);
        # cross-string matches appear once per unordered pair already
        # (the groups are disjoint) — canonicalize to id order
        return (out.filter((F.col("_ta") < F.col("_tb"))
                           | (F.col("a") < F.col("b")))
                .select(F.least("a", "b").alias("a"),
                        F.greatest("a", "b").alias("b"),
                        dist.cast("bigint").alias("dist")))
    return out.select("a", "b", dist.cast("bigint").alias("dist"))
