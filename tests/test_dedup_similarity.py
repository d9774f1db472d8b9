"""Dedup family + similarity search semantics on controlled fixtures."""

import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_mark1_spark.functions.grams import (
    char_shingles,
    tokens,
    word_ngram_rows,
    word_ngrams,
)
from etl_mark1_spark.operators.dedup import (
    dedup_exact,
    embedding_neardup,
    jaccard,
    minhash_dedup,
    simhash_dedup,
    with_simhash,
)
from etl_mark1_spark.operators.similarity import (
    cosine_topk,
    ivf_build,
    ivf_topk,
    lsh_topk,
)

BASE = ("the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep dark forest to find some food for its hungry cubs")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=1, text=BASE),
        Row(doc_id=2, text=BASE),                      # exact dup of 1
        Row(doc_id=3, text=BASE.replace("quick", "qvick")),  # near dup of 1
        Row(doc_id=4, text="completely different content about quantum "
                           "computing and linear algebra with many details"),
        Row(doc_id=5, text="short"),
    ]
    return spark.createDataFrame(rows)


def test_dedup_exact_keeps_min_id(docs):
    out = dedup_exact(docs, "text", "doc_id", keep="min_id")
    ids = {r.doc_id for r in out.collect()}
    assert ids == {1, 3, 4, 5}  # doc 2 collapsed into doc 1


def test_jaccard_and_shingles(spark):
    df = spark.createDataFrame([Row(a="abcdef", b="abcdeg")])
    j = df.select(jaccard(char_shingles(F.col("a"), 3),
                          char_shingles(F.col("b"), 3)).alias("j")).first().j
    assert 0.0 < j < 1.0
    ident = df.select(jaccard(char_shingles(F.col("a"), 3),
                              char_shingles(F.col("a"), 3)).alias("j")).first().j
    assert ident == 1.0


def test_word_ngrams(spark):
    df = spark.createDataFrame([Row(t="a b c d")])
    grams = df.select(word_ngrams(F.col("t"), 2).alias("g")).first().g
    assert set(grams) == {"a b", "b c", "c d"}


#: empty, whitespace-only, tabs/newlines, < n, exactly n, non-ASCII
_GRAM_TEXTS = ["", "   ", "a\tb\nc  d", "x y", "p q r",
               "Ünï  straße\t東京 ok"]


def _ref_grams(text, tokenizer, n, short):
    """Plain-Python gram multiset of one text."""
    if tokenizer == "normalized":
        toks = re.sub(r"\s+", " ", text).strip(" ").lower().split(" ")
    else:
        toks = [t for t in re.split(r"\s+", text.lower()) if t]
    if len(toks) < n:
        return [" ".join(toks)] if short == "truncate" else []
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


@pytest.mark.parametrize("short", ["truncate", "none"])
@pytest.mark.parametrize("n", [1, 2, 3])
@pytest.mark.parametrize("tokenizer", ["normalized", "lower_ws"])
def test_word_ngrams_array_and_rows_agree(spark, tokenizer, n, short):
    """The array gram builder emits the reference per-document gram
    multiset for every (tokenizer, n, short-document policy), and the row
    builder (which emits no gram for short documents) matches its
    ``"none"`` policy."""
    df = spark.createDataFrame(list(enumerate(_GRAM_TEXTS)), ["id", "t"])
    arr = (df.select("id", F.explode(
        word_ngrams("t", n, tokenizer, short)).alias("gram")).collect())
    want = sorted((i, g) for i, t in enumerate(_GRAM_TEXTS)
                  for g in _ref_grams(t, tokenizer, n, short))
    assert sorted((r.id, r.gram) for r in arr) == want
    if short == "truncate":
        return
    rows = word_ngram_rows(df, tokens("t", tokenizer), n, ("id",)).collect()
    assert sorted((r.id, r.gram) for r in rows) == want
    # positions are the 1-based gram starts, in order
    for i in range(len(_GRAM_TEXTS)):
        assert sorted(r.pos for r in rows if r.id == i) == list(
            range(1, 1 + sum(1 for j, _ in want if j == i)))


def test_minhash_dedup_clusters(docs):
    out = minhash_dedup(docs, threshold=0.6)
    clusters = {r.doc_id: r.cluster_id for r in out.collect()}
    assert clusters[1] == clusters[2] == clusters[3] == 1  # near-dup family
    assert clusters[4] == 4 and clusters[5] == 5           # singletons


def test_min_label_converges_on_long_chain(spark):
    """Distributed min-label propagation with pointer jumping must resolve a
    chain component whose diameter far exceeds the round count (a plain
    per-round propagation would silently split it), and must raise rather
    than return split clusters when genuinely out of rounds."""
    from etl_mark1_spark.operators.dedup import _cluster_min_label

    n = 40  # diameter 39 chain: 0-1-2-...-39
    ids = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    out = _cluster_min_label(ids, edges, "doc_id",
                             max_iter=8, driver_threshold=0)
    assert {r.cluster_id for r in out.collect()} == {0}

    with pytest.raises(RuntimeError, match="did not converge"):
        _cluster_min_label(ids, edges, "doc_id",
                           max_iter=2, driver_threshold=0)


def test_simhash_deterministic_and_clusters(docs):
    a = {r.doc_id: r.simhash for r in with_simhash(docs).collect()}
    b = {r.doc_id: r.simhash for r in with_simhash(docs).collect()}
    assert a == b                       # md5-based: stable across runs
    assert a[1] == a[2]                 # identical text -> identical simhash
    out = simhash_dedup(docs, max_hamming=8)
    clusters = {r.doc_id: r.cluster_id for r in out.collect()}
    assert clusters[1] == clusters[2]
    assert clusters[4] != clusters[1]


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.999, 0.01, 0.0]),   # near dup of 1
        Row(vec_id=3, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=4, embedding=[0.0, 0.0, 1.0]),
        Row(vec_id=5, embedding=[-1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows)


def test_cosine_topk_exact(vectors):
    out = cosine_topk(vectors, [1.0, 0.0, 0.0], k=3).collect()
    assert [r.vec_id for r in out] == [1, 2, 3]
    assert out[0].similarity == 1.0
    assert out[1].similarity == pytest.approx(0.99995, abs=1e-4)


def test_embedding_neardup(vectors):
    out = embedding_neardup(vectors, threshold=0.99,
                            num_tables=4, planes_per_table=2)
    clusters = {r.vec_id: r.cluster_id for r in out.collect()}
    assert clusters[1] == clusters[2] == 1
    assert clusters[3] == 3 and clusters[4] == 4 and clusters[5] == 5


def test_lsh_topk_finds_close_vector(vectors):
    out = lsh_topk(vectors, [1.0, 0.0, 0.0], k=2,
                   num_tables=8, planes_per_table=2).collect()
    assert out and out[0].vec_id == 1


def test_ivf_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = [float(x) for x in emb.filter("vec_id = 1").first().embedding]
    exact = [r.vec_id for r in
             cosine_topk(emb.filter("vec_id != 1"), query, k=5).collect()]
    assigned, centroids = ivf_build(emb.filter("vec_id != 1"), num_centroids=4)
    approx = [r.vec_id for r in
              ivf_topk(assigned, centroids, query, k=5, nprobe=4).collect()]
    # probing ALL centroids must recover the exact result
    assert approx == exact


# -- temporal joins --------------------------------------------------------

def test_asof_join_semantics(spark):
    from etl_mark1_spark.operators.joins import asof_join
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1, "2024-01-01 02:00:00"), (1, "2024-01-01 04:00:00"),
         (2, "2024-01-01 01:00:00")],
        "k long, ts string").withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 01:00:00", 10.0), (1, "2024-01-01 03:00:00", 20.0),
         (3, "2024-01-01 00:00:00", 99.0)],
        "k long, ts string, v double").withColumn("ts", F.col("ts").cast("timestamp"))

    out = {(r.k, str(r.ts)): r.v_asof
           for r in asof_join(left, right, on="k").collect()}
    assert out[(1, "2024-01-01 02:00:00")] == 10.0   # latest at-or-before
    assert out[(1, "2024-01-01 04:00:00")] == 20.0
    assert out[(2, "2024-01-01 01:00:00")] is None   # no right rows for key


def test_asof_join_equal_ts_and_tolerance(spark):
    from etl_mark1_spark.operators.joins import asof_join
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1, "2024-01-01 03:00:00"), (1, "2024-01-01 09:00:00")],
        "k long, ts string").withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 03:00:00", 5.0)],
        "k long, ts string, v double").withColumn("ts", F.col("ts").cast("timestamp"))

    out = {str(r.ts): r.v_asof
           for r in asof_join(left, right, on="k").collect()}
    assert out["2024-01-01 03:00:00"] == 5.0  # ties match (<= semantics)

    tol = {str(r.ts): r.v_asof
           for r in asof_join(left, right, on="k",
                              tolerance="2 hours").collect()}
    assert tol["2024-01-01 03:00:00"] == 5.0
    assert tol["2024-01-01 09:00:00"] is None  # stale beyond tolerance


def test_asof_join_forward_semantics(spark):
    """direction='forward': earliest right row at-or-after; ties match;
    tolerance bounds the lookahead; backward results unaffected."""
    from pyspark.sql import functions as F

    from etl_mark1_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 02:00:00"), (1, "2024-01-01 03:00:00"),
         (1, "2024-01-01 23:00:00"), (2, "2024-01-01 01:00:00")],
        "k long, ts string").withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 03:00:00", 5.0), (1, "2024-01-01 05:00:00", 7.0)],
        "k long, ts string, v double").withColumn(
            "ts", F.col("ts").cast("timestamp"))

    fwd = {str(r.ts): r.v_asof
           for r in asof_join(left, right, on="k",
                              direction="forward").collect()}
    assert fwd["2024-01-01 02:00:00"] == 5.0   # next at-or-after
    assert fwd["2024-01-01 03:00:00"] == 5.0   # tie matches (>= semantics)
    assert fwd["2024-01-01 23:00:00"] is None  # nothing ahead
    assert fwd["2024-01-01 01:00:00"] is None  # no right rows for key 2

    tol = {str(r.ts): r.v_asof
           for r in asof_join(left, right, on="k", direction="forward",
                              tolerance="30 minutes").collect()}
    assert tol["2024-01-01 03:00:00"] == 5.0
    assert tol["2024-01-01 02:00:00"] is None  # next is 1h ahead > 30m

    with pytest.raises(ValueError, match="direction"):
        asof_join(left, right, on="k", direction="nearest")


def test_minhash_cross_dedup_flags_paraphrased_contamination(spark):
    from etl_mark1_spark.operators.dedup import minhash_cross_dedup

    bench_text = ("What is the capital of France? Paris is the capital "
                  "and largest city of France, located on the Seine." * 3)
    # near-copy: small tail edit; paraphrase-level overlap stays high
    leaked = bench_text[:-40] + " It has been the capital since 508 AD."
    clean = ("Completely unrelated text about distributed query engines "
             "and shuffle partitioning strategies at scale." * 4)
    corpus = spark.createDataFrame(
        [(1, leaked), (2, clean), (3, bench_text)],
        "doc_id long, text string")
    benchmark = spark.createDataFrame(
        [(100, bench_text)], "doc_id long, text string")

    got = {r.doc_id: (r.matched_ref, r.jaccard)
           for r in minhash_cross_dedup(corpus, benchmark,
                                        threshold=0.7).collect()}
    assert 3 in got and got[3] == (100, 1.0)    # verbatim copy
    assert 1 in got and got[1][0] == 100        # near-copy flagged
    assert got[1][1] >= 0.7
    assert 2 not in got                         # clean doc untouched


def test_ensure_parallelism_passes_derived_frames_through(spark, sf_dir):
    """A post-shuffle frame must NOT get a blind round-robin repartition —
    its partitioning reflects upstream shuffles/AQE, and at scale the extra
    Exchange is a gratuitous full-data shuffle (the 100 TB entry path)."""
    from etl_mark1_spark.operators.dedup import ensure_parallelism

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    derived = docs.groupBy("lang").agg(F.count("*").alias("n"))
    assert ensure_parallelism(derived) is derived
    # a SHUFFLE-joined frame passes through (partitioning set upstream)
    shuffled = (docs.hint("merge")
                .join(docs.select("doc_id").hint("merge"), "doc_id"))
    assert ensure_parallelism(shuffled) is shuffled
    # but a BROADCAST-joined narrow scan keeps its one split and must
    # still fan out — a bare "Exchange" substring check used to match
    # BroadcastExchange and skip exactly this case
    bjoined = docs.join(F.broadcast(docs.select("doc_id")), "doc_id")
    assert ensure_parallelism(bjoined) is not bjoined
    # explicit hint still fans an in-memory frame out
    hinted = ensure_parallelism(derived, min_partitions=4)
    assert "RoundRobinPartitioning" in \
        hinted._jdf.queryExecution().executedPlan().toString()


def test_ensure_parallelism_fans_out_narrow_file_scan(spark, sf_dir):
    """A single-file parquet (one split) must still fan out so per-row
    CPU-heavy stages use the whole cluster."""
    from etl_mark1_spark.operators.dedup import ensure_parallelism

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert len(docs.inputFiles()) < spark.sparkContext.defaultParallelism
    out = ensure_parallelism(docs)
    assert out is not docs
    assert "RoundRobinPartitioning" in \
        out._jdf.queryExecution().executedPlan().toString()


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_release_checkpoint_frees_storage(spark):
    from etl_mark1_spark.operators.dedup import release_checkpoint

    before = _persistent_rdd_count(spark)
    ck = spark.range(100).localCheckpoint()
    assert _persistent_rdd_count(spark) == before + 1
    assert ck.count() == 100
    release_checkpoint(ck)
    assert _persistent_rdd_count(spark) == before
    # non-checkpointed frames are a safe no-op
    release_checkpoint(spark.range(5))


def test_release_checkpoint_walks_derived_frames(spark):
    """A frame BUILT ON a checkpoint (the distributed-path dedup result
    shape: ids joined to checkpointed labels) must free that checkpoint
    when the derived frame is released — the caller-owned hook for the
    >2M-edge clustering path."""
    from etl_mark1_spark.operators.dedup import release_checkpoint
    from pyspark.sql import functions as F

    before = _persistent_rdd_count(spark)
    labels = spark.range(100).select(
        F.col("id").alias("node"), (F.col("id") % 7).alias("label")
    ).localCheckpoint()
    ids = spark.range(100).select(F.col("id").alias("node"))
    result = ids.join(labels, "node")
    assert result.count() == 100
    assert _persistent_rdd_count(spark) == before + 1
    release_checkpoint(result)  # root-only default: derived root, no-op
    assert _persistent_rdd_count(spark) == before + 1
    release_checkpoint(result, deep=True)  # the caller-owned hook
    assert _persistent_rdd_count(spark) == before


def _persistent_rdd_ids(spark) -> set:
    ids = set()
    it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
    while it.hasNext():
        ids.add(it.next())
    return ids


def test_minhash_dedup_leaves_storage_flat(docs, spark):
    """Repeated dedup calls in a long-lived session (the DAG-executor use
    case) must not accumulate checkpoint blocks. Compared as ID SETS —
    no NEW persistent RDD may remain — not global counts: Spark's
    ContextCleaner unpersists earlier tests' dropped checkpoints
    asynchronously, so a count-equality assert flakes whenever that
    cleanup lands mid-test (it did in the round-9 full run)."""
    before = _persistent_rdd_ids(spark)
    for _ in range(2):
        minhash_dedup(docs, threshold=0.6).collect()
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, f"dedup left new checkpoint blocks: {leaked}"


def test_distributed_cluster_path_storage_released(spark):
    """The >threshold (distributed min-label) clustering path retains ONE
    caller-owned checkpoint — the final labels — and nothing else; after
    the caller consumes the result and calls
    release_checkpoint(result, deep=True), executor storage must return
    to baseline. Forced down the distributed path by a tiny
    driver_threshold on a synthetic graph (the flat-storage twin of the
    driver union-find test above)."""
    from pyspark.sql import functions as F

    from etl_mark1_spark.operators.dedup import (_cluster_min_label,
                                                 release_checkpoint)

    before = _persistent_rdd_count(spark)
    ids = spark.range(60).select(F.col("id").alias("doc_id"))
    # two chains (0..29, 30..59): diameter 30, converges via pointer jumps
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(29)]
        + [(30 + i, 31 + i) for i in range(29)], ["src", "dst"])
    result = _cluster_min_label(ids, edges, "doc_id", driver_threshold=10)
    got = {r.doc_id: r.cluster_id for r in result.collect()}
    assert got == {i: (0 if i < 30 else 30) for i in range(60)}
    # while the result is live, exactly the final-labels checkpoint remains
    assert _persistent_rdd_count(spark) == before + 1
    release_checkpoint(result, deep=True)
    assert _persistent_rdd_count(spark) == before


def test_neardup_distributed_cluster_path_matches_driver_path(
        docs, vectors, spark, monkeypatch):
    """The near-dup operators must return the same clusters whether the
    verified edges are resolved by the driver union-find (what fixture
    scale always takes) or by the distributed min-label propagation
    (what corpus scale takes), forced here with ``driver_threshold=0``."""
    import functools

    from etl_mark1_spark.operators import dedup
    from etl_mark1_spark.operators.dedup import release_checkpoint

    runs = {
        "minhash": lambda: dedup.minhash_dedup(docs, threshold=0.6),
        "simhash": lambda: dedup.simhash_dedup(docs, max_hamming=8),
        "embedding": lambda: dedup.embedding_neardup(
            vectors, threshold=0.99, num_tables=4, planes_per_table=2),
    }
    driver = {name: {tuple(r) for r in run().collect()}
              for name, run in runs.items()}
    monkeypatch.setattr(dedup, "_cluster_min_label", functools.partial(
        dedup._cluster_min_label, driver_threshold=0))
    for name, run in runs.items():
        result = run()
        assert {tuple(r) for r in result.collect()} == driver[name], name
        release_checkpoint(result, deep=True)
    # every fixture has a real near-dup edge, so the forced path was run
    assert all(len({c for _, c in rows}) < len(rows)
               for rows in driver.values())


def test_connected_components_known_graph(spark):
    """Hand-checkable labeling: chain, separate pair, self-loop singleton
    — every node labeled with its component's minimum id."""
    from etl_mark1_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], ["src", "dst"])
    got = {r.node: r.cluster_id
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_pagerank_path_graph_matches_reference(spark):
    """Hand-checkable path graph 1-2-3: the middle node must outrank the
    ends, ranks must sum to ~1, and values must equal the exact recurrence
    computed independently in Python."""
    from etl_mark1_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    got = {r.node: r.rank for r in pagerank(edges, iterations=3).collect()}

    # independent replay of the recurrence
    ranks = {1: 1 / 3, 2: 1 / 3, 3: 1 / 3}
    deg = {1: 1, 2: 2, 3: 1}
    neigh = {1: [2], 2: [1, 3], 3: [2]}
    for _ in range(3):
        ranks = {v: (1.0 - 0.85) / 3
                 + 0.85 * sum(ranks[u] / deg[u] for u in neigh[v])
                 for v in ranks}
    for v in ranks:
        assert abs(got[v] - ranks[v]) < 1e-6, v
    assert got[2] > got[1] == got[3]
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_symmetrize_oriented_skips_dedup_identically(spark):
    """oriented=True (round 8): on a distinct src<dst canonical edge list
    — what coorder_edges emits — the doubled-edge dedup shuffle is
    skipped and the result row set is identical; the executed fast-path
    plan must carry no aggregate (distinct compiles to HashAggregate)."""
    from etl_mark1_spark.operators.graph import (coorder_edges, pagerank,
                                                 symmetrize)

    li = spark.createDataFrame(
        [(o, p) for o in range(40) for p in [o % 7, (o * 3) % 11 + 7,
                                             (o * 5) % 13 + 20]],
        ["l_orderkey", "l_partkey"])
    canon = coorder_edges(li)
    slow_df = symmetrize(canon)
    slow = {(r.src, r.dst) for r in slow_df.collect()}
    fast_df = symmetrize(canon, oriented=True)
    fast = [(r.src, r.dst) for r in fast_df.collect()]
    assert set(fast) == slow and len(fast) == len(slow)
    # Both plans duplicate coorder's subtree under the union; the dedup
    # path adds its own distinct aggregate on top — the fast path must
    # plan strictly fewer aggregates (same base, no post-union dedup).
    n_fast = fast_df._jdf.queryExecution().executedPlan().toString() \
        .count("HashAggregate")
    n_slow = slow_df._jdf.queryExecution().executedPlan().toString() \
        .count("HashAggregate")
    assert n_fast < n_slow, f"no dedup skipped: fast {n_fast} slow {n_slow}"

    # end-to-end: ranks identical through the fast path
    slow_pr = {r.node: r.rank for r in pagerank(canon, iterations=2).collect()}
    fast_pr = {r.node: r.rank
               for r in pagerank(canon, iterations=2,
                                 oriented=True).collect()}
    assert fast_pr == slow_pr


def test_pagerank_directed_dangling(spark):
    """Directed mode: a sink node receives mass but contributes none
    (dangling leak, the documented simplified formulation); source nodes
    fall back to the base term."""
    from etl_mark1_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 3), (2, 3)], ["src", "dst"])
    got = {r.node: r.rank
           for r in pagerank(edges, iterations=2,
                             undirected=False).collect()}
    base = 0.15 / 3
    assert abs(got[1] - base) < 1e-9 and abs(got[2] - base) < 1e-9
    assert got[3] > got[1]


def test_semantic_dedup_collapses_planted_duplicates(spark):
    """Exact and near-identical vectors must land in one component with
    the min id as the label; an orthogonal vector stays a singleton."""
    from etl_mark1_spark.operators.similarity import semantic_dedup

    base = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.04, 0.0, 0.0]    # cosine ~0.9992
    ortho = [0.0, 1.0, 0.0, 0.0]
    rows = [(1, base), (2, list(base)), (3, near), (4, ortho),
            (5, [0.0, 0.0, 1.0, 0.0]), (6, [0.0, 0.0, 0.0, 1.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.vec_id: r.cluster_id
           for r in semantic_dedup(df, threshold=0.95,
                                   num_centroids=3).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[4] == 4 and out[5] == 5 and out[6] == 6
    # representatives = rows whose id is their own label
    kept = {k for k, v in out.items() if k == v}
    assert kept == {1, 4, 5, 6}


def test_int8_quantize_roundtrip_error_bounded(spark):
    """Dequantized values must sit within scale/2 of the originals, and
    the stored vector must really be tinyint (the 4x memory point)."""
    import numpy as np

    from etl_mark1_spark.operators.similarity import quantize_int8

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(16)])
            for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = quantize_int8(df)
    assert dict(out.dtypes)["qvec"] == "array<tinyint>"
    for r in out.collect():
        scale = r["qscale"]
        back = np.array(r["qvec"], dtype=float) * scale
        assert np.max(np.abs(back - np.array(r["embedding"]))) \
            <= scale / 2 + 1e-9


def test_int8_quantize_zero_vector(spark):
    from etl_mark1_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame([(1, [0.0, 0.0, 0.0])],
                               ["vec_id", "embedding"])
    r = quantize_int8(df).collect()[0]
    assert list(r["qvec"]) == [0, 0, 0] and r["qscale"] == 0.0


def test_int8_topk_recall_against_exact(spark, sf_dir):
    """Quantized top-10 on the real embeddings table must recover at
    least 8 of the exact top-10 (64-dim int8 keeps cosine within ~1e-2)."""
    from etl_mark1_spark.operators.similarity import (cosine_topk,
                                                      int8_cosine_topk)
    from etl_mark1_spark.sources.readers import read_parquet_compat

    emb = read_parquet_compat(spark, f"{sf_dir}/embeddings.parquet")
    query = emb.filter("vec_id = 1").first()["embedding"]
    rest = emb.filter("vec_id != 1")
    exact = {r["vec_id"] for r in cosine_topk(rest, query, k=10).collect()}
    quant = {r["vec_id"] for r in
             int8_cosine_topk(rest, query, k=10).collect()}
    assert len(exact & quant) >= 8


def test_int8_topk_plans_take_ordered(spark, sf_dir):
    from etl_mark1_spark.operators.similarity import int8_cosine_topk
    from etl_mark1_spark.sources.readers import read_parquet_compat

    emb = read_parquet_compat(spark, f"{sf_dir}/embeddings.parquet")
    query = emb.filter("vec_id = 1").first()["embedding"]
    plan = (int8_cosine_topk(emb, query, k=10)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan


def test_knn_join_matches_per_query_topk(spark, sf_dir):
    """knn_join must agree with running cosine_topk once per query."""
    from etl_mark1_spark.operators.similarity import cosine_topk, knn_join
    from etl_mark1_spark.sources.readers import read_parquet_compat

    emb = read_parquet_compat(spark, f"{sf_dir}/embeddings.parquet")
    queries = emb.filter("vec_id <= 3")
    table = emb.filter("vec_id > 3")
    joined = {(r["query_id"], r["rank"]): r["neighbor_id"]
              for r in knn_join(queries, table, k=3).collect()}
    for qrow in queries.collect():
        singles = cosine_topk(table, list(qrow["embedding"]), k=3).collect()
        for rank, s in enumerate(singles, start=1):
            assert joined[(qrow["vec_id"], rank)] == s["vec_id"]


def test_knn_join_broadcasts_queries(spark, sf_dir):
    from etl_mark1_spark.operators.similarity import knn_join
    from etl_mark1_spark.sources.readers import read_parquet_compat

    emb = read_parquet_compat(spark, f"{sf_dir}/embeddings.parquet")
    plan = (knn_join(emb.filter("vec_id <= 3"), emb.filter("vec_id > 3"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_setsim_join_matches_bruteforce(spark):
    """Prefix filtering must lose nothing: compare against brute-force
    all-pairs Jaccard on a fixture with planted near-duplicates."""
    from itertools import combinations

    from etl_mark1_spark.operators.dedup import setsim_join

    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = [
        (1, base),
        (2, base + " today"),                      # near-dup of 1
        (3, base.replace("dog", "cat")),           # near-dup of 1
        (4, "completely different words about cooking pasta and sauce"),
        (5, "completely different words about cooking pasta and soup"),
        (6, "one more unrelated document concerning winter mountains"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in setsim_join(df, threshold=0.4).collect()}

    def toks(t):
        return set(t.lower().split())

    want = {}
    for (ia, ta), (ib, tb) in combinations(rows, 2):
        a, b = toks(ta), toks(tb)
        jac = len(a & b) / len(a | b)
        if jac >= 0.4:
            want[(ia, ib)] = round(jac, 6)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_setsim_prefix_prunes_candidates(spark):
    """Documents sharing only COMMON tokens must not qualify at a high
    threshold, while true near-dups survive; and the shingle variant
    keeps short docs out."""
    from etl_mark1_spark.operators.dedup import setsim_join

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),       # exact dup
        (3, "alpha beta totally other things here now"),  # shares common
        (4, "hi"),                                        # < ngram tokens
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r["doc_a"], r["doc_b"]) for r in
           setsim_join(df, threshold=0.9, ngram=3).collect()}
    assert got == {(1, 2)}


def test_setsim_join_randomized_bruteforce_parity(spark):
    """Seeded randomized corpus (shared phrase pool => plenty of borderline
    pairs): prefix filtering must reproduce brute force exactly at several
    thresholds."""
    import random
    from itertools import combinations

    from etl_mark1_spark.operators.dedup import setsim_join

    rng = random.Random(71)
    pool = [f"tok{i}" for i in range(40)]
    rows = [(i, " ".join(rng.choices(pool, k=rng.randint(5, 15))))
            for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def toks(t):
        return set(t.split())

    for thr in (0.3, 0.5, 0.7):
        got = {(r["doc_a"], r["doc_b"]) for r in
               setsim_join(df, threshold=thr).collect()}
        want = set()
        for (ia, ta), (ib, tb) in combinations(rows, 2):
            a, b = toks(ta), toks(tb)
            if len(a & b) / len(a | b) >= thr:
                want.add((ia, ib))
        assert got == want, f"threshold {thr}"


def test_setsim_join_duplicate_heavy_matches_bruteforce(spark):
    """Exact-duplicate-heavy corpora (the round-9 distinct-set collapse):
    many verbatim copies per document must yield exactly the brute-force
    answer — every within-copy-set pair at jaccard 1.0, cross-set pairs
    at their true jaccard, each unordered id pair once — while the
    prefix join only ever touches the distinct sets."""
    from itertools import combinations

    from etl_mark1_spark.operators.dedup import setsim_join

    texts = ["the quick brown fox jumps over the lazy dog",
             "the quick brown fox jumps over the lazy cat",
             "unrelated cooking words about pasta sauce tonight"]
    rows = [(100 * t + c, txt)  # 4 verbatim copies of each document
            for t, txt in enumerate(texts) for c in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in setsim_join(df, threshold=0.5).collect()}

    want = {}
    for (ia, ta), (ib, tb) in combinations(rows, 2):
        a, b = set(ta.split()), set(tb.split())
        jac = len(a & b) / len(a | b)
        if jac >= 0.5:
            want[(min(ia, ib), max(ia, ib))] = round(jac, 6)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9
    # 3 copy sets of 4 -> 3 * C(4,2) jaccard-1.0 pairs; the two fox
    # variants share 7 of 9 distinct tokens across all 4x4 copy pairs
    assert sum(1 for v in got.values() if v == 1.0) == 3 * 6
    assert sum(1 for v in got.values()
               if abs(v - 7 / 9) < 1e-6) == 16


def test_dedup_keep_best_prefers_score_then_min_id(spark):
    from etl_mark1_spark.operators.dedup import dedup_keep_best

    rows = [(1, "k1", 10), (2, "k1", 30), (3, "k1", 30),   # tie at 30
            (4, "k2", 5),
            (5, "k3", 7), (6, "k3", 2)]
    df = spark.createDataFrame(rows, ["doc_id", "key", "score"])
    kept = sorted(r.doc_id for r in
                  dedup_keep_best(df, key_col="key", score_col="score",
                                  id_col="doc_id").collect())
    # k1: score tie 30/30 -> min id 2; k2: only row; k3: max score id 5
    assert kept == [2, 4, 5]


def test_triangle_count_k4_plus_path(spark):
    """K4 on {1,2,3,4}: every node sits in C(3,2)=3 triangles. The
    appended path 4-5-6 adds no triangle and its pure-path nodes must not
    appear in the output."""
    from etl_mark1_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(k4 + [(4, 5), (5, 6)], ["src", "dst"])
    got = {r.node: r.n_triangles for r in triangle_count(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_count_orientation_invariance(spark):
    """Reversed/duplicated input edges must not change counts: the
    symmetrize+orient front end canonicalizes direction and multiplicity."""
    from etl_mark1_spark.operators.graph import triangle_count

    tri = [(1, 2), (2, 3), (3, 1)]
    messy = tri + [(b, a) for a, b in tri] + tri
    got = {r.node: r.n_triangles
           for r in triangle_count(
               spark.createDataFrame(messy, ["src", "dst"])).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_graph_degrees_are_skew_safe_no_edge_window(spark):
    """Round-14 regression pin: node degrees must come from a groupBy
    (map-side partial aggregation) joined back, never from a count
    window partitioned by node — a window puts EVERY edge of a hub in
    one task with no partials and AQE cannot skew-split it (guide §2.5;
    the round-13 window formulation was a straggler/OOM cliff on
    power-law graphs). Pins: no Window node in either executed plan,
    and a 10^5-edge hub star completes with correct results."""
    from etl_mark1_spark.operators.graph import pagerank, triangle_count

    # star: one hub (node 0) with 100k spokes + one triangle off to the
    # side so the output is non-empty
    hub = spark.range(1, 100_001).selectExpr("CAST(0 AS LONG) AS src",
                                             "id AS dst")
    tri = spark.createDataFrame(
        [(200_001, 200_002), (200_002, 200_003), (200_003, 200_001)],
        ["src", "dst"])
    edges = hub.unionByName(tri.selectExpr("CAST(src AS LONG) src",
                                           "CAST(dst AS LONG) dst"))

    tc = triangle_count(edges)
    got = {r.node: r.n_triangles for r in tc.collect()}
    assert got == {200_001: 1, 200_002: 1, 200_003: 1}
    assert "Window" not in tc._jdf.queryExecution().executedPlan().toString()

    # pagerank's result frame is checkpoint-truncated (no plan to pin);
    # the hub star itself is the regression: with a count window over
    # src this materializes the whole 100k-edge hub in one window task.
    ranks = {r.node: r.rank
             for r in pagerank(edges, iterations=1).collect()}
    assert len(ranks) == 100_004 and abs(sum(ranks.values()) - 1.0) < 1e-4
    assert ranks[0] == max(ranks.values())  # the hub outranks every spoke


def test_coorder_edges_matches_self_join(spark):
    """The grouped pair-explode build must produce exactly the edge set
    of the equi-self-join formulation, including duplicate collapsing."""
    from etl_mark1_spark.operators.graph import coorder_edges

    rows = [(1, 10), (1, 11), (1, 12), (1, 10),   # dup item in group
            (2, 11), (2, 12),
            (3, 20),                               # singleton: no edges
            (4, 12, ), (4, 11)]
    df = spark.createDataFrame(rows, ["g", "item"])
    got = {(r.src, r.dst) for r in
           coorder_edges(df, "g", "item").collect()}
    a, b = df.alias("a"), df.alias("b")
    want = {(r[0], r[1]) for r in
            a.join(b, (F.col("a.g") == F.col("b.g"))
                   & (F.col("a.item") < F.col("b.item")))
            .select(F.col("a.item"), F.col("b.item")).distinct().collect()}
    # group 4's (11, 12) collapses into group 2's: 3 distinct edges
    assert got == want and (10, 11) in got and len(got) == 3


def test_pca_matches_numpy_reference(spark, sf_dir):
    """The distributed fit (Gram partials + driver eigh) must agree with
    an in-memory numpy PCA on the same vectors: identical eigenvalues,
    same span per component (|cos| = 1 up to sign), and projections that
    reproduce numpy's up to the canonical sign."""
    import numpy as np

    from etl_mark1_spark.operators.similarity import pca_fit, pca_project

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = pca_fit(emb, k=5)
    x = np.stack([np.asarray(r.embedding, dtype=np.float64)
                  for r in emb.select("embedding").collect()])
    mean = x.mean(axis=0)
    cov = (x - mean).T @ (x - mean) / x.shape[0]
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]
    w, v = w[order], v[:, order]
    assert np.allclose(model["eigvals"], w, atol=1e-9)
    comps = np.asarray(model["components"])
    for i in range(5):
        assert abs(abs(comps[i] @ v[:, i]) - 1.0) < 1e-7, i
    got = {r.vec_id: np.asarray(r.pca)
           for r in pca_project(emb, model).collect()}
    want = (x - mean) @ comps.T
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    for rid, row in zip(ids, want):
        assert np.allclose(got[rid], row, atol=1e-9)


def test_pca_partials_merge_in_cluster(spark, sf_dir):
    """The driver must collect exactly ONE O(d^2) partial row however
    many partitions (and Arrow batches) the scan has — the in-cluster
    tree merge, not a per-batch collect (the round-4 shape collected one
    row per Arrow batch: 8*d^2 bytes x rows/batch_size at the driver)."""
    import numpy as np

    from etl_mark1_spark.operators.similarity import _pca_partials, pca_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(16)
    rows = _pca_partials(emb).collect()
    assert len(rows) == 1
    x = np.stack([np.asarray(r.embedding, dtype=np.float64)
                  for r in emb.select("embedding").collect()])
    assert rows[0].n == x.shape[0]
    assert np.allclose(np.asarray(rows[0].s), x.sum(axis=0))
    assert np.allclose(np.asarray(rows[0].g), (x.T @ x).reshape(-1))
    model = pca_fit(emb, k=3)
    assert model["n"] == x.shape[0]


def test_pca_projection_decorrelates(spark, sf_dir):
    """Projected coordinates must be uncorrelated (diagonal covariance)
    with per-axis variance equal to the eigenvalues — the property that
    makes PCA whitening work."""
    import numpy as np

    from etl_mark1_spark.operators.similarity import pca_fit, pca_project

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = pca_fit(emb, k=4)
    p = np.stack([np.asarray(r.pca) for r in
                  pca_project(emb, model).collect()])
    cov = np.cov(p, rowvar=False, bias=True)
    off = cov - np.diag(np.diag(cov))
    assert np.abs(off).max() < 1e-9
    assert np.allclose(np.diag(cov), model["eigvals"][:4], atol=1e-9)


def test_edit_distance_join_known_pairs(spark):
    """Hand-checkable recall across all three edit operations and both
    max_dist tiers: substitution, insertion, deletion pairs surface with
    exact distances; far pairs never do; k=2 widens exactly as far as
    levenshtein says; the self-join emits each pair once (a < b)."""
    from etl_mark1_spark.operators.dedup import edit_distance_join

    rows = [(1, "kitten"), (2, "sitten"), (3, "sittin"), (4, "kitte"),
            (5, "kittens"), (6, "zzzzzz")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    k1 = {(r.a, r.b): r.dist for r in
          edit_distance_join(df, df, max_dist=1, self_join=True).collect()}
    assert k1 == {(1, 2): 1,    # substitution
                  (2, 3): 1,    # substitution
                  (1, 4): 1,    # deletion
                  (1, 5): 1}    # insertion; (4,5) is dist 2 -> excluded
    k2 = {(r.a, r.b): r.dist for r in
          edit_distance_join(df, df, max_dist=2, self_join=True).collect()}
    assert k2[(1, 3)] == 2 and k2[(4, 5)] == 2 and (1, 6) not in k2
    # bipartite form keeps both directions' ids separate
    left = spark.createDataFrame([(10, "alpha")], ["doc_id", "text"])
    right = spark.createDataFrame([(20, "alpha"), (21, "alpho"),
                                   (22, "omega")], ["doc_id", "text"])
    got = {(r.a, r.b): r.dist for r in
           edit_distance_join(left, right, max_dist=1).collect()}
    assert got == {(10, 20): 0, (10, 21): 1}


def test_edit_distance_join_randomized_naive_parity(spark):
    """Seeded randomized corpus over a small alphabet (plenty of
    borderline pairs, duplicates, and empty-ish strings): the FastSS
    join must reproduce the naive quadratic levenshtein join exactly at
    k=1 and k=2 — full recall (deletion neighborhoods), no false pairs
    (exact verify), canonical a < b ids once each."""
    import itertools
    import random

    from etl_mark1_spark.operators.dedup import edit_distance_join

    def lev(s, t):
        d = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            prev, d[0] = d[0], i
            for j, ct in enumerate(t, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1,
                                       prev + (cs != ct))
        return d[len(t)]

    rng = random.Random(20260815)
    rows = [(i, "".join(rng.choice("abc")
                        for _ in range(rng.randint(1, 6))))
            for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for k in (1, 2):
        got = {(r.a, r.b): r.dist for r in
               edit_distance_join(df, df, max_dist=k,
                                  self_join=True).collect()}
        naive = {(a, b): lev(ta, tb)
                 for (a, ta), (b, tb) in itertools.combinations(rows, 2)
                 if lev(ta, tb) <= k}
        assert got == naive, f"k={k}"


def test_edit_distance_join_duplicate_heavy_matches_naive(spark):
    """Exact-duplicate-heavy corpora (the 100 TB reality the round-9
    distinct-string collapse targets): many verbatim copies per string
    must yield exactly the naive quadratic answer — every within-copy-set
    pair at dist 0, every cross-set pair within the threshold, each
    unordered id pair once with a < b — while the neighborhood join only
    ever touches the unique strings."""
    import itertools

    from pyspark.sql import functions as F

    from etl_mark1_spark.operators.dedup import edit_distance_join

    base = ["node07", "node17", "node99", "other"]
    rows = [(100 * t + c, text)  # 5 verbatim copies of each string
            for t, text in enumerate(base) for c in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.a, r.b): r.dist for r in
           edit_distance_join(df, df, max_dist=1, self_join=True).collect()}

    def lev(s, t):
        d = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            prev, d[0] = d[0], i
            for j, ct in enumerate(t, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1,
                                       prev + (cs != ct))
        return d[len(t)]

    naive = {(a, b): lev(ta, tb)
             for (a, ta), (b, tb) in itertools.combinations(rows, 2)
             if lev(ta, tb) <= 1}
    naive = {(min(a, b), max(a, b)): d for (a, b), d in naive.items()}
    assert got == naive
    # 5 copies x 4 strings -> 4 * C(5,2) dist-0 pairs + 5*5 cross pairs
    # for the one true dist-1 string pair (node07, node17)
    assert sum(1 for d in got.values() if d == 0) == 4 * 10
    assert sum(1 for d in got.values() if d == 1) == 25


# -- incremental dedup-on-ingest (operators/incremental.py) -------------------

def _inc_docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


BASE_A = ("the quick brown fox jumps over the lazy dog while the band "
          "plays on and the crowd cheers loudly in the warm evening air")
BASE_B = ("completely different content about distributed query engines "
          "and shuffle partitioning strategies for large analytical jobs")
BASE_C = ("a third unrelated passage mentioning neither foxes nor query "
          "engines but rather the economics of medieval salt trading")


def test_incremental_neardup_flags_history_and_batch_dups(spark):
    from etl_mark1_spark.operators.incremental import (incremental_neardup,
                                                       minhash_index)

    history = _inc_docs(spark, [(0, BASE_A), (1, BASE_B)])
    idx = minhash_index(history)
    batch = _inc_docs(spark, [
        (10, BASE_A + " extra tail"),   # near-dup of history doc 0
        (11, BASE_C),                   # unique
        (12, BASE_C + " appended"),     # near-dup of EARLIER batch doc 11
    ])
    got = {r.doc_id: (r.dup_of, r.jaccard_sim)
           for r in incremental_neardup(batch, idx, history,
                                        threshold=0.6).collect()}
    assert set(got) == {10, 11, 12}
    assert got[10][0] == 0 and got[10][1] >= 0.6
    assert got[11] == (None, None)
    assert got[12][0] == 11 and got[12][1] >= 0.6


def test_incremental_neardup_versioned_index_loop(spark, tmp_path):
    """The full ingest loop: index history -> persist versioned -> batch 1
    -> append ACCEPTED rows -> batch 2 must near-dup a batch-1 doc via the
    APPENDED index rows, and the corpus store grows by accepted docs."""
    from etl_mark1_spark.operators.incremental import (incremental_neardup,
                                                       minhash_index)
    from etl_mark1_spark.sources.versioned import read_table, write_version

    table = str(tmp_path / "lsh_index")
    history = _inc_docs(spark, [(0, BASE_A)])
    write_version(minhash_index(history), table)

    batch1 = _inc_docs(spark, [(10, BASE_B), (11, BASE_A + " tail")])
    r1 = {r.doc_id: r.dup_of for r in incremental_neardup(
        batch1, read_table(spark, table), history,
        threshold=0.6).collect()}
    assert r1 == {10: None, 11: 0}
    accepted1 = batch1.filter(batch1.doc_id == 10)     # 11 rejected
    write_version(minhash_index(accepted1), table, mode="append")
    corpus = history.unionByName(accepted1)

    batch2 = _inc_docs(spark, [(20, BASE_B + " coda"), (21, BASE_C)])
    r2 = {r.doc_id: r.dup_of for r in incremental_neardup(
        batch2, read_table(spark, table), corpus,
        threshold=0.6).collect()}
    assert r2 == {20: 10, 21: None}   # 20 caught by the APPENDED rows


def test_incremental_neardup_verify_is_semi_join_bounded(spark, monkeypatch):
    from etl_mark1_spark.operators import incremental
    from etl_mark1_spark.operators.incremental import (incremental_neardup,
                                                       minhash_index)

    # bypass the localCheckpoint plan-truncation points so the executed
    # plan shows the verify subtree (round-13-opt: the real operator
    # materializes the bounded candidate frames; the semi-join shape is
    # unchanged, just hidden behind the checkpoint in the final plan)
    monkeypatch.setattr(incremental, "_materialize", lambda df: df)
    history = _inc_docs(spark, [(0, BASE_A), (1, BASE_B)])
    out = incremental_neardup(
        _inc_docs(spark, [(10, BASE_A)]), minhash_index(history), history)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan   # only candidate ids are re-shingled


def test_incremental_neardup_plan_is_truncated_at_candidates(spark):
    """Round-13-opt pin: the candidate pair frame and the candidate
    shingle frame are MATERIALIZED (localCheckpoint), so the final plan
    neither replays the index probe per consumer nor re-shingles the
    candidates per verify side. Un-truncated, the executed plan at bench
    scale carried 28 parquet scans / 50 joins (the candidate subtree
    planned once per consumer with zero exchange reuse, ~3.5 s of driver
    planning gaps per run at sf0.1); truncated it scans RDDs. The text
    scan below feeds only the final id-universe join."""
    from etl_mark1_spark.operators.incremental import (incremental_neardup,
                                                       minhash_index)

    history = _inc_docs(spark, [(0, BASE_A), (1, BASE_B)])
    out = incremental_neardup(
        _inc_docs(spark, [(10, BASE_A)]), minhash_index(history), history)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the verify subtree reads the two checkpointed RDDs, not the corpus
    assert plan.count("Scan ExistingRDD") >= 2
    # keep-first winner still computed correctly through the checkpoints
    assert {(r.doc_id, r.dup_of)
            for r in out.collect()} == {(10, 0)}


def test_incremental_neardup_null_and_short_text_surface(spark):
    """Round-8 ADVICE regression: NULL-text (and unshingleable) documents
    must still get a verdict row — dup_of NULL — instead of vanishing
    from the output (an ingest sink would otherwise neither accept nor
    reject them)."""
    from etl_mark1_spark.operators.incremental import (incremental_neardup,
                                                       minhash_index)

    history = _inc_docs(spark, [(0, BASE_A)])
    batch = spark.createDataFrame(
        [(10, None), (11, "ab"), (12, BASE_A + " tail"), (13, BASE_C)],
        "doc_id bigint, text string")
    got = {r.doc_id: r.dup_of
           for r in incremental_neardup(batch, minhash_index(history),
                                        history, threshold=0.6).collect()}
    assert got == {10: None, 11: None, 12: 0, 13: None}


def test_incremental_neardup_history_probe_broadcasts_batch(spark,
                                                            monkeypatch):
    """Plan pin (VERDICT r7 #4): the candidate-generation bucket join
    must broadcast the SMALL batch side into the index probe — the index
    (the 100 TB-scale side) never shuffles."""
    from etl_mark1_spark.operators import incremental
    from etl_mark1_spark.operators.incremental import (incremental_neardup,
                                                       minhash_index)

    # see test_incremental_neardup_verify_is_semi_join_bounded: bypass
    # the checkpoint seam so the probe join is visible in the final plan
    monkeypatch.setattr(incremental, "_materialize", lambda df: df)
    history = _inc_docs(spark, [(i, f"{BASE_A} v{i}") for i in range(8)])
    out = incremental_neardup(
        _inc_docs(spark, [(100, BASE_A + " probe")]),
        minhash_index(history), history, threshold=0.6)
    out.collect()   # let AQE finalize its runtime join choices
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin [_bucket" in plan, plan[:2000]


def test_incremental_neardup_leaves_storage_flat(spark):
    """Repeated ingest screens in a long-lived session (the streaming
    sink's use) must not accumulate checkpoint blocks: the batch
    signature checkpoint is freed inside the call, and the two candidate
    checkpoints the verdicts lean on go with the caller's
    ``release_checkpoint(result, deep=True)``. Compared as ID sets, as in
    test_minhash_dedup_leaves_storage_flat."""
    from etl_mark1_spark.operators.dedup import release_checkpoint
    from etl_mark1_spark.operators.incremental import (incremental_neardup,
                                                       minhash_index)

    history = _inc_docs(spark, [(0, BASE_A), (1, BASE_B)])
    idx = minhash_index(history)
    batch = _inc_docs(spark, [(10, BASE_A + " extra tail"), (11, BASE_C)])
    before = _persistent_rdd_ids(spark)
    for _ in range(2):
        out = incremental_neardup(batch, idx, history, threshold=0.6)
        assert {(r.doc_id, r.dup_of) for r in out.collect()} \
            == {(10, 0), (11, None)}
        release_checkpoint(out, deep=True)
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, f"incremental_neardup left checkpoints: {leaked}"


def test_minhash_index_fans_out_compact_file_corpus(spark, sf_dir):
    """The index build must round-robin a few-split file corpus before
    shingling — without the exchange the whole CPU-heavy stage runs on
    one core (measured 16s -> 2s at sf0.1; the bench entry dropped
    24.5s -> 5.5s when this regressed in round 7)."""
    from etl_mark1_spark.operators.incremental import minhash_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = minhash_index(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "RoundRobinPartitioning" in plan


def test_setsim_join_exact_threshold_boundary_pair(spark):
    """A pair whose jaccard is EXACTLY the threshold must survive every
    prune (round-10 ADVICE): doubles round 0.8*35 up to
    28.000000000000004, so the tight length / prefix / positional
    filters each rejected a qualifying subset pair (|a|=28 c |b|=35,
    overlap 28, jaccard 28/35 == 0.8) before the exact verify could
    keep it. The relaxed prunes may only over-admit."""
    from etl_mark1_spark.operators.dedup import setsim_join

    toks = [f"tok{i:02d}" for i in range(35)]
    rows = [
        (1, " ".join(toks[:28])),            # a strict subset of b
        (2, " ".join(toks)),                 # the full 35-token set
        (3, " ".join(toks[:31])),            # |a|+|b|=63 with overlap 28
        (4, " ".join(toks[:28] + [f"only4x{i}" for i in range(4)])),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in setsim_join(df, threshold=0.8).collect()}

    from itertools import combinations
    want = {}
    for (ia, ta), (ib, tb) in combinations(rows, 2):
        a, b = set(ta.split()), set(tb.split())
        jac = len(a & b) / len(a | b)
        if jac >= 0.8:
            want[(ia, ib)] = round(jac, 6)
    assert (1, 2) in want          # the boundary pair the prunes dropped
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_edit_distance_join_self_join_rejects_foreign_right(spark):
    """self_join=True derives both sides from `left`; passing a
    genuinely different `right` must raise, not silently ignore it
    (round-10 ADVICE). right=None and right-is-left stay accepted."""
    from etl_mark1_spark.operators.dedup import edit_distance_join

    df = spark.createDataFrame([(1, "abc"), (2, "abd")],
                               ["doc_id", "text"])
    other = spark.createDataFrame([(9, "zzz")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="self_join"):
        edit_distance_join(df, other, self_join=True)
    with pytest.raises(ValueError, match="right"):
        edit_distance_join(df)          # non-self join needs a right
    pairs = {(r["a"], r["b"]) for r in
             edit_distance_join(df, self_join=True).collect()}
    assert pairs == {(1, 2)}


def test_broadcast_decontam_flags_planted_leak(spark):
    """A corpus doc embedding a reference 13-gram verbatim is flagged
    with the right distinct-gram count; clean docs are absent."""
    from etl_mark1_spark.operators.dedup import broadcast_ngram_decontam

    bench_q = ("what is the capital of france and when was it founded "
               "by the romans exactly")                       # 15 tokens
    corpus = spark.createDataFrame([
        (1, f"intro text {bench_q} closing remark"),          # leaked
        (2, "a completely clean document with plenty of words but "
            "no overlap with any benchmark question at all here"),
        (3, "short doc"),                                     # < n tokens
        (4, bench_q),                                         # exact copy
    ], ["doc_id", "text"])
    ref = spark.createDataFrame([(100, bench_q)], ["doc_id", "text"])

    got = {r["doc_id"]: r["n_hits"] for r in
           broadcast_ngram_decontam(corpus, ref, n=13).collect()}
    # the 15-token question yields 3 distinct 13-grams; both leaky docs
    # contain all of them
    assert got == {1: 3, 4: 3}


def test_broadcast_decontam_corpus_side_never_hash_shuffles(spark, sf_dir):
    """The operator's contract after the round-13 broadcast-join rework:
    the corpus gram membership is decided by a BroadcastHashJoin inside
    the scan stage — no exchange of any kind between the corpus scan
    and the join — and the only hash exchange in the whole plan is the
    per-doc count of the MATCHING rows (hits-sized by the decontam
    premise), sitting strictly above the join."""
    from etl_mark1_spark.operators.dedup import broadcast_ngram_decontam

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ref = docs.filter(F.col("doc_id") % 50 == 0)
    out = broadcast_ngram_decontam(docs.filter(F.col("doc_id") % 50 != 0),
                                   ref, n=13)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # with AQE the string appends an "== Initial Plan ==" re-print of the
    # whole tree; keep only the FINAL (executed) plan before walking it
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "rangepartitioning" not in plan.lower(), plan[:3000]
    # the corpus side below the join is exchange-free: walk the plan
    # text from the join downwards and require the only hashpartitioning
    # mention to be ABOVE the join line (the hits-count aggregation)
    lines = plan.splitlines()
    join_at = next(i for i, ln in enumerate(lines)
                   if "BroadcastHashJoin" in ln)
    below = "\n".join(lines[join_at:])
    assert "hashpartitioning" not in below.lower(), below[:3000]


def test_broadcast_decontam_refuses_corpus_scale_reference(spark, sf_dir):
    from etl_mark1_spark.operators.dedup import broadcast_ngram_decontam

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError, match="max_ref_grams"):
        broadcast_ngram_decontam(docs, docs, n=13, max_ref_grams=10)


def test_setsim_join_boundary_rich_thresholds(spark):
    """Randomized parity at thresholds chosen so exact-boundary pairs
    (jaccard == t precisely) occur naturally: a small vocabulary makes
    ratios like 1/2, 2/3, 3/4, 4/5 common, which is exactly where the
    pre-round-10 tight prunes dropped qualifying pairs."""
    import random
    from itertools import combinations

    from etl_mark1_spark.operators.dedup import setsim_join

    rng = random.Random(9)
    vocab = [f"v{i}" for i in range(12)]
    rows = []
    for i in range(40):
        k = rng.randint(2, 10)
        rows.append((i, " ".join(rng.sample(vocab, k))))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    for t in (0.5, 2 / 3, 0.75, 0.8):
        got = {(r["doc_a"], r["doc_b"]) for r in
               setsim_join(df, threshold=t).collect()}
        want = set()
        boundary = 0
        for (ia, ta), (ib, tb) in combinations(rows, 2):
            a, b = set(ta.split()), set(tb.split())
            jac = len(a & b) / len(a | b)
            if jac >= t:
                want.add((ia, ib))
                if jac == t:
                    boundary += 1
        assert got == want, (t, got ^ want)
    # the generator must actually produce boundary pairs at 0.5
    t = 0.5
    assert sum(
        1 for (ia, ta), (ib, tb) in combinations(rows, 2)
        if len(set(ta.split()) & set(tb.split()))
        / len(set(ta.split()) | set(tb.split())) == t) > 0
