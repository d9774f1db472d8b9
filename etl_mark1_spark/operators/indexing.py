"""Inverted-index LIFECYCLE: build, persist, merge, incrementally update,
and query term-frequency postings.

The reference's search surface stops at SQL LIKE over scanned text
(backend/services/duckdb_engine.py generates WHERE clauses; there is no
index object anywhere in it). ``operators/corpus.py`` already exposes the
read side (token_index_stats, bm25_topk); this module adds the missing
lifecycle half a 100 TB corpus actually operates: shard indexes are built
independently per ingest batch, PERSISTED partitioned by a token hash
bucket (so a term lookup is a partition-pruned scan, not a corpus scan),
MERGED segment-style without touching the documents again, and refreshed
incrementally at O(delta) when a new batch lands.

Design rules carried over from token_index_stats:

* Postings are ROWS (token, doc_id, tf) — a posting-list column would
  concentrate a stopword's corpus-wide set in one task's aggregation
  state, while rows shard it like any other key.
* Every dictionary statistic is ALGEBRAIC (df and cf are sums over
  disjoint doc shards), which is exactly what makes segment merge a
  re-aggregation instead of a rebuild: merge(build(A), build(B)) ==
  build(A ∪ B) for disjoint A, B. tests/test_indexing.py pins that
  identity on randomized shardings.
* Token identity is the md5-stable normalized form (lowercase,
  whitespace-collapsed), so the same index is reproducible in any
  engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_mark1_spark.functions.grams import word_ngram_rows
from etl_mark1_spark.operators.segments import (_exists, _live,
                                                _read_tombstones, _write_parts)

#: partition count for persisted indexes — a term lookup reads exactly one
#: of these buckets. 64 keeps sf-scale fixture writes small; production
#: sizes it so one bucket's postings fit a scan task (buckets are a
#: FUNCTION OF THE TOKEN, so merged/incremental segments align for free).
DEFAULT_BUCKETS = 64

#: The columns of each artifact of a persisted search index
#: (:func:`write_search_index`, :func:`write_position_index`,
#: :func:`delete_from_index`), declared once beside the writers. Each
#: writer casts to them (so ``doc_id`` is ``bigint`` whatever the
#: input's id type) and :func:`read_artifact` reads with them, so
#: opening an artifact launches no schema-inference job. Partition
#: columns (``bucket``, and ``seg`` in the streaming layout) are not
#: named: the reader discovers them from the directory names.
ARTIFACT_COLUMNS = {
    "postings": (("token", "string"), ("doc_id", "bigint"),
                 ("tf", "bigint"), ("dl", "bigint")),
    "stats": (("n_docs", "bigint"), ("sum_dl", "bigint")),
    "dict": (("token", "string"), ("df", "bigint"), ("max_tf", "bigint"),
             ("min_dl", "bigint")),
    "deletes": (("doc_id", "bigint"), ("dl", "bigint")),
    "positions": (("token", "string"), ("doc_id", "bigint"),
                  ("positions", "array<bigint>")),
}


def read_artifact(spark, path: str, part: str) -> DataFrame:
    """Artifact ``part`` of the search index at ``path``, read with its
    declared schema. A missing artifact still raises
    ``AnalysisException``."""
    return spark.read.schema(_ddl(part)).parquet(f"{path.rstrip('/')}/{part}")


def _ddl(part: str) -> str:
    """The declared schema of artifact ``part`` as a DDL string."""
    return ", ".join(f"{c} {t}" for c, t in ARTIFACT_COLUMNS[part])


def token_bucket(col: Column, num_buckets: int = DEFAULT_BUCKETS) -> Column:
    """Deterministic [0, num_buckets) bucket from the md5 of the token —
    stable across engines and Spark versions (unlike ``hash``), so a
    bucket number computed at query time finds the partition a previous
    session wrote."""
    return (F.conv(F.substring(F.md5(col), 1, 4), 16, 10)
            .cast("int") % num_buckets)


def _doc_tokens(text_col: str) -> Column:
    """The document's nonempty normalized tokens as an array column —
    the one tokenization every ingest artifact derives from."""
    from etl_mark1_spark.functions.text import normalized_text

    return F.filter(F.split(normalized_text(F.col(text_col)), " "),
                    lambda x: x != "")


def _run_starts(sorted_col: Column) -> Column:
    """1-based indices where a run of equal values starts in an already
    SORTED array — the O(n log n) shuffle-free way to get per-document
    term frequencies: tf of the k-th run = starts[k+1] - starts[k]
    (sentinel n+1). The i == 1 guard keeps the index-0 lookup branch
    unevaluated (ANSI mode errors on array index 0)."""
    idx = F.transform(sorted_col, lambda _, i: i + F.lit(1))
    return F.filter(
        idx,
        lambda i: F.when(i == F.lit(1), F.lit(True))
        .otherwise(F.element_at(sorted_col, i)
                   != F.element_at(sorted_col, i - F.lit(1))))


def build_postings(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Term-frequency postings: one (token, doc_id, tf) row per distinct
    (token, document) pair. One explode + one partial-aggregating
    groupBy; a document's repeated tokens collapse map-side, so the
    exchange carries exactly one row per distinct (token, doc) pair —
    the output rows themselves, nothing occurrence-sized.

    Round-14: back to explode + groupBy from the round-13 per-document
    sort + run-length-encode. The RLE form saved this one exchange but
    priced every document at an interpreted-eval array_sort + HOF RLE
    (higher-order functions are CodegenFallback — no whole-stage
    codegen), which the driver's bench measured as a 1.8x LOSS on the
    pure-build entries (index_merge_parity_docs 1.12 s -> 1.95 s); the
    codegen'd explode + hash-aggregate is cheaper than the per-row sort
    at every scale, and the exchange it pays is already collapsed to
    final cardinality map-side."""
    return (build_scored_postings(df, text_col=text_col, id_col=id_col)
            .drop("dl"))


def postings_dictionary(postings: DataFrame) -> DataFrame:
    """Dictionary segment over a postings frame: per-token document
    frequency (df) and collection frequency (cf = total occurrences).
    Both are algebraic sums, so dictionaries from disjoint doc shards
    merge exactly (see :func:`merge_dictionaries`)."""
    return (postings.groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("df"),
                 F.sum("tf").cast("bigint").alias("cf")))


def merge_postings(*segments: DataFrame) -> DataFrame:
    """Segment merge on the postings level: n-ary union + re-sum. For
    the normal case (segments index DISJOINT document batches) the sum
    never fires and this is a pure union; when a document was
    re-ingested into two segments its tf re-aggregates instead of
    duplicating the posting — the idempotence a compaction pass relies
    on. Never touches document text."""
    if not segments:
        raise ValueError("merge_postings needs at least one segment")
    out = segments[0]
    for seg in segments[1:]:
        out = out.unionByName(seg)
    return (out.groupBy("token", "doc_id")
            .agg(F.sum("tf").cast("bigint").alias("tf")))


def merge_dictionaries(*segments: DataFrame) -> DataFrame:
    """Segment merge on the dictionary level: df and cf add across
    disjoint doc shards — O(sum of dictionary sizes), independent of
    corpus size. This is the O(delta) path an incremental refresh takes:
    dictionary(new batch) is delta-sized, and the merge re-aggregates
    dictionaries, not documents."""
    if not segments:
        raise ValueError("merge_dictionaries needs at least one segment")
    out = segments[0]
    for seg in segments[1:]:
        out = out.unionByName(seg)
    return (out.groupBy("token")
            .agg(F.sum("df").cast("bigint").alias("df"),
                 F.sum("cf").cast("bigint").alias("cf")))


def write_postings_index(postings: DataFrame, path: str,
                         num_buckets: int = DEFAULT_BUCKETS) -> None:
    """Persist a postings segment partitioned by the md5 token bucket.
    A term lookup then reads ONE directory (`bucket=<n>`) — Spark's
    partition pruning turns it into a pruned scan
    (tests/test_indexing.py asserts the pruned plan). Appending a new
    segment to the same path keeps bucket alignment automatically: the
    bucket is a function of the token."""
    (postings
     .withColumn("bucket", token_bucket(F.col("token"), num_buckets))
     .write.mode("append").partitionBy("bucket").parquet(path))


def read_postings_index(spark, path: str) -> DataFrame:
    """Open a persisted index. The `bucket` partition column rides along
    so :func:`lookup_term` can prune on it."""
    return spark.read.parquet(path)


def lookup_term(index: DataFrame, term: str,
                num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Postings of one term from a persisted index: the bucket predicate
    is computed driver-side from the term itself, so the scan prunes to
    one partition before the exact token filter runs."""
    return lookup_terms(index, [term], num_buckets)


def lookup_terms(index: DataFrame, terms: list[str],
                 num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Postings of a term SET from a persisted index, pruned to the
    union of the terms' buckets — the read path a conjunctive or phrase
    query takes against a persisted index: feed the result straight to
    :func:`conjunctive_search` / :func:`phrase_search`; only
    |distinct buckets| of the ``num_buckets`` directories are
    scanned."""
    import hashlib

    if not terms:
        raise ValueError("lookup_terms needs at least one term")
    lowered = _fold_terms(index.sparkSession, terms)
    buckets = sorted({int(hashlib.md5(t.encode()).hexdigest()[:4], 16)
                      % num_buckets for t in lowered})
    return index.filter(F.col("bucket").isin(buckets)
                        & F.col("token").isin(lowered))


def _fold_terms(spark, terms, ordered: bool = False) -> list[str]:
    """Query terms case-folded the way the index tokenizer folded the
    corpus (functions/text.py:normalized_text): sorted and
    deduplicated, or with ``ordered=True`` in input order with repeats
    (a phrase). ASCII folds driver-side, where Python's and Spark's
    lower() agree. Non-ASCII terms fold through THE ENGINE's lower():
    Python and the JVM disagree on Unicode edge cases ('İ' and
    friends), and a driver-side fold would hash to a bucket the index
    never wrote, silently returning no postings."""
    terms = list(terms)
    if all(t.isascii() for t in terms):
        folded = [t.lower() for t in terms]
    else:
        folded = [r[0] for r in
                  spark.createDataFrame([(t,) for t in terms], "term string")
                  .select(F.lower(F.col("term"))).collect()]
    return folded if ordered else sorted(set(folded))


def build_scored_postings(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Postings with the document length DENORMALIZED onto every row:
    (token, doc_id, tf, dl) — the Lucene-norms idea as a column. BM25's
    length normalization needs dl at scoring time; carrying it on the
    posting makes a persisted-index query JOIN-FREE on the corpus side
    (the alternative — a separate doc-lengths table — re-shuffles on
    doc_id for every query). dl = total token count of the doc.

    Round-14 shape: one codegen'd explode + ONE partial-aggregating
    groupBy where ``dl`` rides the GROUP KEY — dl is functionally
    dependent on doc_id (it is size() of the document's own token
    array, projected before the explode), so grouping by
    (token, doc_id, dl) forms exactly the (token, doc_id) groups and
    attaches dl for free. This keeps round 13's real win over the
    original two-exchange form (the corpus-wide doc_id JOIN that
    attached dl is still gone) while dropping round 13's per-document
    sort + run-length-encode, whose interpreted higher-order-function
    eval (HOFs are CodegenFallback) the driver's bench measured as a
    1.8x loss on the pure-build entries. The one exchange left is
    collapsed to final output cardinality by map-side partials — a
    document lives in one input row, so every (token, doc) group is
    partition-local."""
    from etl_mark1_spark.operators.dedup import ensure_parallelism

    toks = (ensure_parallelism(df)
            .select(F.col(id_col).alias("doc_id"),
                    _doc_tokens(text_col).alias("_tk")))
    return (toks
            .select("doc_id", F.size("_tk").cast("bigint").alias("dl"),
                    F.explode("_tk").alias("token"))
            .groupBy("token", "doc_id", "dl")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
            .select("token", "doc_id", "tf", "dl"))


def _ingest_parts(df: DataFrame, text_col: str,
                  id_col: str) -> dict[str, DataFrame]:
    """The three artifacts of one ingest batch, before the writer adds
    the layout columns. The scored postings are built once and feed
    both postings and dict; the stats row is a per-document token count
    straight off the document frame."""
    scored = build_scored_postings(df, text_col=text_col, id_col=id_col)
    stats = (df.select(F.size(_doc_tokens(text_col)).cast("bigint")
                       .alias("_dl"))
             .filter(F.col("_dl") > 0)
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("_dl").alias("sum_dl")))
    return {"postings": scored, "stats": stats, "dict": _dictionary(scored)}


def _dictionary(postings: DataFrame) -> DataFrame:
    """The dict artifact of a scored-postings frame: per-token
    (df, max_tf, min_dl)."""
    return (postings.groupBy("token")
            .agg(F.count(F.lit(1)).alias("df"), F.max("tf").alias("max_tf"),
                 F.min("dl").alias("min_dl")))


def _write_artifacts(parts: dict[str, DataFrame], base: str, mode: str,
                     num_buckets: int = DEFAULT_BUCKETS,
                     seg: str | None = None) -> None:
    """Persist each artifact of ``parts`` through the shared segment
    writer (operators/segments.py), cast to its declared columns. An
    artifact with a token column gets the md5 ``bucket`` layout
    column, which the writer partitions and rebalances on."""
    laid = {}
    for part, df in parts.items():
        out = df.select(*[F.col(c).cast(t) for c, t in ARTIFACT_COLUMNS[part]])
        if "token" in out.columns:
            out = out.withColumn("bucket",
                                 token_bucket(F.col("token"), num_buckets))
        laid[part] = out
    _write_parts(laid, base, mode, key="bucket", seg=seg)


def write_search_index(df: DataFrame, path: str,
                       text_col: str = "text", id_col: str = "doc_id",
                       num_buckets: int = DEFAULT_BUCKETS) -> None:
    """Persist a BM25-queryable index segment for a batch of NEW
    documents, three algebraic artifacts per ingest batch:

    * ``<path>/postings`` — token-bucket-partitioned scored postings
      (token, doc_id, tf, dl);
    * ``<path>/stats`` — one row (n_docs, sum_dl), so corpus size and
      average document length are SUMS over segments and an append
      never rewrites history (same discipline as merge_dictionaries);
    * ``<path>/dict`` — per-token (df, max_tf, min_dl), bucket-
      partitioned like the postings. df sums, max_tf maxes and min_dl
      mins across segments, so the dictionary stays algebraic too; it
      is the max-impact metadata :func:`bm25_maxscore_search` turns
      into per-term score upper bounds (Turtle & Flood 1995 MaxScore)
      WITHOUT touching a posting list.

    The scored postings are recomputed per artifact rather than cached
    (a MEMORY_AND_DISK persist made the first write 2-4x slower and
    never earned it back); they are map-side, so each recompute is a
    text scan. Batches must be document-disjoint, like any segment
    write; re-ingest belongs to a compaction pass
    (:func:`compact_index`)."""
    _write_artifacts(_ingest_parts(df, text_col, id_col), path, "append",
                     num_buckets)


def _corrected_index_stats(spark, path: str
                           ) -> tuple[int, int, float, int]:
    """(n_docs, sum_dl, avgdl, n_tombstones) for a persisted index,
    with the stats sums corrected for tombstoned documents — tombstones
    carry the deleted doc's dl exactly so both corrections are
    algebraic (no corpus rescan at query time). Raises a clear
    ValueError on an empty (or fully-deleted) index.

    One action fetches the stats rows (one per segment, doc_id NULL)
    and the raw tombstone rows together; the tombstones deduplicate on
    the driver. Both are bounded: by the segment count, and by the
    tombstone set every query already broadcasts."""
    base = path.rstrip("/")
    tomb = _read_tombstones(spark, base, _ddl("deletes"))
    rows = read_artifact(spark, base, "stats").select(
        F.lit(None).cast("bigint").alias("doc_id"), "n_docs",
        F.col("sum_dl").alias("dl"))
    if tomb is not None:
        rows = rows.unionByName(
            tomb.select("doc_id", F.lit(None).cast("bigint").alias("n_docs"),
                        "dl"))
    n_docs = sum_dl = 0
    dead: dict[int, int] = {}
    for r in rows.collect():
        if r["doc_id"] is None:
            n_docs += r["n_docs"]
            sum_dl += r["dl"] or 0  # NULL for a batch of empty texts
        else:
            dead.setdefault(r["doc_id"], r["dl"])
    # guard the degenerate index: every ingested batch held only
    # empty-text documents, so the stats rows sum to 0 (pinned in
    # tests/test_indexing.py)
    if n_docs == 0:
        raise ValueError(
            f"index at {path!r} contains no documents "
            "(all ingested batches were empty or empty-text)")
    n_docs -= len(dead)
    sum_dl -= sum(dead.values())
    if n_docs <= 0:
        raise ValueError(
            f"index at {path!r} has no surviving documents "
            "(every indexed document is tombstoned; compact or rebuild)")
    return n_docs, sum_dl, float(sum_dl) / float(n_docs), len(dead)


def _term_df(postings: DataFrame) -> DataFrame:
    """(token, _df): each term's document frequency counted over
    ``postings`` — the df every BM25 score uses."""
    return postings.groupBy("token").agg(F.count(F.lit(1)).alias("_df"))


def _bm25_idf(n_docs: int, df_col: Column) -> Column:
    """Robertson–Sparck Jones idf, ``ln(1 + (n - df + 0.5) / (df + 0.5))``
    — the one idf expression scoring and term selection (more-like-this,
    PRF) share."""
    return F.log(F.lit(1.0) + (F.lit(n_docs) - df_col + 0.5)
                 / (df_col + 0.5))


def _bm25_norm(avgdl: float, k1: float, b: float) -> Column:
    """BM25's saturating, length-normalized tf over a scored posting's
    ``tf`` and ``dl`` columns."""
    return (F.col("tf") * (k1 + 1)
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl))))


def _scored_bm25_unordered(postings: DataFrame, n_docs: int, avgdl: float,
                           k1: float, b: float,
                           dft: DataFrame | None = None) -> DataFrame:
    """Every (doc_id, bm25) row for the given postings, UNORDERED and
    UNLIMITED — the aggregation half of :func:`_score_postings_bm25`,
    split out so cursor pagination (operators/retrieval.py:
    search_after_persisted) can filter on the score BEFORE any limit.
    Arithmetic identical to the ordered path (same function object)."""
    if dft is None:
        dft = _term_df(postings)
    return (postings.join(F.broadcast(dft), "token")
            .groupBy("doc_id")
            .agg(F.round(F.sum(_bm25_idf(n_docs, F.col("_df"))
                               * _bm25_norm(avgdl, k1, b)), 6)
                 .alias("bm25")))


def _score_postings_bm25(postings: DataFrame, n_docs: int, avgdl: float,
                         k1: float, b: float, top_k: int,
                         dft: DataFrame | None = None) -> DataFrame:
    """The one BM25 scoring aggregation both persisted query paths share
    (exhaustive and MaxScore — byte-identical arithmetic is what makes
    the MaxScore pruning provably score-exact): per-term df derives from
    the scored postings themselves unless the caller supplies ``dft``
    (token, _df) — MaxScore must, because its postings are restricted to
    candidate documents and a df counted over that restriction would be
    a DIFFERENT (wrong) idf. dl rides on the posting row; ordered
    limit."""
    return (_scored_bm25_unordered(postings, n_docs, avgdl, k1, b, dft)
            .orderBy(F.col("bm25").desc(), F.col("doc_id"))
            .limit(top_k))


def bm25_search_persisted(spark, path: str, query_terms: list[str],
                          top_k: int = 10, k1: float = 1.2,
                          b: float = 0.75,
                          num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """BM25 top-``top_k`` against a PERSISTED index
    (:func:`write_search_index`) — the production retrieval shape: the
    corpus is tokenized once at ingest, and a query touches (a) the
    stats segments (segment-count rows, summed driver-side), and (b) the
    query terms' token buckets ONLY — a partition-pruned scan
    (tests/test_indexing.py asserts the pruned plan), never the corpus.
    Per-term document frequencies derive from the pruned postings
    themselves (they hold every (term, doc) pair), so no dictionary
    lookup is needed either; scoring is join-free because dl rides on
    the posting row. Formula and rounding identical to
    ``operators/corpus.py:bm25_topk`` (Robertson–Sparck Jones idf), so
    the two paths are drop-in interchangeable — parity is pinned by the
    ``bm25_persisted_search_docs`` oracle and tests.

    Tombstone-aware (:func:`delete_from_index`): deleted documents are
    anti-joined out of the PRUNED postings (the tombstone set is
    takedown-sized, broadcast), and n/avgdl correct algebraically from
    the tombstones' stored dl — delete-then-query equals
    build-from-surviving-documents score-exactly, with no rescan.
    Query-term df stays exact for free: it is counted from the
    surviving pruned postings."""
    n_docs, _, avgdl, _ = _corrected_index_stats(spark, path)
    postings = read_search_postings(spark, path, query_terms, num_buckets)
    return _score_postings_bm25(postings, n_docs, avgdl, k1, b, top_k)


def read_search_postings(spark, path: str, terms: list[str],
                         num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """The one pruned LIVE-postings reader every persisted query path
    shares: the term set's token buckets only (partition-pruned scan),
    with the index's tombstones (:func:`delete_from_index`) anti-joined
    out. Feed the result to :func:`conjunctive_search`,
    :func:`_score_postings_bm25`, or any postings consumer — deletion
    awareness comes for free."""
    base = path.rstrip("/")
    return _live(spark, base, lookup_terms(
        read_artifact(spark, base, "postings"), terms, num_buckets), "doc_id")


def qlm_search_persisted(spark, path: str, terms: list[str],
                         top_k: int = 10, mu: float = 2000.0,
                         num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Dirichlet query-likelihood ranking (:func:`qlm_topk`, Zhai &
    Lafferty 2001) against the PERSISTED index — completing "tokenize
    once, query many" for the third lexical ranker: everything QLM
    needs is already in the :func:`write_search_index` layout, so no
    extra artifact is persisted. |C| (total collection tokens) is the
    stats segments' summed sum_dl (tombstone-corrected — a deleted
    doc's tokens leave the collection model); per-term collection
    frequency cf is the sum of tf over the term's surviving pruned
    postings; candidate doc lengths ride denormalized on the posting
    row. One bucket-pruned scan plus the qlm_topk aggregation; raises
    like qlm_topk when a term is absent from the (surviving) index."""
    _, sum_dl, _, _ = _corrected_index_stats(spark, path)
    postings = read_search_postings(spark, path, terms, num_buckets)
    dictionary = (postings.groupBy("token")
                  .agg(F.sum("tf").cast("bigint").alias("cf")))
    doclens = (postings.groupBy("doc_id")
               .agg(F.first("dl").cast("bigint").alias("dl")))
    return qlm_topk(postings.select("token", "doc_id", "tf"), dictionary,
                    doclens, terms, top_k=top_k, mu=mu, csize=sum_dl)


def delete_from_index(spark, path: str,
                      doc_ids: DataFrame | list[int]) -> None:
    """Tombstone deletion for the persisted index lifecycle — takedowns
    and decontamination hits must come OUT of an already-built index
    without a rebuild. Appends (doc_id, dl) rows under
    ``<path>/deletes`` (append-only, same segment discipline as the
    stats rows); every query reader anti-joins the broadcast tombstone
    set and corrects n/avgdl from the stored dl, so
    delete-then-query == build-from-surviving-documents score-exactly.

    The deleted docs' dl is captured HERE, by one doc_id-pushed scan of
    the postings (parquet row-group stats skip on the pushed isin for
    list input) — delete-time cost, paid once per takedown batch and
    amortized over every later query, which stays rescan-free. Deleting
    an id absent from the index writes no tombstone (harmless), and a
    double delete dedups at read. Re-ingesting a deleted doc_id is
    UNDEFINED until :func:`compact_index` runs — the tombstone hides
    all postings of that id, old and new (standard segment-index
    semantics).

    The tombstone set is assumed takedown-sized (it broadcasts at query
    time); when deletions grow corpus-scale, run :func:`compact_index`
    — which also resets query cost to the no-tombstone path."""
    postings = read_artifact(spark, path.rstrip("/"), "postings")
    if isinstance(doc_ids, DataFrame):
        matched = postings.join(
            F.broadcast(doc_ids.select("doc_id").distinct()), "doc_id")
    else:
        ids = sorted({int(i) for i in doc_ids})
        if not ids:
            raise ValueError("delete_from_index needs at least one doc_id")
        matched = postings.filter(F.col("doc_id").isin(ids))
    tombstones = matched.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    _write_artifacts({"deletes": tombstones}, path, "append")


def compact_index(spark, path: str, dest: str,
                  num_buckets: int = DEFAULT_BUCKETS) -> None:
    """Compaction: rewrite the index at ``path`` into a single fresh
    segment at ``dest`` with all tombstones APPLIED — surviving
    postings re-bucketed (so ``num_buckets`` can change here), stats
    and dict recomputed from the survivors, and NO deletes directory,
    so queries against the compacted index take the tombstone-free
    fast path (pinned in tests/test_indexing.py: the compacted query
    plan contains no anti-join and never lists the deletes path).

    Never touches document text: compaction is a postings-level
    anti-join + rewrite, the same never-re-tokenize discipline as
    :func:`merge_postings`. ``dest`` must be a fresh directory
    (callers swap paths after — immutable-segment discipline; an
    in-place rewrite would race concurrent readers). The positional
    postings (``<path>/positions``, if present) compact in the same
    pass. The passes re-READ the source parquet (columnar, cheap)
    rather than caching."""
    base = path.rstrip("/")
    postings = _live(spark, base, read_artifact(spark, base, "postings")
                     .select("token", "doc_id", "tf", "dl"), "doc_id")
    parts = {
        "postings": postings,
        "stats": (postings.groupBy("doc_id").agg(F.first("dl").alias("dl"))
                  .agg(F.count(F.lit(1)).alias("n_docs"),
                       F.sum("dl").alias("sum_dl"))),
        "dict": _dictionary(postings),
    }
    if _exists(spark, base + "/positions"):
        parts["positions"] = _live(
            spark, base, read_artifact(spark, base, "positions")
            .select("token", "doc_id", "positions"), "doc_id")
    _write_artifacts(parts, dest, "overwrite", num_buckets)


def bm25_maxscore_search(spark, path: str, query_terms: list[str],
                         top_k: int = 10, k1: float = 1.2, b: float = 0.75,
                         num_buckets: int = DEFAULT_BUCKETS,
                         max_pushdown: int = 1000,
                         diagnostics: dict | None = None) -> DataFrame:
    """BM25 top-``top_k`` with MaxScore early termination (Turtle &
    Flood 1995; the WAND family, Broder et al. CIKM 2003 — both
    public), provably RANK-SAFE: returns exactly
    :func:`bm25_search_persisted`'s rows and scores (pinned by the
    ``bm25_maxscore_search_docs`` oracle and an equality test), while
    reading/aggregating a fraction of the posting rows on skewed
    queries (one rare term + stopwords — the common production shape).

    How the dict metadata becomes pruning:

    1. One bucket-pruned scan of ``<path>/dict`` (query-term rows only)
       gives each term's (df, max_tf, min_dl); with the query-time
       n/avgdl these yield a per-term score UPPER BOUND
       ``ub(t) = idf_ub(t) * max_tf*(k1+1)/(max_tf + k1*(1-b+b*min_dl/avgdl))``
       — valid because the norm is increasing in tf and decreasing in
       dl. Under tombstones the bound stays safe: df is lower-bounded
       by (df - n_tombstones) since every tombstone could have carried
       the term, and idf is decreasing in df; max_tf/min_dl only ever
       over-cover survivors.
    2. Terms sort by ub descending; the ESSENTIAL prefix grows one term
       at a time. For prefix E: candidates = docs matching >= 1 term of
       E; candidates are scored over ALL query terms with the exact
       shared aggregation (:func:`_score_postings_bm25`); θ = the k-th
       candidate's rounded score. If the non-essential tail's summed ub
       < θ - 1e-6 (the 6dp rounding guard), STOP: a doc matching no
       essential term scores at most the tail sum, rounds strictly
       below θ, and cannot displace any returned row even on the id
       tie-break. Otherwise grow E (worst case E = all terms ==
       exhaustive semantics, identical candidate set).
    3. When the candidate set is small (<= ``max_pushdown``) its ids
       become a literal pushed ``doc_id IN (...)`` filter on the
       non-essential postings scan — parquet row-group stats then skip
       posting rows AT THE READER, not just before the aggregation
       (tests assert both the pushed filter and the row reduction);
       above the cap it degrades to a left-semi join (still prunes the
       aggregation, reads the buckets).

    Driver coordination is bounded: <= len(query_terms) probe rounds
    (one candidate count + one top-k collect each, k-sized), and in the
    intended skewed case exactly one. The collected top-k becomes a
    local relation — k rows. Pass a dict as ``diagnostics`` to receive
    {essential_terms, n_candidates, pushed, rounds} — the observable
    record that pruning fired (tests assert on it; operators can log
    it)."""
    n_docs, _, avgdl, n_tomb = _corrected_index_stats(spark, path)
    schema = "doc_id bigint, bm25 double"
    dict_rows = (lookup_terms(read_artifact(spark, path, "dict"),
                              query_terms, num_buckets)
                 .groupBy("token")
                 .agg(F.sum("df").alias("df"),
                      F.max("max_tf").alias("max_tf"),
                      F.min("min_dl").alias("min_dl"))
                 .collect())
    if not dict_rows:
        return spark.createDataFrame([], schema)
    import math

    ubs = []
    for r in dict_rows:
        df_lb = max(1, int(r["df"]) - n_tomb)
        idf_ub = math.log(1.0 + (n_docs - df_lb + 0.5) / (df_lb + 0.5))
        norm_ub = (int(r["max_tf"]) * (k1 + 1)
                   / (int(r["max_tf"])
                      + k1 * (1 - b + b * int(r["min_dl"]) / avgdl)))
        ubs.append((r["token"], idf_ub * norm_ub))
    ubs.sort(key=lambda x: (-x[1], x[0]))
    postings = read_search_postings(spark, path, query_terms, num_buckets)
    if n_tomb:
        # deletions invalidate the dict's df (survivors' df is smaller),
        # so exact-idf scoring recounts df over the surviving pruned
        # postings — one extra aggregation; the candidate restriction
        # still prunes the scoring join. Without tombstones, the dict's
        # algebraic df IS the exact df (segments are document-disjoint)
        # and the non-essential buckets are never aggregated at all.
        dft = _term_df(postings)
    else:
        dft = spark.createDataFrame(
            [(r["token"], int(r["df"])) for r in dict_rows],
            "token string, _df bigint")
    for j in range(1, len(ubs) + 1):
        essential = [t for t, _ in ubs[:j]]
        tail_ub = sum(u for _, u in ubs[j:])
        cand = (postings.filter(F.col("token").isin(essential))
                .select("doc_id").distinct())
        # one bounded probe: max_pushdown + 1 rows decide small-vs-large
        head = cand.limit(max_pushdown + 1).collect()
        if not head:
            if j < len(ubs):
                continue
            return spark.createDataFrame([], schema)
        pushed = len(head) <= max_pushdown
        if pushed:
            ids = sorted(r["doc_id"] for r in head)
            scored_postings = postings.filter(F.col("doc_id").isin(ids))
        else:
            scored_postings = postings.join(cand, "doc_id", "left_semi")
        rows = _score_postings_bm25(scored_postings, n_docs, avgdl,
                                    k1, b, top_k, dft=dft).collect()
        theta = rows[top_k - 1]["bm25"] if len(rows) >= top_k else None
        if j == len(ubs) or (theta is not None
                             and tail_ub < theta - 1e-6):
            if diagnostics is not None:
                diagnostics.update(
                    essential_terms=essential, rounds=j,
                    n_candidates=len(head) if pushed else None,
                    pushed=pushed)
            return spark.createDataFrame(
                [(int(r["doc_id"]), float(r["bm25"])) for r in rows],
                schema)
    raise AssertionError("unreachable: loop returns at j == len(ubs)")


def write_position_index(df: DataFrame, path: str,
                         text_col: str = "text", id_col: str = "doc_id",
                         num_buckets: int = DEFAULT_BUCKETS) -> None:
    """Persist POSITIONAL postings for phrase/proximity queries against
    an already-ingested corpus — without this, a persisted index can
    answer term and BM25 queries pruned, but a phrase query would
    re-tokenize the corpus (exactly the cost :func:`write_search_index`
    eliminated for term queries). One row per (token, doc) carrying the
    doc's sorted occurrence positions as an array — per-row size is
    bounded by that doc's tf (the stopword-sharding argument of
    :func:`build_postings` holds: a stopword's corpus-wide positions
    still shard across docs), written under ``<path>/positions`` with
    the same token-bucket partitioning, so a phrase query prunes to its
    terms' buckets. Append per ingest batch, document-disjoint, same
    segment discipline as the tf postings; shares ``<path>/deletes``
    tombstones with the rest of the index.

    The (token, doc_id, positions) rows are computed MAP-SIDE — each
    document sorts its own (token, position) structs and
    run-length-slices them into per-token position arrays; the only
    exchange is the rebalance that sizes the output files."""
    from etl_mark1_spark.functions.text import normalized_text

    tp = F.filter(
        F.transform(F.split(normalized_text(F.col(text_col)), " "),
                    lambda x, i: F.struct(
                        x.alias("t"),
                        (i + F.lit(1)).cast("bigint").alias("p"))),
        lambda s: s["t"] != "")
    from etl_mark1_spark.operators.dedup import ensure_parallelism

    base = (ensure_parallelism(df)
            .select(F.col(id_col).alias("doc_id"),
                    F.array_sort(tp).alias("_tp"))
            .withColumn("_tk", F.transform(F.col("_tp"),
                                           lambda s: s["t"])))
    with_starts = base.select(
        "doc_id", "_tp", _run_starts(F.col("_tk")).alias("_st"))
    tpc, st = F.col("_tp"), F.col("_st")
    entries = F.transform(
        st,
        lambda s, k: F.struct(
            F.element_at(tpc, s)["t"].alias("token"),
            F.transform(
                F.slice(tpc, s,
                        (F.coalesce(F.try_element_at(
                            st, (k + F.lit(2)).cast("int")),
                            F.size(tpc) + F.lit(1)) - s).cast("int")),
                lambda e: e["p"]).alias("positions")))
    rolled = (with_starts
              .select("doc_id", F.explode(entries).alias("_e"))
              .select(F.col("_e.token").alias("token"), "doc_id",
                      F.col("_e.positions").alias("positions")))
    _write_artifacts({"positions": rolled}, path, "append", num_buckets)


def read_position_postings(spark, path: str, terms: list[str],
                           num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Pruned positional postings rows (token, doc_id, pos) for a term
    set from a persisted index (:func:`write_position_index`):
    bucket-pruned scan, tombstone anti-join, then the position arrays
    explode back to exactly the rows :func:`build_positional_postings`
    would emit for those terms — so :func:`phrase_search` and
    :func:`best_window` run UNCHANGED against the persisted form
    (parity pinned in tests/test_indexing.py)."""
    base = path.rstrip("/")
    rolled = _live(spark, base, lookup_terms(
        read_artifact(spark, base, "positions"), terms, num_buckets),
        "doc_id")
    return rolled.select("token", "doc_id",
                         F.explode("positions").alias("pos"))


def phrase_search_persisted(spark, path: str, phrase: list[str],
                            num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """EXACT phrase query through the persisted positional index: the
    scan prunes to the phrase terms' token buckets, tombstones apply,
    and the anchor construction of :func:`phrase_search` runs on the
    exploded rows — the corpus is never re-tokenized. Returns
    (doc_id, n_matches), identical to the in-memory path."""
    return phrase_search(
        read_position_postings(spark, path, phrase, num_buckets), phrase)


def best_window_persisted(spark, path: str, terms: list[str],
                          width: int = 20,
                          num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Proximity snippet window (:func:`best_window`) through the
    persisted positional index — pruned scan, tombstones applied, no
    re-tokenization. Returns (doc_id, snippet_start, n_hits)."""
    return best_window(
        read_position_postings(spark, path, terms, num_buckets),
        terms, width=width)


def write_search_index_segment(df: DataFrame, path: str, seg: str,
                               text_col: str = "text",
                               id_col: str = "doc_id",
                               num_buckets: int = DEFAULT_BUCKETS) -> None:
    """IDEMPOTENT segment write for streaming ingest
    (streaming/events.py:index_ingest_sink): same three artifacts as
    :func:`write_search_index`, but every artifact carries ``seg`` as
    an extra partition column and writes with DYNAMIC partition
    overwrite — re-running the same (batch, seg) replaces exactly its
    own partitions instead of double-appending, which is what makes a
    foreachBatch epoch replay (crash between data write and checkpoint
    advance) heal instead of duplicating postings (pinned in
    tests/test_indexing.py: writing a segment twice == once).

    The ``seg`` partition column rides along harmlessly at query time
    (readers filter on bucket/token and aggregate over rows). Do not
    mix this layout with :func:`write_search_index` appends under one
    path — partition discovery needs consistent partition columns."""
    _write_artifacts(_ingest_parts(df, text_col, id_col), path,
                     "overwrite", num_buckets, seg=seg)


def conjunctive_search(postings: DataFrame, terms: list[str],
                       top_k: int | None = None) -> DataFrame:
    """AND-semantics term search over postings: documents containing ALL
    ``terms``, ranked by summed tf. The term list is a literal isin
    filter (pushed into the postings scan); a doc qualifies when its
    surviving posting count equals ``len(terms)`` — one filtered
    aggregation, never a per-term self-join chain. Returns
    (doc_id, score) with score = total tf of the query terms."""
    if not terms:
        raise ValueError("conjunctive_search needs at least one term")
    hits = (postings.filter(F.col("token").isin([t.lower() for t in terms]))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("_nterms"),
                 F.sum("tf").cast("bigint").alias("score"))
            .filter(F.col("_nterms") == len(set(t.lower() for t in terms)))
            .select("doc_id", "score"))
    if top_k is not None:
        hits = hits.orderBy(F.desc("score"), "doc_id").limit(top_k)
    return hits


def build_positional_postings(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id") -> DataFrame:
    """Positional postings: one (token, doc_id, pos) row per occurrence,
    1-based token position — the index granularity phrase and proximity
    queries need (tf postings can only answer bag-of-words). Rows, not
    per-doc position arrays, for the same stopword-sharding reason as
    :func:`build_postings`; one posexplode, no aggregation (the position
    IS the payload)."""
    from etl_mark1_spark.functions.text import normalized_text
    from etl_mark1_spark.operators.dedup import ensure_parallelism

    return (ensure_parallelism(df)
            .select(F.col(id_col).alias("doc_id"),
                    F.posexplode(F.split(normalized_text(F.col(text_col)),
                                         " ")).alias("_p0", "token"))
            .filter(F.col("token") != "")
            .select("token", "doc_id",
                    (F.col("_p0") + 1).cast("bigint").alias("pos")))


def phrase_search(postings: DataFrame, phrase: list[str]) -> DataFrame:
    """EXACT phrase occurrences from positional postings: documents
    where ``phrase``'s tokens appear at consecutive positions, with the
    occurrence count. The classic anchor trick, no per-term self-join
    chain: each surviving posting fans out to the phrase slots its token
    could fill (a bounded literal-array filter — repeated tokens in the
    phrase are handled, "the cat the" fans "the" to slots 0 and 2), is
    rebased to ``anchor = pos - slot``, and an anchor where ALL slots
    check in is a match. One pushed isin scan filter + one (doc, anchor)
    aggregation + one per-doc rollup; cost scales with the query terms'
    posting sizes, never the corpus. Returns (doc_id, n_matches)."""
    if not phrase:
        raise ValueError("phrase_search needs at least one term")
    terms = [t.lower() for t in phrase]
    arr = F.array(*[F.lit(t) for t in terms])
    slots = F.filter(
        F.sequence(F.lit(0), F.lit(len(terms) - 1)),
        lambda i: F.try_element_at(arr, (i + 1).cast("int"))
        == F.col("token"))
    anchored = (postings.filter(F.col("token").isin(sorted(set(terms))))
                .select("doc_id", "pos", F.explode(slots).alias("_slot"))
                .select("doc_id",
                        (F.col("pos") - F.col("_slot")).alias("_anchor"),
                        "_slot"))
    full = (anchored.groupBy("doc_id", "_anchor")
            .agg(F.count_distinct("_slot").alias("_n"))
            .filter((F.col("_n") == len(terms)) & (F.col("_anchor") >= 1)))
    return (full.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_matches")))


def segment_report(postings: DataFrame,
                   num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Operational per-bucket report of a postings segment: distinct
    tokens, posting rows, total occurrences, and the heaviest token's
    document frequency per md5 bucket — the skew check an operator
    reads BEFORE sizing ``num_buckets`` for :func:`write_postings_index`
    (a bucket is one scan task at query time; max_df shows whether one
    stopword dominates its bucket). Two partial-aggregating exchanges,
    output is num_buckets rows. Returns
    (bucket, n_tokens, n_postings, total_tf, max_df)."""
    per_token = (postings
                 .groupBy("token")
                 .agg(F.count(F.lit(1)).cast("bigint").alias("_df"),
                      F.sum("tf").cast("bigint").alias("_cf")))
    return (per_token
            .withColumn("bucket", token_bucket(F.col("token"), num_buckets))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                 F.sum("_df").cast("bigint").alias("n_postings"),
                 F.sum("_cf").cast("bigint").alias("total_tf"),
                 F.max("_df").cast("bigint").alias("max_df")))


def qlm_topk(postings: DataFrame, dictionary: DataFrame,
             doclens: DataFrame, terms: list[str], top_k: int = 10,
             mu: float = 2000.0, csize: int | None = None) -> DataFrame:
    """Query-likelihood ranking with Dirichlet smoothing (Zhai &
    Lafferty, SIGIR 2001 — the third classic lexical ranker next to
    BM25 and tf-idf): score(d) = sum over query terms of
    ``ln((tf + mu * cf_t / |C|) / (dl_d + mu))``. Smoothing makes a
    document missing a term pay the collection prior instead of -inf,
    so scores are comparable across documents of any length.

    Inputs are the index-lifecycle frames — postings (token, doc_id,
    tf), dictionary (token, df, cf), doc lengths (doc_id, dl) — so this
    runs against the same persisted artifacts as the other rankers.
    Plan shape: the query terms prune the postings scan (pushed isin);
    the dictionary contributes |terms| broadcast rows and one |C|
    scalar; candidate documents are those matching >= 1 term, each
    scored by its matched terms' smoothed likelihoods PLUS the
    missing-term prior (algebraic: the full score is the all-terms
    prior sum, correctable per matched term — no per-missing-term
    work). Ordered limit, never a global sort. Returns
    (doc_id, ql_score) descending, 6dp, id tie-break.

    ``csize`` (total collection token count |C|) defaults to the sum of
    the dictionary's cf — correct when ``dictionary`` covers the whole
    vocabulary. Callers holding only a QUERY-PRUNED dictionary (the
    persisted path: :func:`qlm_search_persisted`) MUST pass the true
    |C| explicitly, or the priors would normalize by the query terms'
    mass instead of the collection's."""
    if not terms:
        raise ValueError("qlm_topk needs at least one term")
    lowered = sorted({t.lower() for t in terms})
    if csize is None:
        csize = dictionary.agg(F.sum("cf").alias("_c")).head()["_c"]
    qdict = (dictionary.filter(F.col("token").isin(lowered))
             .select("token", (F.col("cf") / F.lit(float(csize)))
                     .alias("_prior")))
    hits = (postings.filter(F.col("token").isin(lowered))
            .join(F.broadcast(qdict), "token")
            .join(doclens, "doc_id"))
    # matched-term contribution relative to the prior-only baseline:
    # ln(tf + mu*prior) - ln(mu*prior); the baseline sum(ln(mu*prior))
    # - |q| * ln(dl + mu) is added once per candidate document.
    rel = (F.log(F.col("tf") + F.lit(mu) * F.col("_prior"))
           - F.log(F.lit(mu) * F.col("_prior")))
    prior_rows = qdict.collect()
    if len(prior_rows) < len(lowered):
        missing = set(lowered) - {r["token"] for r in prior_rows}
        raise ValueError(
            f"terms absent from the dictionary (cf undefined): "
            f"{sorted(missing)}")
    import math

    prior_sum = sum(math.log(mu * (r["_prior"])) for r in prior_rows)
    return (hits.groupBy("doc_id")
            .agg(F.sum(rel).alias("_rel"), F.first("dl").alias("_dl"))
            .select("doc_id",
                    F.round(F.col("_rel") + F.lit(prior_sum)
                            - F.lit(float(len(lowered)))
                            * F.log(F.col("_dl") + F.lit(mu)),
                            6).alias("ql_score"))
            .orderBy(F.col("ql_score").desc(), F.col("doc_id"))
            .limit(top_k))


def best_window(postings: DataFrame, terms: list[str],
                width: int = 20) -> DataFrame:
    """Proximity snippet scoring over positional postings: for every
    document containing at least one query term, the ``width``-token
    window with the most query-term OCCURRENCES — the window a result
    page's snippet/highlight shows, and the cheap proximity signal a
    bag-of-words score lacks ("hash join vector" adjacent should beat
    the same terms spread over 5k tokens).

    One pushed isin filter on the postings (work scales with the query
    terms' posting sizes, never the corpus), then a per-document RANGE
    window counting hits in [pos, pos + width - 1] — the candidate
    windows are exactly those STARTING at a hit, which provably contain
    the optimum — and one per-doc max with earliest-position tie-break
    (deterministic). Returns (doc_id, snippet_start, n_hits)."""
    if not terms:
        raise ValueError("best_window needs at least one term")
    if width < 1:
        raise ValueError("width must be >= 1")
    from pyspark.sql.window import Window

    hits = postings.filter(
        F.col("token").isin([t.lower() for t in terms]))
    frame = (Window.partitionBy("doc_id").orderBy("pos")
             .rangeBetween(0, width - 1))
    scored = hits.select(
        "doc_id", "pos",
        F.count(F.lit(1)).over(frame).cast("bigint").alias("_n"))
    # max n_hits, earliest start on ties: one struct-max aggregation
    best = (scored.groupBy("doc_id")
            .agg(F.max(F.struct(F.col("_n"),
                                (-F.col("pos")).alias("_negpos")))
                 .alias("_b")))
    return best.select(
        "doc_id",
        (-F.col("_b._negpos")).cast("bigint").alias("snippet_start"),
        F.col("_b._n").alias("n_hits"))


# --------------------------------------------------------------------------
# Longest duplicated word span — doubling search over word n-grams
# --------------------------------------------------------------------------

def _dup_lengths(tokens: DataFrame, lengths: list[int],
                 id_col: str) -> set[int]:
    """Which of ``lengths`` have a word span shared by >= 2 distinct
    documents — ALL evaluated in ONE probe (round-13-opt, guide §1.2/
    §2.6 "don't pay per-action overhead k times"): each document
    explodes its candidate (length, position) pairs and every span
    travels as an md5 hash tagged with its length; one aggregation
    answers every length at once. The serial-probe formulation paid a
    full scan + shuffle + driver round-trip PER length (~0.3-0.4 s each
    at sf0.1); the batched probe's shuffle carries the union of the
    per-length rows — the same bytes the serial probes shipped in
    total — for a single job's overhead. The collect is at most
    ``len(lengths)`` rows."""
    lens_arr = F.array(*[F.lit(int(length)) for length in sorted(set(lengths))])
    lens = tokens.select(
        F.col(id_col),
        F.explode(F.filter(lens_arr, lambda le: F.col("_n") >= le))
        .alias("_L"),
        F.col("_tk"))
    grams = (word_ngram_rows(lens, F.col("_tk"), "_L", (id_col, "_L"))
             .select(id_col, "_L", F.md5("gram").alias("gram")))
    rows = (grams.groupBy("_L", "gram")
            .agg(F.count_distinct(id_col).alias("_nd"))
            .filter(F.col("_nd") >= 2)
            .select("_L").distinct().collect())
    return {r["_L"] for r in rows}


def _tokenize(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    from etl_mark1_spark.functions.grams import tokens

    tk = tokens(text_col)
    return df.select(F.col(id_col), tk.alias("_tk"),
                     F.size(tk).alias("_n"))


def longest_dup_span(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     max_len: int = 4096) -> DataFrame:
    """The LONGEST word span duplicated across >= 2 documents — exact
    substring-granularity dedup reconnaissance (the suffix-array pass of
    RefinedWeb/Lee et al. "Deduplicating Training Data Makes Language
    Models Better", arXiv:2107.06499, restated over word boundaries):
    gram dedup answers "is an n-gram shared", this answers "how LONG is
    the longest shared run", which decides whether span-stripping is
    even worth scheduling.

    A distributed suffix array is the wrong tool on Spark; the same
    answer comes from DOUBLING + BINARY SEARCH on "exists a duplicated
    span of length L" — monotone in L, each probe one hash-gram
    aggregation with a limit(1) short-circuit. O(log max_len) probes,
    each linear in corpus words; no probe materializes span text (grams
    travel md5-hashed), only the FINAL projection at the answer length
    rebuilds real strings. The tokenized corpus is localCheckpoint'd
    ONCE and shared by all probes (re-running normalize+split per probe
    measured ~2x the whole operator at sf0.1); the checkpoint is
    token-array sized — CALLER-OWNED STORAGE, same convention as
    dedup's ``_cluster_min_label``: consume the result, then
    ``release_checkpoint(result, deep=True)`` (or close the session).
    Returns every span of the maximal length (capped at ``max_len`` —
    a run longer than the cap reports as a max_len-word span):
    (span, n_words, n_docs, min_doc); empty frame if nothing repeats.
    """
    from etl_mark1_spark.operators.dedup import ensure_parallelism

    tokens = ensure_parallelism(
        _tokenize(df, text_col, id_col)).localCheckpoint()
    # Round-13-opt probe schedule (same answer, ~4x fewer driver round
    # trips): the predicate "a duplicated span of length L exists" is
    # MONOTONE in L, so (a) ONE batched probe over every power of two
    # up to ``max_len`` replaces the serial doubling walk — the largest
    # duplicated power is the doubling loop's landing point — and (b)
    # the binary search narrows with THREE midpoints per batched probe
    # (quartering the gap per round, log4 rounds instead of log2).
    # ``max_len`` stays a HARD cap: lengths above it are never probed,
    # so neither the probes nor the answer exceed it (round-12 ADVICE
    # fix, pinned in tests/test_indexing.py). Probing lengths the
    # serial walk would not have reached is free-ish: a document
    # contributes rows for a length only while ``_n >= L``, so
    # oversized lengths generate zero rows.
    powers = [1]
    while powers[-1] * 2 <= max_len:
        powers.append(powers[-1] * 2)
    dup = _dup_lengths(tokens, powers, id_col)
    if 1 not in dup:
        from etl_mark1_spark.operators.dedup import release_checkpoint

        release_checkpoint(tokens)
        schema = "span string, n_words bigint, n_docs bigint, min_doc bigint"
        return df.sparkSession.createDataFrame([], schema)
    lo = max(p for p in powers if p in dup)
    hi = min(lo * 2, max_len + 1)
    # invariant: dup exists at lo, none at hi; batched binary search
    while hi - lo > 1:
        gap = hi - lo
        mids = sorted({lo + gap * j // 4 for j in (1, 2, 3)} - {lo, hi})
        found = _dup_lengths(tokens, mids, id_col)
        lo = max([m for m in mids if m in found], default=lo)
        hi = min([m for m in mids if m not in found], default=hi)
    spans = word_ngram_rows(tokens, F.col("_tk"), lo, (id_col,))
    return (spans.groupBy("gram")
            .agg(F.count_distinct(id_col).alias("n_docs"),
                 F.min(id_col).cast("bigint").alias("min_doc"))
            .filter(F.col("n_docs") >= 2)
            .select(F.col("gram").alias("span"),
                    F.lit(lo).cast("bigint").alias("n_words"),
                    F.col("n_docs").cast("bigint"),
                    "min_doc"))
