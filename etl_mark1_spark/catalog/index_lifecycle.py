"""Catalog entries for the retrieval-index lifecycle
(operators/indexing.py, operators/similarity.py IVF persistence): build,
segment-merge, persist + incrementally refresh, and query indexes — the
half of a search stack the reference (whose surface stops at SQL LIKE,
backend/services/duckdb_engine.py) never had, and the part a 100 TB
corpus cannot re-derive from scratch per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mark1_spark.catalog._registry import query, t

#: shared DuckDB fragment: tf postings over the normalized token stream.
_POSTINGS_SQL = r"""
    WITH d AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                          ' ') AS tk
      FROM documents),
    tok AS (SELECT doc_id, unnest(tk) AS token FROM d),
    p AS (SELECT token, doc_id, count(*) AS tf
          FROM tok WHERE token <> '' GROUP BY token, doc_id)
"""


@query("index_build_tf_docs", _POSTINGS_SQL + """
    SELECT token, CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS cf
    FROM p GROUP BY token HAVING count(*) >= 25
""")
def index_build_tf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-frequency index build (operators/indexing.py:build_postings
    + postings_dictionary): per-token document frequency and collection
    frequency for tokens in >= 25 docs. Postings are rows, both stats
    are algebraic sums, so a stopword collapses map-side before either
    shuffle — the build is two partial-aggregating exchanges, nothing
    corpus-quadratic."""
    from etl_mark1_spark.operators.indexing import (build_postings,
                                                    postings_dictionary)

    return (postings_dictionary(
        build_postings(t(spark, sf_dir, "documents")))
        .filter(F.col("df") >= 25))


@query("index_merge_parity_docs", _POSTINGS_SQL + """
    SELECT token, CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS cf,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM p GROUP BY token HAVING count(*) >= 25
""")
def index_merge_parity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment merge is LOSSLESS: three shard indexes (doc_id % 3) built
    independently, merged with operators/indexing.py:merge_postings, and
    rolled up — the oracle computes the same dictionary DIRECTLY from
    the corpus, so a green row is external confirmation of
    merge(build(A), build(B), build(C)) == build(A ∪ B ∪ C). This is
    the identity per-batch index builds (and compaction) stand on; the
    merge itself is a union + re-aggregation that never touches document
    text."""
    from etl_mark1_spark.operators.indexing import (build_postings,
                                                    merge_postings)

    docs = t(spark, sf_dir, "documents")
    shards = [build_postings(docs.filter(F.col("doc_id") % 3 == k))
              for k in range(3)]
    merged = merge_postings(*shards)
    return (merged.groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("df"),
                 F.sum("tf").cast("bigint").alias("cf"),
                 F.min("doc_id").cast("bigint").alias("min_doc"),
                 F.max("doc_id").cast("bigint").alias("max_doc"))
            .filter(F.col("df") >= 25))


@query("index_incremental_docs", _POSTINGS_SQL + """
    SELECT token, CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS cf
    FROM p GROUP BY token HAVING count(*) >= 25
""")
def index_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index refresh at O(delta): the base corpus
    (doc_id % 5 != 0) is indexed once and PERSISTED partitioned by token
    bucket (operators/indexing.py:write_postings_index); when the delta
    batch (doc_id % 5 = 0) lands, only ITS postings are built and the
    dictionaries merge algebraically — the base documents are never
    re-tokenized (the base side of the final rollup reads the parquet
    index, not the corpus). The oracle computes the dictionary directly
    over the full corpus, so green confirms the persisted round-trip +
    delta merge reproduces the from-scratch build exactly."""
    import tempfile

    from etl_mark1_spark.operators.indexing import (build_postings,
                                                    merge_dictionaries,
                                                    postings_dictionary,
                                                    read_postings_index,
                                                    write_postings_index)

    docs = t(spark, sf_dir, "documents")
    # mkdtemp, NOT a path keyed on sf_dir: two concurrent runs over the
    # same fixture raced rmtree against mode('append'), duplicating or
    # dropping postings (round-12 ADVICE fix). The dir is fixture-sized
    # and lives under the OS tempdir; the returned DataFrame reads it
    # lazily, so cleanup belongs to tempdir policy, not this entry.
    tdir = tempfile.mkdtemp(prefix="etl_mark1_pindex_")
    write_postings_index(
        build_postings(docs.filter(F.col("doc_id") % 5 != 0)), tdir)
    base = read_postings_index(spark, tdir).select("token", "doc_id", "tf")
    delta = build_postings(docs.filter(F.col("doc_id") % 5 == 0))
    return (merge_dictionaries(postings_dictionary(base),
                               postings_dictionary(delta))
            .filter(F.col("df") >= 25))


@query("search_conjunctive_docs", _POSTINGS_SQL + """
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score
    FROM p WHERE token IN ('vector', 'stream', 'hash')
    GROUP BY doc_id HAVING count(*) = 3
""")
def search_conjunctive_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND-semantics term lookup (operators/indexing.py:
    conjunctive_search): documents containing ALL of three query terms,
    scored by summed tf. The term list is a pushed isin filter on the
    postings — the plan is one pruned scan + one aggregation, never a
    per-term self-join chain; against a PERSISTED index the isin also
    prunes token-bucket partitions."""
    from etl_mark1_spark.operators.indexing import (build_postings,
                                                    conjunctive_search)

    return conjunctive_search(
        build_postings(t(spark, sf_dir, "documents")),
        ["vector", "stream", "hash"])


@query("longest_dup_span_docs", r"""
    WITH d AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                          ' ') AS tk
      FROM documents),
    pos AS (SELECT doc_id, tk, len(tk) AS n,
                   unnest(range(1, len(tk) + 1)) AS i
            FROM d),
    sp AS (SELECT doc_id, array_to_string(tk[i:i+l.len-1], ' ') AS span,
                  l.len AS len
           FROM pos, LATERAL (SELECT unnest(range(1, n - i + 2)) AS len) l),
    dup AS (SELECT span, len, count(DISTINCT doc_id) AS n_docs,
                   min(doc_id) AS min_doc
            FROM sp GROUP BY span, len
            HAVING count(DISTINCT doc_id) >= 2),
    mx AS (SELECT max(len) AS mlen FROM dup)
    SELECT span, CAST(len AS BIGINT) AS n_words,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(min_doc AS BIGINT) AS min_doc
    FROM dup, mx WHERE len = mlen
""")
def longest_dup_span_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LONGEST word span shared by >= 2 documents
    (operators/indexing.py:longest_dup_span) — exact-substring dedup
    reconnaissance (the suffix-array question of Lee et al. 2021,
    arXiv:2107.06499, restated over word boundaries): gram-based span
    dedup answers "is this n-gram shared", this answers "how long does
    the longest shared run actually get", which decides whether a
    span-strip pass is worth scheduling at all. Spark finds the answer
    by DOUBLING + BINARY SEARCH on span length — O(log max_len) probes,
    each one hash-gram aggregation with a limit(1) short-circuit, no
    probe materializing span text. The oracle brute-forces EVERY
    (position, length) span — quadratic, fine at fixture scale,
    impossible at corpus scale, which is exactly the point of the
    doubling construction."""
    from etl_mark1_spark.operators.indexing import longest_dup_span

    return longest_dup_span(t(spark, sf_dir, "documents"))


@query("ivf_incremental_topk", """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id = 1)
    SELECT vec_id,
           round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 6)
             AS similarity
    FROM embeddings, q
    WHERE vec_id <> 1
    ORDER BY similarity DESC, vec_id
    LIMIT 10
""")
def ivf_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index PERSIST + INCREMENTAL ADD round-trip
    (operators/similarity.py:ivf_index_write/ivf_index_append): the base
    embeddings (vec_id % 5 != 0) are clustered, written partitioned by
    centroid, then the delta batch (vec_id % 5 = 0) is assigned to the
    EXISTING centroids map-side and appended — history untouched, no
    refit. The probe then reads the reopened index. Probing ALL
    centroids makes the result the exact cosine top-10, so the oracle
    is brute force over base ∪ delta and a green row externally
    confirms the persistence + append pipeline loses no vector and
    assigns deterministically; the nprobe < k recall path is pinned by
    tests/test_indexing.py and the ann_ivf_topk golden."""
    import tempfile

    from etl_mark1_spark.operators.similarity import (ivf_build,
                                                      ivf_index_append,
                                                      ivf_index_read,
                                                      ivf_index_write,
                                                      ivf_topk)

    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 1)
    qv = [float(x) for x in
          t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 1)
          .select("embedding").head()["embedding"]]
    # per-run mkdtemp — same concurrency rationale as
    # index_incremental_docs above (round-12 ADVICE fix)
    tdir = tempfile.mkdtemp(prefix="etl_mark1_ivf_")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    assigned, cents = ivf_build(base, num_centroids=8, seed=42)
    ivf_index_write(assigned.select("vec_id", "embedding", "_centroid"),
                    cents, tdir)
    ivf_index_append(spark, tdir, delta.select("vec_id", "embedding"))
    reopened, cents2 = ivf_index_read(spark, tdir)
    return ivf_topk(reopened, cents2, qv, k=10, nprobe=len(cents2))


@query("phrase_search_docs", r"""
    WITH d AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                          ' ') AS tk
      FROM documents),
    p AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
          FROM d WHERE len(tk) >= 2)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches
    FROM p WHERE tk[i] = 'table' AND tk[i + 1] = 'hash'
    GROUP BY doc_id
""")
def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT phrase query over positional postings
    (operators/indexing.py:build_positional_postings + phrase_search):
    per-document occurrence counts of the phrase "table hash" — the
    query granularity tf postings cannot answer (bag-of-words matches
    "hash ... table" too). The anchor construction costs one pushed
    isin scan filter + one (doc, anchor) aggregation — work scales with
    the query terms' posting sizes, never the corpus; repeated-token
    phrases are covered by the slot fan-out (pinned in
    tests/test_indexing.py). The oracle scans token arrays positionally
    — the from-first-principles restatement."""
    from etl_mark1_spark.operators.indexing import (
        build_positional_postings, phrase_search)

    return phrase_search(
        build_positional_postings(t(spark, sf_dir, "documents")),
        ["table", "hash"])


@query("bm25_persisted_search_docs", r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS tok
        FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    q AS (SELECT * FROM toks WHERE tok IN ('hash', 'join', 'vector')),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM q GROUP BY 1, 2),
    dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY 1)
    SELECT doc_id,
           round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                     * tf * 2.2
                     / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
                 6) AS bm25
    FROM tf JOIN dl USING (doc_id) JOIN dft USING (tok), stats
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
""")
def bm25_persisted_search_docs(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """BM25 top-10 through the PERSISTED index lifecycle
    (operators/indexing.py:write_search_index + bm25_search_persisted)
    — the production retrieval shape the from-corpus ``bm25_search_docs``
    entry can't exercise: the corpus is tokenized ONCE at ingest (here as
    two document-disjoint segments, base doc_id % 5 != 0 then the delta
    batch appended, proving stats and postings merge algebraically), and
    the query reads only the three query terms' token buckets (partition-
    pruned scan; plan pinned in tests/test_indexing.py) plus the
    segment-count stats rows. dl rides denormalized on each posting row
    (the Lucene-norms idea), so scoring is join-free on the corpus side.
    The oracle recomputes BM25 from first principles over the raw text —
    a green row externally confirms persist + append + pruned query ==
    from-scratch retrieval, score-exact."""
    import tempfile

    from etl_mark1_spark.operators.indexing import (bm25_search_persisted,
                                                    write_search_index)

    docs = t(spark, sf_dir, "documents")
    tdir = tempfile.mkdtemp(prefix="etl_mark1_bm25idx_")
    write_search_index(docs.filter(F.col("doc_id") % 5 != 0), tdir)
    write_search_index(docs.filter(F.col("doc_id") % 5 == 0), tdir)
    return bm25_search_persisted(spark, tdir,
                                 ["hash", "join", "vector"], top_k=10)


@query("l_diversity_customers", """
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS group_size,
           CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
                AS BIGINT) AS n_sensitive
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    HAVING count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) < 8
""")
def l_diversity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity release audit (plans/quality.py:l_diversity_audit —
    Machanavajjhala et al.'s refinement of the k-anonymity entry): a
    (nation, market segment) group can be k-anonymous yet leak if its
    sensitive attribute (balance bucket) is near-constant; this flags
    groups with fewer than l=8 distinct buckets. One hash aggregate
    shuffling only quasi + sensitive columns, map-side partials,
    failing-output small by construction — the companion row the
    release_audit datacard cites next to the under-k report."""
    from etl_mark1_spark.plans.quality import l_diversity_audit

    cust = t(spark, sf_dir, "customer").withColumn(
        "bal_bucket",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint"))
    return l_diversity_audit(
        cust.select("c_nationkey", "c_mktsegment", "bal_bucket"),
        ["c_nationkey", "c_mktsegment"], "bal_bucket", l=8)


#: scratch dirs of prior index_ingest_docs runs (cleaned at next call so
#: repeated bench runs don't grow /tmp; never reused as input)
_INGEST_SCRATCH: list = []


@query("index_ingest_docs", r"""
    WITH d AS (
      SELECT len(list_filter(
                 string_split(lower(trim(regexp_replace(text, '\s+', ' ',
                                                        'g'))), ' '),
                 x -> x <> '')) AS dl
      FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(dl) AS BIGINT) AS sum_dl
    FROM d WHERE dl > 0
""")
def index_ingest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INGEST-ONLY measurement entry (round-14, measurement-isolation):
    one full write_search_index segment — postings + stats + dict, the
    exact three-artifact ingest every persisted-index entry pays before
    it can query — into a FRESH temp dir each run, returning the stats
    segment read back from the files just written. Separating ingest
    from query cost makes the persisted family's bench numbers
    comparable: the read-only query-language entries share one ingest
    per process (see catalog/query_side.py) while the mutation entries
    re-ingest per run; this entry is the common denominator. The dir is
    never reused across runs (the previous run's dir is deleted at the
    next call), so every timed run recomputes the ingest from the
    parquet corpus. Oracle recomputes n_docs/sum_dl from raw text, so
    green confirms the written stats match a from-scratch count."""
    import shutil
    import tempfile

    from etl_mark1_spark.operators.indexing import (read_artifact,
                                                    write_search_index)

    while _INGEST_SCRATCH:
        shutil.rmtree(_INGEST_SCRATCH.pop(), ignore_errors=True)
    path = tempfile.mkdtemp(prefix="etl_mark1_ingest_")
    _INGEST_SCRATCH.append(path)
    write_search_index(t(spark, sf_dir, "documents"), path)
    return (read_artifact(spark, path, "stats")
            .agg(F.sum("n_docs").cast("bigint").alias("n_docs"),
                 F.sum("sum_dl").cast("bigint").alias("sum_dl")))
