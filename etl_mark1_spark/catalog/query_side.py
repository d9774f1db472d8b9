"""Catalog entries for the persisted index's QUERY LANGUAGE
(operators/retrieval.py): boolean must/should/must_not retrieval, fuzzy
(edit-distance) term expansion, more-like-this, pseudo-relevance
feedback, prefix autocomplete — plus the end-to-end curation
composition (decontamination hits drive index deletion). The reference
searches with SQL LIKE over scanned text
(backend/services/duckdb_engine.py); this is the LLM-pipeline
extension's search surface.

The five read-only entries share ONE persisted index per (process,
sf_dir) — the production "ingest once, query many" shape: the first
entry to run pays the three-artifact ingest
(operators/indexing.py:write_search_index), every later entry measures
pure query cost. The deletion composition builds its own index (it
mutates). Paths are fresh ``mkdtemp`` per process — never reused
across runs (round-11 lesson).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mark1_spark.catalog._registry import query, t

#: per-process shared read-only index, keyed by sf_dir
_SHARED_INDEX: dict[str, str] = {}
_SHARED_POSITIONS: set[str] = set()


def _shared_index(spark: SparkSession, sf_dir: str,
                  positions: bool = False) -> str:
    from etl_mark1_spark.operators.indexing import (write_position_index,
                                                    write_search_index)

    path = _SHARED_INDEX.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="etl_mark1_qidx_")
        write_search_index(t(spark, sf_dir, "documents"), path)
        _SHARED_INDEX[sf_dir] = path
    if positions and sf_dir not in _SHARED_POSITIONS:
        # lazy: only phrase-bearing entries pay the positional ingest
        write_position_index(t(spark, sf_dir, "documents"), path)
        _SHARED_POSITIONS.add(sf_dir)
    return path


#: shared DuckDB oracle fragments — tokenization identical to
#: functions/text.py:normalized_text (lowercase, whitespace split) and
#: BM25 identical to operators/indexing.py:_score_postings_bm25
#: (RSJ idf, k1=1.2, b=0.75, 6dp rounding, id tie-break).
_TOKS = r"""
    toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS tok
        FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl)
"""

_SCORE = """
    SELECT doc_id,
           round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                     * tf * 2.2
                     / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
                 6) AS bm25
    FROM tf JOIN dl USING (doc_id) JOIN dft USING (tok), stats
"""


@query("boolean_search_persisted_docs", f"""
    WITH {_TOKS},
    q AS (SELECT * FROM toks WHERE tok IN ('dup', 'hash', 'merge')),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM q GROUP BY 1, 2),
    dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY 1),
    cand AS (SELECT doc_id FROM toks WHERE tok IN ('dup', 'hash')
             GROUP BY doc_id HAVING count(DISTINCT tok) = 2),
    excl AS (SELECT DISTINCT doc_id FROM toks WHERE tok = 'vector')
    {_SCORE}
    WHERE doc_id IN (SELECT doc_id FROM cand)
      AND doc_id NOT IN (SELECT doc_id FROM excl)
    GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10
""")
def boolean_search_persisted_docs(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Boolean retrieval over the persisted index
    (operators/retrieval.py:boolean_search_persisted — the Lucene
    BooleanQuery surface): documents containing BOTH 'dup' (the
    corpus's one rare term, ~5% df) and 'hash', excluding any that
    mention 'vector', ranked by BM25 over must+should terms ('merge'
    influences ranking only). One pruned-bucket read serves candidate
    generation, corpus-df counting, and scoring; the oracle replays
    candidates, exclusion, and scoring from the raw text — green means
    the boolean algebra AND the df-before-restriction idf discipline
    both match."""
    from etl_mark1_spark.operators.retrieval import boolean_search_persisted

    return boolean_search_persisted(
        spark, _shared_index(spark, sf_dir),
        must=["dup", "hash"], should=["merge"], must_not=["vector"],
        top_k=10)


@query("fuzzy_search_persisted_docs", f"""
    WITH {_TOKS},
    vocab AS (SELECT DISTINCT tok FROM toks),
    exp AS (SELECT tok FROM vocab
            WHERE levenshtein(tok, 'scann') <= 1
               OR levenshtein(tok, 'valu') <= 1
               OR levenshtein(tok, 'dupe') <= 1),
    q AS (SELECT * FROM toks WHERE tok IN (SELECT tok FROM exp)),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM q GROUP BY 1, 2),
    dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY 1)
    {_SCORE}
    GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10
""")
def fuzzy_search_persisted_docs(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Typo-tolerant search
    (operators/retrieval.py:fuzzy_search_persisted): the misspelled
    query {scann, valu, dupe} expands to its Levenshtein-1 neighborhood
    within the index VOCABULARY (the dict artifact — vocabulary-sized,
    never a corpus scan) and scores as a plain BM25 disjunction, each
    variant with its own idf. The oracle recomputes the neighborhood
    with DuckDB's levenshtein over the distinct corpus tokens — green
    confirms the two engines' edit-distance and the
    expansion-then-score semantics agree exactly."""
    from etl_mark1_spark.operators.retrieval import fuzzy_search_persisted

    return fuzzy_search_persisted(
        spark, _shared_index(spark, sf_dir),
        ["scann", "valu", "dupe"], top_k=10, max_dist=1)


@query("more_like_this_docs", f"""
    WITH {_TOKS},
    dfall AS (SELECT tok, count(DISTINCT doc_id) AS df
              FROM toks GROUP BY 1),
    seedtf AS (SELECT tok, count(*) AS tf FROM toks
               WHERE doc_id = 42 GROUP BY 1),
    sel AS (SELECT tok FROM (
               SELECT s.tok,
                      round(s.tf * ln(1 + (n - f.df + 0.5)
                                      / (f.df + 0.5)), 6) AS w
               FROM seedtf s JOIN dfall f USING (tok), stats)
            ORDER BY w DESC, tok LIMIT 5),
    q AS (SELECT * FROM toks WHERE tok IN (SELECT tok FROM sel)),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM q GROUP BY 1, 2),
    dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY 1)
    {_SCORE}
    WHERE doc_id <> 42
    GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10
""")
def more_like_this_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-as-query
    (operators/retrieval.py:more_like_this_persisted — the Lucene
    MoreLikeThis shape): document 42's five highest tf·idf terms
    (6dp-rounded weights, token tie-break — engine-reproducible
    selection) become a BM25 query; the seed is excluded from results
    but stays in every corpus statistic. The oracle replays term
    selection and scoring from the raw text, so green pins BOTH the
    selection determinism and the df-including-seed discipline."""
    from etl_mark1_spark.operators.retrieval import more_like_this_persisted

    return more_like_this_persisted(
        spark, _shared_index(spark, sf_dir), 42,
        n_seed_terms=5, top_k=10)


@query("prf_search_docs", f"""
    WITH {_TOKS},
    q1 AS (SELECT * FROM toks WHERE tok = 'dup'),
    tf1 AS (SELECT doc_id, count(*) AS tf FROM q1 GROUP BY 1),
    df1 AS (SELECT count(DISTINCT doc_id) AS df FROM q1),
    fb AS (SELECT doc_id FROM (
              SELECT t1.doc_id,
                     round(ln(1 + (n - df + 0.5) / (df + 0.5))
                           * tf * 2.2
                           / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)),
                           6) AS bm25
              FROM tf1 t1 JOIN dl ON t1.doc_id = dl.doc_id, df1, stats)
           ORDER BY bm25 DESC, doc_id LIMIT 5),
    dfall AS (SELECT tok, count(DISTINCT doc_id) AS df
              FROM toks GROUP BY 1),
    fbtf AS (SELECT tok, count(*) AS stf FROM toks
             WHERE doc_id IN (SELECT doc_id FROM fb) AND tok <> 'dup'
             GROUP BY 1),
    exp AS (SELECT tok FROM (
               SELECT e.tok,
                      round(e.stf * ln(1 + (n - f.df + 0.5)
                                       / (f.df + 0.5)), 6) AS w
               FROM fbtf e JOIN dfall f USING (tok), stats)
            ORDER BY w DESC, tok LIMIT 3),
    qt AS (SELECT 'dup' AS tok, 1.0 AS w
           UNION ALL SELECT tok, 0.5 AS w FROM exp),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
           WHERE tok IN (SELECT tok FROM qt) GROUP BY 1, 2),
    dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks
            WHERE tok IN (SELECT tok FROM qt) GROUP BY 1)
    SELECT doc_id,
           round(sum(w * ln(1 + (n - df + 0.5) / (df + 0.5))
                     * tf * 2.2
                     / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
                 6) AS bm25
    FROM tf JOIN dl USING (doc_id) JOIN dft USING (tok)
         JOIN qt USING (tok), stats
    GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10
""")
def prf_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback
    (operators/retrieval.py:prf_search_persisted — Rocchio 1971 / RM
    expansion family): the rare-term query 'dup' retrieves 5 feedback
    documents; their 3 highest summed-tf·idf terms (original terms
    excluded, 6dp weights, token tie-break) rejoin the query at weight
    0.5; the final pass scores weighted BM25. The oracle replays the
    whole two-pass loop in SQL — feedback selection, expansion-term
    selection, weighted rescoring — so green confirms every
    driver-coordination boundary (fb ids, expansion terms) is
    engine-reproducible."""
    from etl_mark1_spark.operators.retrieval import prf_search_persisted

    return prf_search_persisted(
        spark, _shared_index(spark, sf_dir), ["dup"],
        fb_docs=5, fb_terms=3, beta=0.5, top_k=10)


@query("prefix_complete_docs", f"""
    WITH {_TOKS}
    SELECT tok AS token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM toks WHERE tok LIKE 's%'
    GROUP BY 1 ORDER BY df DESC, token LIMIT 10
""")
def prefix_complete_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix autocomplete over the index dictionary
    (operators/retrieval.py:complete_prefix): vocabulary terms starting
    with 's', ranked by document frequency. The Spark side reads ONLY
    the dict artifact (vocabulary-sized — the corpus is never touched);
    the oracle recounts df from the raw text, so green confirms the
    dict segments' algebraic df sums equal a from-scratch count."""
    from etl_mark1_spark.operators.retrieval import complete_prefix

    return complete_prefix(spark, _shared_index(spark, sf_dir), "s",
                           top_k=10)


@query("decontam_index_delete_docs", rf"""
    WITH d AS (
      SELECT doc_id, source,
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                          ' ') AS tk
      FROM documents),
    p AS (SELECT doc_id, source, tk, unnest(range(1, len(tk) - 4)) AS i
          FROM d WHERE len(tk) >= 6),
    g AS (SELECT doc_id, source, array_to_string(tk[i:i+5], ' ') AS gram
          FROM p),
    ref AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
    bad AS (SELECT DISTINCT doc_id FROM g
            WHERE source <> 'src0' AND gram IN (SELECT gram FROM ref)),
    toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS tok
        FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    q AS (SELECT * FROM toks WHERE tok IN ('dup', 'stream', 'merge')),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM q GROUP BY 1, 2),
    dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY 1)
    {_SCORE}
    GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10
""")
def decontam_index_delete_docs(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The end-to-end curation loop the round-13 deletion machinery
    exists for: benchmark decontamination FINDS contaminated documents
    (operators/bloom.py:bloom_semi_filter — corpus docs sharing a word
    6-gram with the src0 'benchmark' slice, the exact
    bloom_contaminated_docs predicate), and its hits feed straight into
    the persisted index's tombstone deletion
    (operators/indexing.py:delete_from_index); the follow-up BM25 query
    must behave as if the contaminated docs were never indexed. The
    oracle computes BM25 from first principles over ONLY the
    uncontaminated documents — green means detect → delete → query
    equals build-from-clean-corpus, score-exactly, with no rebuild."""
    from etl_mark1_spark.functions.grams import tokens, word_ngram_rows
    from etl_mark1_spark.operators.bloom import bloom_semi_filter
    from etl_mark1_spark.operators.dedup import ensure_parallelism
    from etl_mark1_spark.operators.indexing import (bm25_search_persisted,
                                                    delete_from_index,
                                                    write_search_index)

    docs = t(spark, sf_dir, "documents")
    tdir = tempfile.mkdtemp(prefix="etl_mark1_decidx_")
    write_search_index(docs, tdir)
    grams = word_ngram_rows(ensure_parallelism(docs), tokens("text"), 6,
                            ("doc_id", "source"))
    ref = grams.filter(F.col("source") == "src0").select("gram").distinct()
    hits = (bloom_semi_filter(
        grams.filter(F.col("source") != "src0").select("doc_id", "gram"),
        ref, "gram").select("doc_id").distinct())
    delete_from_index(spark, tdir, hits)
    return bm25_search_persisted(spark, tdir, ["dup", "stream", "merge"],
                                 top_k=10)


@query("query_string_search_docs", rf"""
    WITH d AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                          ' ') AS tk
      FROM documents),
    pp AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
           FROM d WHERE len(tk) >= 2),
    ph AS (SELECT DISTINCT doc_id FROM pp
           WHERE tk[i] = 'hash' AND tk[i + 1] = 'join'),
    toks AS (SELECT doc_id, unnest(tk) AS tok FROM d),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    vocab AS (SELECT DISTINCT tok FROM toks),
    fz AS (SELECT tok FROM vocab WHERE levenshtein(tok, 'scann') <= 1),
    qt AS (SELECT 'hash' AS tok UNION SELECT 'join' UNION SELECT 'merge'
           UNION SELECT tok FROM fz),
    q AS (SELECT * FROM toks WHERE tok IN (SELECT tok FROM qt)),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM q GROUP BY 1, 2),
    dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY 1),
    cand AS (SELECT doc_id FROM ph
             WHERE doc_id IN (SELECT doc_id FROM toks WHERE tok = 'hash')
               AND doc_id NOT IN
                   (SELECT doc_id FROM toks WHERE tok = 'dup'))
    {_SCORE}
    WHERE doc_id IN (SELECT doc_id FROM cand)
    GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10
""")
def query_string_search_docs(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """The full Lucene-style query-string surface
    (operators/retrieval.py:parse_query + search_query_persisted) in
    one query: ``+hash "hash join" -dup merge scann~`` — a must term,
    an exact-phrase constraint answered by the persisted POSITIONAL
    index (never re-tokenizing the corpus), an exclusion, a
    ranking-only should term, and a fuzzy term whose Levenshtein-1
    vocabulary neighborhood joins the scoring set. Candidates must
    contain 'hash' AND the adjacent bigram "hash join" and must not
    contain 'dup'; scoring is BM25 over every positive clause (phrase
    words score too — the Lucene convention). The oracle replays the
    parse's SEMANTICS from raw text: positional bigram check, boolean
    algebra, fuzzy expansion, and scoring — green confirms the whole
    compiled pipeline end to end."""
    from etl_mark1_spark.operators.retrieval import search_query_persisted

    return search_query_persisted(
        spark, _shared_index(spark, sf_dir, positions=True),
        '+hash "hash join" -dup merge scann~', top_k=10)


@query("faceted_search_docs", f"""
    WITH {_TOKS},
    cand AS (SELECT DISTINCT doc_id FROM toks
             WHERE tok IN ('dup', 'merge'))
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs
    FROM cand JOIN documents USING (doc_id)
    GROUP BY source ORDER BY n_docs DESC, source
""")
def faceted_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet counts for a search (operators/retrieval.py:facet_counts —
    the results-by-source sidebar): documents matching 'dup' OR 'merge'
    counted per source. The index stores no metadata (postings stay
    narrow), so the MATCH-BOUNDED candidate ids join the documents
    frame on doc_id — a shuffle keyed by ids the pruned scan already
    bounded, never a corpus re-scan. The oracle recounts from raw
    text."""
    from etl_mark1_spark.operators.retrieval import facet_counts

    docs = t(spark, sf_dir, "documents")
    return facet_counts(spark, _shared_index(spark, sf_dir),
                        ["dup", "merge"], docs, "source")


@query("search_after_page2_docs", f"""
    WITH {_TOKS},
    q AS (SELECT * FROM toks WHERE tok IN ('data', 'merge')),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM q GROUP BY 1, 2),
    dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY 1)
    {_SCORE}
    GROUP BY doc_id ORDER BY bm25 DESC, doc_id
    OFFSET 10 LIMIT 10
""")
def search_after_page2_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cursor pagination (operators/retrieval.py:search_after_persisted
    — the Elasticsearch search_after shape): page 1 of the query
    {data, merge} is collected, its last (bm25, doc_id) becomes the
    cursor, and the entry returns page 2 — the cursor predicate runs
    BEFORE the ordered limit, so page N never recounts skipped rows.
    (bm25 desc, doc_id) is a total order, so cursor pagination must
    equal the oracle's OFFSET/LIMIT exactly — green confirms no row is
    skipped or repeated across the page boundary."""
    from etl_mark1_spark.operators.retrieval import search_after_persisted

    path = _shared_index(spark, sf_dir)
    page1 = search_after_persisted(spark, path, ["data", "merge"],
                                   page_size=10).collect()
    last = page1[-1]
    return search_after_persisted(
        spark, path, ["data", "merge"], page_size=10,
        after=(last["bm25"], last["doc_id"]))


@query("index_stats_docs", f"""
    WITH {_TOKS},
    posting AS (SELECT DISTINCT doc_id, tok FROM toks)
    SELECT CAST((SELECT count(*) FROM dl) AS BIGINT) AS n_docs,
           CAST((SELECT count(DISTINCT tok) FROM toks) AS BIGINT)
               AS vocab_size,
           CAST((SELECT count(*) FROM posting) AS BIGINT) AS n_postings,
           round((SELECT sum(dl) FROM dl) * 1.0
                 / (SELECT count(*) FROM dl), 6) AS avgdl
""")
def index_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index introspection (operators/retrieval.py:index_stats): corpus
    size, vocabulary size, posting count, and average document length
    from METADATA artifacts only — the stats segments and the
    vocabulary-sized dict (n_postings = sum of per-token df; every
    posting row increments exactly one token's df). The postings are
    never scanned. The oracle recomputes all four from the raw text, so
    green confirms the segment metadata stays exactly consistent with a
    from-scratch count — the invariant every MaxScore bound and
    stats-corrected query relies on."""
    from etl_mark1_spark.operators.retrieval import index_stats

    return index_stats(spark, _shared_index(spark, sf_dir))


#: per-process shared read-only IVF index over the embeddings table
_SHARED_IVF: dict[str, str] = {}


def _shared_ivf(spark: SparkSession, sf_dir: str) -> str:
    from etl_mark1_spark.operators.similarity import (ivf_build,
                                                      ivf_index_write)

    path = _SHARED_IVF.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="etl_mark1_qivf_")
        assigned, centroids = ivf_build(t(spark, sf_dir, "embeddings"),
                                        num_centroids=8)
        ivf_index_write(assigned, centroids, path)
        _SHARED_IVF[sf_dir] = path
    return path


@query("hybrid_text_vector_docs", f"""
    WITH {_TOKS},
    q AS (SELECT * FROM toks WHERE tok IN ('data', 'merge')),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM q GROUP BY 1, 2),
    dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY 1),
    bm25 AS (
      SELECT doc_id,
             round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                       * tf * 2.2
                       / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
                   6) AS bm25
      FROM tf JOIN dl USING (doc_id) JOIN dft USING (tok), stats
      GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id = 7),
    nn AS (
      SELECT vec_id AS doc_id,
             round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe),
                   6) AS sim
      FROM embeddings, qv
      ORDER BY sim DESC, doc_id LIMIT 50),
    r1 AS (SELECT doc_id,
                  row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
           FROM bm25),
    r2 AS (SELECT doc_id,
                  row_number() OVER (ORDER BY sim DESC, doc_id) AS rank
           FROM nn)
    SELECT doc_id,
           round(sum(1.0 / (60 + rank)), 6) AS rrf_score
    FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
    GROUP BY doc_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT 10
""")
def hybrid_text_vector_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production RAG retrieval shape
    (operators/ranking.py:hybrid_text_vector_search): lexical BM25 over
    the persisted TEXT index fused with a cosine probe of the persisted
    VECTOR index (documents and embeddings share the id space) by
    Reciprocal Rank Fusion — one corpus, two modalities, one ranked
    page, both sides tokenize/cluster ONCE at ingest and prune at query
    time. The vector side probes every centroid here so it is exact and
    the whole fusion carries a from-first-principles oracle: BM25,
    brute-force cosine, both rank constructions, and the RRF sum all
    replayed in SQL. The query embedding is looked up by id driver-side
    (the documented serving-path shortcut, SCALE.md)."""
    from etl_mark1_spark.operators.ranking import hybrid_text_vector_search

    vecs = t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          vecs.filter(F.col("vec_id") == 7).first()["embedding"]]
    return hybrid_text_vector_search(
        spark, _shared_index(spark, sf_dir), _shared_ivf(spark, sf_dir),
        ["data", "merge"], qv, top_n=50, top_k=10)


@query("batch_search_docs", f"""
    WITH {_TOKS},
    qs AS (SELECT * FROM (VALUES
             ('q_dup', 'dup'), ('q_dup', 'merge'),
             ('q_join', 'hash'), ('q_join', 'join'),
             ('q_scan', 'scan'), ('q_scan', 'filter'), ('q_scan', 'sort')
           ) v(qid, tok)),
    q AS (SELECT * FROM toks
          WHERE tok IN (SELECT DISTINCT tok FROM qs)),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM q GROUP BY 1, 2),
    dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY 1),
    scored AS (
      SELECT qid, doc_id,
             round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                       * tf * 2.2
                       / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
                   6) AS bm25
      FROM tf JOIN dl USING (doc_id) JOIN dft USING (tok)
           JOIN qs USING (tok), stats
      GROUP BY qid, doc_id),
    r AS (SELECT qid, doc_id, bm25,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY bm25 DESC, doc_id) AS rn
          FROM scored)
    SELECT qid, doc_id, bm25 FROM r WHERE rn <= 5
    ORDER BY qid, bm25 DESC, doc_id
""")
def batch_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH retrieval (operators/retrieval.py:bm25_search_many): three
    queries score against the persisted index in ONE pass — the
    offline-evaluation shape (nightly regression suites and query-log
    replays score thousands of queries; per-query jobs would pay the
    scan and scheduling overhead thousands of times). One pruned scan
    covers the union of all query terms, the (qid, term) map
    broadcasts, and the per-qid top-5 is a window PARTITIONED by qid —
    parallelism scales with the batch. Per-query rows are exactly
    bm25_search_persisted's (parity pinned in tests); the oracle
    replays the fan-out with a VALUES join and QUALIFY-style ranking."""
    from etl_mark1_spark.operators.retrieval import bm25_search_many

    return bm25_search_many(
        spark, _shared_index(spark, sf_dir),
        {"q_dup": ["dup", "merge"], "q_join": ["hash", "join"],
         "q_scan": ["scan", "filter", "sort"]}, top_k=5)


@query("serp_page_docs", rf"""
    WITH d AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                          ' ') AS tk
      FROM documents),
    toks AS (SELECT doc_id, unnest(tk) AS tok FROM d WHERE len(tk) > 0),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks WHERE tok <> ''
           GROUP BY 1),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    q AS (SELECT * FROM toks WHERE tok IN ('dup', 'stream')),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM q GROUP BY 1, 2),
    dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY 1),
    ranked AS (
      SELECT doc_id,
             round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                       * tf * 2.2
                       / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))),
                   6) AS bm25
      FROM tf JOIN dl USING (doc_id) JOIN dft USING (tok), stats
      GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 5),
    p AS (SELECT doc_id, i AS pos
          FROM d, LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i)
          WHERE tk[i] IN ('dup', 'stream')),
    s AS (SELECT doc_id, pos,
                 count(*) OVER (PARTITION BY doc_id ORDER BY pos
                                RANGE BETWEEN CURRENT ROW
                                AND 19 FOLLOWING) AS nh
          FROM p),
    w AS (SELECT doc_id, pos, nh,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY nh DESC, pos) AS rn
          FROM s)
    SELECT r.doc_id, r.bm25,
           CAST(w.pos AS BIGINT) AS snippet_start,
           CAST(coalesce(w.nh, 0) AS BIGINT) AS n_hits
    FROM ranked r LEFT JOIN (SELECT * FROM w WHERE rn = 1) w
         ON r.doc_id = w.doc_id
    ORDER BY r.bm25 DESC, r.doc_id
""")
def serp_page_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A complete search-results page (operators/retrieval.py:serp_page):
    BM25 top-5 for {dup, stream} joined with each hit's best 20-token
    proximity snippet window — ranking from the tf index, snippets from
    the positional artifact at the same path, both bucket-pruned, the
    exact composition a search frontend renders. The oracle replays
    ranking, window selection, and the join in one statement, pinning
    that the two operators agree on doc identity and stay joinable."""
    from etl_mark1_spark.operators.retrieval import serp_page

    return serp_page(spark, _shared_index(spark, sf_dir, positions=True),
                     ["dup", "stream"], top_k=5, width=20)
