"""Query-side retrieval completeness over the persisted search index.

Rounds 11-13 built the index lifecycle (build / persist / merge /
delete / compact / stream-ingest) and the core rankers (BM25, MaxScore,
Dirichlet QLM, phrase, snippets, RRF hybrids). This module finishes the
QUERY LANGUAGE a production search deployment expects on top of that
index — every operator reads the same three persisted artifacts
(``postings`` / ``stats`` / ``dict``, operators/indexing.py:
write_search_index) and inherits tombstone awareness from the shared
pruned readers:

* :func:`boolean_search_persisted` — must / should / must_not boolean
  retrieval with BM25 ranking (the Lucene ``BooleanQuery`` surface);
* :func:`expand_terms_fuzzy` / :func:`fuzzy_search_persisted` —
  typo-tolerant search: query terms expand to their edit-distance
  neighborhood within the index VOCABULARY (the dict artifact — never
  the corpus), then score as a plain BM25 disjunction;
* :func:`more_like_this_persisted` — document-as-query: the seed doc's
  top tf·idf terms become a BM25 query (Lucene MoreLikeThis shape);
* :func:`prf_search_persisted` — pseudo-relevance feedback (Rocchio
  1971 / RM-style expansion, public): the first-pass top documents
  nominate expansion terms that re-query with a damped weight;
* :func:`complete_prefix` — prefix autocomplete over the dictionary,
  ranked by document frequency.

Scale notes (all paths re-checked with .explain): everything term-keyed
prunes to the query terms' md5 token buckets exactly like
bm25_search_persisted. The two deliberate non-pruned reads are
VOCABULARY-sized, not corpus-sized: fuzzy expansion and autocomplete
scan the dict artifact (|vocab| rows — metadata scale; a sorted-token
secondary dict would prune prefixes, noted in complete_prefix), and the
doc-keyed seed/feedback reads (more-like-this, PRF) scan the postings
path with a PUSHED doc_id filter — row-group skipping, no partition
pruning, because the index is token-partitioned (the classic
inverted-vs-forward-index tradeoff; a forward index would make it a
pruned read and is the documented extension point). Driver-side
collects are all bounded: |expansion| terms, |feedback| ids, |seed
terms| rows — never corpus-scale.

The reference's search surface is SQL LIKE over scanned text
(/root/reference/backend/services/duckdb_engine.py); this query
language is part of the LLM-pipeline extension.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_mark1_spark.operators.indexing import (
    DEFAULT_BUCKETS,
    _bm25_idf,
    _bm25_norm,
    _corrected_index_stats,
    _fold_terms,
    _score_postings_bm25,
    _scored_bm25_unordered,
    _term_df,
    bm25_search_persisted,
    read_artifact,
    read_search_postings,
)


def _read_dict(spark, path: str) -> DataFrame:
    """The index dictionary with per-segment rows re-aggregated: one
    (token, df) row per vocabulary term. df SUMS across segments
    (segments are document-disjoint, write_search_index contract).
    Under tombstones df is the INGEST-TIME count — an upper bound the
    callers here use only for ranking candidates / expansion caps,
    never for score arithmetic (scoring paths recount df from the
    surviving pruned postings)."""
    return (read_artifact(spark, path, "dict")
            .groupBy("token")
            .agg(F.sum("df").cast("bigint").alias("df")))


def boolean_search_persisted(spark, path: str,
                             must: Sequence[str] = (),
                             should: Sequence[str] = (),
                             must_not: Sequence[str] = (),
                             top_k: int = 10, k1: float = 1.2,
                             b: float = 0.75,
                             num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Boolean retrieval over the persisted index: documents containing
    ALL ``must`` terms and NONE of the ``must_not`` terms, ranked by
    BM25 over the ``must`` + ``should`` terms they contain (``should``
    terms influence ranking only — the Lucene BooleanQuery contract).
    With no ``must`` terms the candidate set is any-should-term
    (disjunctive). Returns (doc_id, bm25) descending, id tie-break.

    Plan shape: ONE pruned postings read covers candidate generation,
    df counting, and scoring (the must/should buckets); ``must_not``
    adds one more pruned read anti-joined in. Per-term df is counted
    from the pruned postings BEFORE candidate restriction — corpus-wide
    df, the same idf the unrestricted query would use (restricting
    first would inflate idf; same discipline as
    bm25_maxscore_search's dft parameter). Tombstones are anti-joined
    by the shared reader, so every count is over surviving documents."""
    must_f = _fold_terms(spark, must)
    should_f = [t for t in _fold_terms(spark, should) if t not in set(must_f)]
    if not must_f and not should_f:
        raise ValueError("boolean_search_persisted needs at least one "
                         "must or should term")
    n_docs, _, avgdl, _ = _corrected_index_stats(spark, path)
    post = read_search_postings(spark, path, must_f + should_f,
                                num_buckets=num_buckets)
    dft = _term_df(post)
    if must_f:
        cand = (post.filter(F.col("token").isin(must_f))
                .groupBy("doc_id")
                .agg(F.count_distinct("token").alias("_nt"))
                .filter(F.col("_nt") == len(must_f))
                .select("doc_id"))
    else:
        cand = post.select("doc_id").distinct()
    must_not_f = _fold_terms(spark, must_not)
    if must_not_f:
        excl = (read_search_postings(spark, path, must_not_f,
                                     num_buckets=num_buckets)
                .select("doc_id").distinct())
        cand = cand.join(excl, "doc_id", "left_anti")
    return _score_postings_bm25(post.join(cand, "doc_id", "left_semi"),
                                n_docs, avgdl, k1, b, top_k, dft=dft)


def expand_terms_fuzzy(spark, path: str, terms: Sequence[str],
                       max_dist: int = 1,
                       max_expansion: int = 64) -> list[str]:
    """Each query term expanded to its Levenshtein-``max_dist``
    neighborhood WITHIN THE INDEX VOCABULARY — the dict artifact, never
    the corpus (out-of-vocabulary variants can't match any posting, so
    vocab ∩ neighborhood is complete). Returns the union, sorted.

    The dict scan is vocabulary-sized (metadata scale) and cannot
    bucket-prune — the md5 bucket is a function of the exact token, and
    a fuzzy match by definition isn't exact; a length band narrows the
    candidates before the levenshtein evaluates. The expansion is
    collected driver-side (it becomes the bucket-pruning literal of the
    follow-up scoring scan) and is refused LOUDLY above
    ``max_expansion`` — a too-fuzzy query against a huge vocabulary
    must not silently turn into an all-bucket scan."""
    folded = _fold_terms(spark, terms)
    if not folded:
        raise ValueError("expand_terms_fuzzy needs at least one term")
    vocab = _read_dict(spark, path).select("token")
    cond = None
    for term in folded:
        c = ((F.abs(F.length("token") - F.lit(len(term))) <= max_dist)
             & (F.levenshtein(F.col("token"), F.lit(term)) <= max_dist))
        cond = c if cond is None else (cond | c)
    rows = (vocab.filter(cond).orderBy("token")
            .limit(max_expansion + 1).collect())
    if len(rows) > max_expansion:
        raise ValueError(
            f"fuzzy expansion of {folded!r} exceeds max_expansion="
            f"{max_expansion}; narrow the query or raise the cap")
    return [r["token"] for r in rows]


def fuzzy_search_persisted(spark, path: str, terms: Sequence[str],
                           top_k: int = 10, max_dist: int = 1,
                           max_expansion: int = 64, k1: float = 1.2,
                           b: float = 0.75,
                           num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Typo-tolerant BM25: the query terms' edit-distance neighborhood
    within the vocabulary (:func:`expand_terms_fuzzy`) scores as a
    plain BM25 disjunction — each variant is an independent query term
    with its own idf, so a common variant ('scan') contributes with its
    own (low) idf rather than inheriting the typo's. A query whose
    neighborhood is empty returns an empty (doc_id, bm25) frame rather
    than raising: zero hits is a search RESULT.

    After expansion it is :func:`bm25_search_persisted` over the
    expanded terms: pruned-bucket postings read, tombstone anti-join,
    one aggregation, ordered limit."""
    expanded = expand_terms_fuzzy(spark, path, terms, max_dist=max_dist,
                                  max_expansion=max_expansion)
    if not expanded:
        return spark.createDataFrame([], "doc_id bigint, bm25 double")
    return bm25_search_persisted(spark, path, expanded, top_k=top_k, k1=k1,
                                 b=b, num_buckets=num_buckets)


def more_like_this_persisted(spark, path: str, doc_id: int,
                             n_seed_terms: int = 5, top_k: int = 10,
                             k1: float = 1.2, b: float = 0.75,
                             num_buckets: int = DEFAULT_BUCKETS,
                             diagnostics: dict | None = None
                             ) -> DataFrame:
    """Document-as-query (the Lucene MoreLikeThis shape): the seed
    document's ``n_seed_terms`` highest-weight terms — weight =
    tf · RSJ-idf, rounded to 6dp with token tie-break so the selection
    is engine-reproducible — become a BM25 query; the seed itself is
    excluded from the results. Returns (doc_id, bm25) descending.

    Reads: the seed's postings come from a doc_id-PUSHED scan of the
    token-partitioned postings (row-group skipping; the documented
    forward-index extension point — see module docstring), term idf
    comes from the vocabulary-sized dict, and the final scoring is the
    standard pruned-bucket read. Corpus stats (n, avgdl, per-term df)
    include the seed document — the seed is part of the corpus; only
    the RESULT list drops it. df for final scoring is counted from the
    pruned postings before the seed exclusion (dft parameter), keeping
    idf identical to what any other query would see. Pass a dict as
    ``diagnostics`` to receive the selected seed terms (same
    convention as bm25_maxscore_search)."""
    n_docs, _, avgdl, _ = _corrected_index_stats(spark, path)
    seed = (read_artifact(spark, path, "postings")
            .filter(F.col("doc_id") == int(doc_id))
            .select("token", "tf"))
    weighted = (seed.join(_read_dict(spark, path), "token")
                .select("token",
                        F.round(F.col("tf") * _bm25_idf(n_docs,
                                                        F.col("df")),
                                6).alias("w")))
    top = (weighted.orderBy(F.col("w").desc(), F.col("token"))
           .limit(n_seed_terms).collect())
    terms = [r["token"] for r in top]
    if diagnostics is not None:
        diagnostics["seed_terms"] = terms
    if not terms:
        return spark.createDataFrame([], "doc_id bigint, bm25 double")
    post = read_search_postings(spark, path, terms,
                                num_buckets=num_buckets)
    dft = _term_df(post)
    return _score_postings_bm25(
        post.filter(F.col("doc_id") != int(doc_id)),
        n_docs, avgdl, k1, b, top_k, dft=dft)


def prf_search_persisted(spark, path: str, terms: Sequence[str],
                         fb_docs: int = 5, fb_terms: int = 3,
                         beta: float = 0.5, top_k: int = 10,
                         k1: float = 1.2, b: float = 0.75,
                         num_buckets: int = DEFAULT_BUCKETS,
                         diagnostics: dict | None = None) -> DataFrame:
    """Pseudo-relevance feedback (Rocchio 1971; RM expansion family —
    public): a first-pass BM25 retrieves ``fb_docs`` feedback
    documents; their ``fb_terms`` highest-weight terms (weight = summed
    tf over the feedback docs · corpus idf, 6dp-rounded, token
    tie-break, original terms excluded) join the query with weight
    ``beta``; the second pass scores weighted BM25 —
    ``sum_t w_t · idf_t · norm_t`` with w = 1.0 for original terms.
    Returns (doc_id, bm25) descending, id tie-break.

    Reads: two pruned-bucket scoring scans (original terms, then
    original+expansion), one doc_id-PUSHED postings scan for the
    feedback docs' term profile (fb_docs is single-digit — the pushed
    isin is a literal), one vocabulary-sized dict join for expansion
    idf. Collects are feedback-sized: fb_docs ids + fb_terms rows.
    Feedback documents are by construction live (they scored through
    the tombstone-aware first pass). Pass a dict as ``diagnostics`` to
    receive the feedback ids and expansion terms."""
    folded = _fold_terms(spark, terms)
    if not folded:
        raise ValueError("prf_search_persisted needs at least one term")
    n_docs, _, avgdl, _ = _corrected_index_stats(spark, path)
    post1 = read_search_postings(spark, path, folded,
                                 num_buckets=num_buckets)
    first = _score_postings_bm25(post1, n_docs, avgdl, k1, b, fb_docs)
    fb_ids = [int(r["doc_id"]) for r in first.collect()]
    if not fb_ids:
        return spark.createDataFrame([], "doc_id bigint, bm25 double")
    fb_post = (read_artifact(spark, path, "postings")
               .filter(F.col("doc_id").isin(fb_ids))
               .groupBy("token")
               .agg(F.sum("tf").cast("bigint").alias("_stf")))
    expansion = (fb_post.filter(~F.col("token").isin(folded))
                 .join(_read_dict(spark, path), "token")
                 .select("token",
                         F.round(F.col("_stf")
                                 * _bm25_idf(n_docs, F.col("df")),
                                 6).alias("w"))
                 .orderBy(F.col("w").desc(), F.col("token"))
                 .limit(fb_terms).collect())
    exp_terms = [r["token"] for r in expansion]
    if diagnostics is not None:
        diagnostics["fb_ids"] = fb_ids
        diagnostics["expansion_terms"] = exp_terms
    weights = spark.createDataFrame(
        [(t, 1.0) for t in folded] + [(t, float(beta)) for t in exp_terms],
        "token string, _w double")
    post = read_search_postings(spark, path, folded + exp_terms,
                                num_buckets=num_buckets)
    return (post.join(F.broadcast(_term_df(post)), "token")
            .join(F.broadcast(weights), "token")
            .groupBy("doc_id")
            .agg(F.round(F.sum(F.col("_w")
                               * _bm25_idf(n_docs, F.col("_df"))
                               * _bm25_norm(avgdl, k1, b)),
                         6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col("doc_id"))
            .limit(top_k))


def complete_prefix(spark, path: str, prefix: str,
                    top_k: int = 10) -> DataFrame:
    """Prefix autocomplete over the index dictionary: vocabulary terms
    starting with ``prefix`` (case-folded like the corpus), ranked by
    document frequency descending with token tie-break. Returns
    (token, df).

    One vocabulary-sized dict scan + ordered limit — the md5 token
    bucketing cannot prune a PREFIX (it hashes whole tokens); a
    deployment hot for autocomplete would persist a second,
    range-partitioned-by-token dict copy so the prefix becomes a
    partition range — noted extension, not needed at metadata scale.
    Under tombstones df is the ingest-time count (an upper bound);
    compaction (operators/indexing.py:compact_index) resets it exactly."""
    pfx = _fold_terms(spark, [prefix])[0]
    return (_read_dict(spark, path)
            .filter(F.col("token").startswith(pfx))
            .orderBy(F.col("df").desc(), F.col("token"))
            .limit(top_k))


_PHRASE_RE = re.compile(r'([+-]?)"([^"]*)"')
_FUZZY_RE = re.compile(r"(.+?)~(\d*)$")


def parse_query(qstr: str) -> dict:
    """Parse a Lucene-style query string into its clause sets:

    * ``+term`` — MUST (the document must contain it);
    * ``-term`` — MUST NOT;
    * ``term`` — SHOULD (ranking only);
    * ``"a b c"`` — exact-phrase MUST (a one-word phrase degrades to a
      plain must term); negated phrases are refused loudly;
    * ``term~`` / ``term~2`` — fuzzy SHOULD with the given edit
      distance (default 1); signs on fuzzy terms are refused.

    Returns ``{"must": [...], "should": [...], "must_not": [...],
    "phrases": [[...], ...], "fuzzy": [(term, dist), ...]}`` — pure
    driver-side string work, no Spark."""
    must: list[str] = []
    should: list[str] = []
    must_not: list[str] = []
    phrases: list[list[str]] = []
    fuzzy: list[tuple[str, int]] = []

    def _phrase(m: re.Match) -> str:
        if m.group(1) == "-":
            raise ValueError("negated phrases are not supported")
        words = m.group(2).split()
        if not words:
            raise ValueError("empty phrase in query string")
        if len(words) == 1:
            must.append(words[0])
        else:
            phrases.append(words)
        return " "

    rest = _PHRASE_RE.sub(_phrase, qstr)
    if '"' in rest:
        raise ValueError(f"unbalanced quote in query string: {qstr!r}")
    for tok in rest.split():
        sign = ""
        if tok[0] in "+-":
            sign, tok = tok[0], tok[1:]
        fm = _FUZZY_RE.fullmatch(tok)
        if fm:
            if sign:
                raise ValueError(
                    f"fuzzy terms cannot carry +/-: {sign}{tok!r}")
            fuzzy.append((fm.group(1), int(fm.group(2) or 1)))
            continue
        if not tok:
            raise ValueError(f"dangling {sign!r} in query string")
        (must if sign == "+" else
         must_not if sign == "-" else should).append(tok)
    if not (must or should or phrases or fuzzy):
        raise ValueError("query string has no positive clause")
    return {"must": must, "should": should, "must_not": must_not,
            "phrases": phrases, "fuzzy": fuzzy}


def search_query_persisted(spark, path: str, qstr: str, top_k: int = 10,
                           k1: float = 1.2, b: float = 0.75,
                           max_expansion: int = 64,
                           num_buckets: int = DEFAULT_BUCKETS,
                           diagnostics: dict | None = None) -> DataFrame:
    """The full query-string surface compiled onto the persisted index:
    :func:`parse_query` splits the clauses, fuzzy terms expand within
    the vocabulary, phrases run through the persisted POSITIONAL index
    (operators/indexing.py:write_position_index must have been ingested
    at the same ``path``), and candidates = (all must terms) AND (every
    phrase) AND NOT (any must_not term) — with no must/phrase clause the
    candidate set is any-positive-term. Scoring is BM25 over every
    positive term: must + should + fuzzy expansions + the phrases'
    constituent words (a phrase is both a constraint and a scored
    clause, the Lucene convention), df counted before candidate
    restriction.

    Reads: one pruned postings scan for all positive terms, one pruned
    positional scan per phrase, one pruned scan for the must_not set,
    one vocabulary-sized dict scan per fuzzy term — everything
    tombstone-aware through the shared readers. Pass ``diagnostics``
    to receive the parse and the fuzzy expansions."""
    from etl_mark1_spark.operators.indexing import phrase_search_persisted

    q = parse_query(qstr)
    must = _fold_terms(spark, q["must"])
    must_not = _fold_terms(spark, q["must_not"])
    phrases = [_fold_terms(spark, p, ordered=True) for p in q["phrases"]]
    expansions: list[str] = []
    for term, dist in q["fuzzy"]:
        expansions.extend(expand_terms_fuzzy(
            spark, path, [term], max_dist=dist,
            max_expansion=max_expansion))
    should = _fold_terms(spark, q["should"] + expansions
                         + [w for p in phrases for w in p])
    should = [t for t in should if t not in set(must)]
    if diagnostics is not None:
        diagnostics["parsed"] = q
        diagnostics["expansions"] = sorted(set(expansions))
    positive = must + should
    if not positive:
        return spark.createDataFrame([], "doc_id bigint, bm25 double")
    n_docs, _, avgdl, _ = _corrected_index_stats(spark, path)
    post = read_search_postings(spark, path, positive,
                                num_buckets=num_buckets)
    dft = _term_df(post)
    cand = None
    if must:
        cand = (post.filter(F.col("token").isin(must))
                .groupBy("doc_id")
                .agg(F.count_distinct("token").alias("_nt"))
                .filter(F.col("_nt") == len(must))
                .select("doc_id"))
    for ph in phrases:
        phc = phrase_search_persisted(spark, path, ph,
                                      num_buckets=num_buckets
                                      ).select("doc_id")
        cand = phc if cand is None else cand.join(phc, "doc_id",
                                                  "left_semi")
    if cand is None:
        cand = post.select("doc_id").distinct()
    if must_not:
        excl = (read_search_postings(spark, path, must_not,
                                     num_buckets=num_buckets)
                .select("doc_id").distinct())
        cand = cand.join(excl, "doc_id", "left_anti")
    return _score_postings_bm25(post.join(cand, "doc_id", "left_semi"),
                                n_docs, avgdl, k1, b, top_k, dft=dft)


def facet_counts(spark, path: str, terms: Sequence[str],
                 metadata: DataFrame, facet_col: str,
                 top_k: int | None = None,
                 num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Facet counts for a search: documents matching ANY query term,
    counted per value of ``metadata``'s ``facet_col`` (the search-page
    sidebar: 'results by source/language/domain'). Returns
    (facet_col, n_docs) descending with facet tie-break.

    The index stores no document metadata (postings stay narrow), so
    facets join the MATCH-BOUNDED candidate id set against the caller's
    metadata frame on doc_id — a shuffle keyed by ids the pruned scan
    already bounded, never a corpus re-scan; the aggregation output is
    facet-cardinality-sized. Tombstoned docs never reach the join."""
    folded = _fold_terms(spark, terms)
    if not folded:
        raise ValueError("facet_counts needs at least one term")
    cand = (read_search_postings(spark, path, folded,
                                 num_buckets=num_buckets)
            .select("doc_id").distinct())
    out = (cand.join(metadata.select("doc_id", facet_col), "doc_id")
           .groupBy(facet_col)
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
           .orderBy(F.col("n_docs").desc(), F.col(facet_col)))
    return out.limit(top_k) if top_k is not None else out


def search_after_persisted(spark, path: str, terms: Sequence[str],
                           page_size: int = 10,
                           after: tuple[float, int] | None = None,
                           k1: float = 1.2, b: float = 0.75,
                           num_buckets: int = DEFAULT_BUCKETS
                           ) -> DataFrame:
    """Cursor pagination over persisted BM25 (the Elasticsearch
    ``search_after`` shape): page 1 is ``after=None``; every later page
    passes the previous page's LAST (bm25, doc_id) and receives the
    next ``page_size`` rows of the SAME total order — (bm25 desc,
    doc_id asc) is total, so the cursor predicate
    ``bm25 < s OR (bm25 = s AND doc_id > d)`` is exactly "rank >
    cursor" with no skipped or repeated rows, and cursor equality is
    safe because scores are 6dp-rounded before comparison everywhere.

    Unlike OFFSET pagination this never recounts skipped rows — the
    filter runs BEFORE the ordered limit
    (indexing.py:_scored_bm25_unordered), so page N costs the same
    one pruned scan + aggregation as page 1."""
    folded = _fold_terms(spark, terms)
    if not folded:
        raise ValueError("search_after_persisted needs at least one term")
    n_docs, _, avgdl, _ = _corrected_index_stats(spark, path)
    post = read_search_postings(spark, path, folded,
                                num_buckets=num_buckets)
    scored = _scored_bm25_unordered(post, n_docs, avgdl, k1, b)
    if after is not None:
        s, d = float(after[0]), int(after[1])
        scored = scored.filter(
            (F.col("bm25") < s)
            | ((F.col("bm25") == s) & (F.col("doc_id") > d)))
    return (scored.orderBy(F.col("bm25").desc(), F.col("doc_id"))
            .limit(page_size))


def index_stats(spark, path: str) -> DataFrame:
    """One-row operational report of a persisted index — (n_docs,
    vocab_size, n_postings, avgdl) — from METADATA artifacts only: the
    stats segments (tombstone-corrected n/avgdl) and the
    vocabulary-sized dict (vocab_size = distinct tokens; n_postings =
    sum of df, since every posting row increments exactly one token's
    df). The postings themselves are never scanned. Under tombstones
    vocab_size/n_postings are the ingest-time counts (upper bounds —
    per-token correction would need a postings scan); compaction
    resets them exactly."""
    n_docs, sum_dl, _, _ = _corrected_index_stats(spark, path)
    return (_read_dict(spark, path)
            .agg(F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
                 F.sum("df").cast("bigint").alias("n_postings"))
            .select(F.lit(n_docs).cast("bigint").alias("n_docs"),
                    "vocab_size", "n_postings",
                    F.round(F.lit(sum_dl).cast("double") / F.lit(n_docs),
                            6).alias("avgdl")))


def bm25_search_many(spark, path: str, queries: dict[str, Sequence[str]],
                     top_k: int = 10, k1: float = 1.2, b: float = 0.75,
                     num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """BATCH retrieval: many queries against the persisted index in ONE
    pass — the offline-evaluation shape (nightly regression suites,
    relevance-label refreshes, query-log replays score thousands of
    queries; one job per query would pay the scan/stats/scheduling
    overhead thousands of times). Returns (qid, doc_id, bm25) with at
    most ``top_k`` rows per qid, ordered (qid, bm25 desc, doc_id) —
    per-query results are EXACTLY what :func:`bm25_search_persisted`
    returns for that query's terms (parity pinned in tests).

    One pruned postings read covers the UNION of all query terms; the
    (qid, term) map broadcasts (query-set-sized); scoring aggregates
    per (qid, doc) — a term shared by two queries is scanned once and
    scored twice via the map join, never re-read. Per-term df is
    counted once from the pruned union scan (df is a global per-token
    count, so the union scan and any single-query scan agree). The
    per-qid top-k is a window PARTITIONED by qid — parallelism scales
    with the query batch, no global sort."""
    from pyspark.sql.window import Window

    if not queries:
        raise ValueError("bm25_search_many needs at least one query")
    folded = {qid: _fold_terms(spark, terms) for qid, terms in queries.items()}
    if any(not terms for terms in folded.values()):
        raise ValueError("every query needs at least one term")
    all_terms = sorted({t for terms in folded.values() for t in terms})
    n_docs, _, avgdl, _ = _corrected_index_stats(spark, path)
    post = read_search_postings(spark, path, all_terms,
                                num_buckets=num_buckets)
    qmap = spark.createDataFrame(
        [(qid, t) for qid, terms in sorted(folded.items()) for t in terms],
        "qid string, token string")
    scored = (post.join(F.broadcast(_term_df(post)), "token")
              .join(F.broadcast(qmap), "token")
              .groupBy("qid", "doc_id")
              .agg(F.round(F.sum(_bm25_idf(n_docs, F.col("_df"))
                                 * _bm25_norm(avgdl, k1, b)),
                           6).alias("bm25")))
    w = Window.partitionBy("qid").orderBy(F.col("bm25").desc(),
                                          F.col("doc_id"))
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= top_k).drop("_rn")
            .orderBy("qid", F.col("bm25").desc(), F.col("doc_id")))


def serp_page(spark, path: str, terms: Sequence[str], top_k: int = 5,
              width: int = 20, k1: float = 1.2, b: float = 0.75,
              num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """A complete search-results page off the persisted indexes: BM25
    top-``top_k`` joined with each hit's best proximity snippet window
    (operators/indexing.py:best_window_persisted — requires the
    positional artifact at the same ``path``). Returns (doc_id, bm25,
    snippet_start, n_hits) ranked. The snippet side computes windows
    only for postings of the query terms and the join keys on the
    top-k ids, so the page costs one term-bucket scan per artifact —
    the composition is exactly what a search frontend renders, pinned
    here so the two operators stay joinable."""
    from etl_mark1_spark.operators.indexing import best_window_persisted

    folded = _fold_terms(spark, terms)
    ranked = bm25_search_persisted(spark, path, folded, top_k=top_k,
                                   k1=k1, b=b, num_buckets=num_buckets)
    snips = best_window_persisted(spark, path, list(folded), width=width,
                                  num_buckets=num_buckets)
    return (ranked.join(snips, "doc_id", "left")
            .select("doc_id", "bm25",
                    F.col("snippet_start").cast("bigint")
                    .alias("snippet_start"),
                    F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint")
                    .alias("n_hits"))
            .orderBy(F.col("bm25").desc(), F.col("doc_id")))
