"""Query language over the persisted search index
(operators/retrieval.py): boolean must/should/must_not, fuzzy
expansion, more-like-this, pseudo-relevance feedback, prefix
autocomplete — semantics hand-checked on a tiny corpus, parity with the
plain BM25 paths, pruned-plan and tombstone interaction pinned."""

import math

import pytest
from pyspark.sql import functions as F

from etl_mark1_spark.operators.indexing import (bm25_search_persisted,
                                                delete_from_index,
                                                write_search_index)
from etl_mark1_spark.operators.retrieval import (boolean_search_persisted,
                                                 complete_prefix,
                                                 expand_terms_fuzzy,
                                                 fuzzy_search_persisted,
                                                 more_like_this_persisted,
                                                 prf_search_persisted)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown cat sleeps"),
    (3, "a lazy dog and a lazy cat"),
    (4, "fox fox fox"),
    (5, "completely unrelated words here"),
]
TOKS = {i: t.split() for i, t in DOCS}


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


@pytest.fixture()
def idx(spark, tmp_path):
    path = str(tmp_path / "qidx")
    write_search_index(_docs(spark), path, num_buckets=16)
    return path


def _py_bm25(terms, doc_ids=None, k1=1.2, b=0.75, weights=None):
    """Reference BM25 over TOKS — corpus stats always over ALL docs,
    per-term df corpus-wide; optional doc restriction and per-term
    weights mirror the boolean/PRF semantics."""
    n = len(TOKS)
    avgdl = sum(len(t) for t in TOKS.values()) / n
    out = {}
    for d, toks in TOKS.items():
        if doc_ids is not None and d not in doc_ids:
            continue
        s = 0.0
        for term in set(terms):
            tf = toks.count(term)
            if tf == 0:
                continue
            df = sum(1 for t in TOKS.values() if term in t)
            idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
            norm = tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(toks) / avgdl))
            s += (weights or {}).get(term, 1.0) * idf * norm
        if s > 0 or (doc_ids is not None and d in doc_ids):
            out[d] = round(s, 6)
    return sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))


def test_boolean_must_should_must_not_semantics(spark, idx):
    """must = AND, must_not = NOT, should = ranking-only: candidates are
    docs with BOTH 'lazy' and 'dog' (1, 3) minus those with 'fox' (1) —
    doc 3 alone — and the score includes the should term 'cat'."""
    got = [(r["doc_id"], r["bm25"]) for r in
           boolean_search_persisted(spark, idx, must=["lazy", "dog"],
                                    should=["cat"], must_not=["fox"],
                                    num_buckets=16).collect()]
    assert got == _py_bm25(["lazy", "dog", "cat"], doc_ids={3})


def test_boolean_scores_equal_unrestricted_bm25(spark, idx):
    """A candidate's boolean score must equal its score under the plain
    BM25 query for the same terms (df counted BEFORE candidate
    restriction — restricting first would inflate idf)."""
    full = {r["doc_id"]: r["bm25"] for r in
            bm25_search_persisted(spark, idx, ["lazy", "dog", "cat"],
                                  top_k=5, num_buckets=16).collect()}
    got = boolean_search_persisted(spark, idx, must=["lazy"],
                                   should=["dog", "cat"],
                                   num_buckets=16).collect()
    assert got  # docs 1 and 3
    for r in got:
        assert r["bm25"] == full[r["doc_id"]]


def test_boolean_no_must_is_disjunctive_and_empty_args_raise(spark, idx):
    got = {r["doc_id"] for r in
           boolean_search_persisted(spark, idx, should=["fox", "cat"],
                                    num_buckets=16).collect()}
    assert got == {1, 2, 3, 4}
    with pytest.raises(ValueError, match="at least one"):
        boolean_search_persisted(spark, idx, must_not=["fox"],
                                 num_buckets=16)


def test_boolean_honors_tombstones(spark, idx):
    """Deleting candidate doc 3 removes it AND re-corrects the corpus
    stats: the surviving candidate's score equals a fresh index built
    from the survivors."""
    delete_from_index(spark, idx, [3])
    got = [(r["doc_id"], r["bm25"]) for r in
           boolean_search_persisted(spark, idx, must=["lazy"],
                                    num_buckets=16).collect()]
    assert [d for d, _ in got] == [1]
    import tempfile
    fresh = tempfile.mkdtemp(prefix="etl_mark1_test_bool_")
    write_search_index(_docs(spark).filter(F.col("doc_id") != 3), fresh,
                       num_buckets=16)
    want = [(r["doc_id"], r["bm25"]) for r in
            boolean_search_persisted(spark, fresh, must=["lazy"],
                                     num_buckets=16).collect()]
    assert got == want


def test_fuzzy_expansion_matches_python_levenshtein(spark, idx):
    """The expansion equals the Levenshtein-1 neighborhood of the query
    within the vocabulary, computed independently in Python."""

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    vocab = {t for toks in TOKS.values() for t in toks}
    for q in (["fix"], ["lazyy", "dogs"], ["qqq"]):
        want = sorted({v for v in vocab if any(lev(v, t) <= 1 for t in q)})
        assert expand_terms_fuzzy(spark, idx, q, max_dist=1) == want


def test_fuzzy_search_equals_bm25_over_expansion(spark, idx):
    """fuzzy('fix') expands to {fox} and must score exactly like the
    corrected query; an unmatchable typo returns an EMPTY frame (zero
    hits is a result, not an error)."""
    got = [(r["doc_id"], r["bm25"]) for r in
           fuzzy_search_persisted(spark, idx, ["fix"],
                                  num_buckets=16).collect()]
    want = [(r["doc_id"], r["bm25"]) for r in
            bm25_search_persisted(spark, idx, ["fox"], top_k=10,
                                  num_buckets=16).collect()]
    assert got == want and got
    empty = fuzzy_search_persisted(spark, idx, ["qqqqq"], num_buckets=16)
    assert empty.collect() == []
    assert [f.name for f in empty.schema.fields] == ["doc_id", "bm25"]


def test_fuzzy_expansion_cap_refuses_loudly(spark, idx):
    with pytest.raises(ValueError, match="max_expansion"):
        # distance 2 from 'cat' reaches many of the short tokens
        expand_terms_fuzzy(spark, idx, ["cat"], max_dist=3,
                           max_expansion=2)


def test_more_like_this_selects_tfidf_terms_and_excludes_seed(spark, idx):
    """Seed doc 1: 'the' (tf 2) and the tf-1 terms rank by idf — the
    python recompute pins the exact selection (6dp weight, token
    tie-break); the seed never appears in the results."""
    n, terms = len(TOKS), TOKS[1]
    weights = {}
    for t in set(terms):
        df = sum(1 for x in TOKS.values() if t in x)
        weights[t] = round(terms.count(t)
                           * math.log(1 + (n - df + 0.5) / (df + 0.5)), 6)
    want = [t for t, _ in sorted(weights.items(),
                                 key=lambda kv: (-kv[1], kv[0]))][:3]
    diag = {}
    got = more_like_this_persisted(spark, idx, 1, n_seed_terms=3,
                                   num_buckets=16,
                                   diagnostics=diag).collect()
    assert diag["seed_terms"] == want
    ids = [r["doc_id"] for r in got]
    assert 1 not in ids and ids
    # scores equal the plain query for the selected terms, minus seed
    full = {r["doc_id"]: r["bm25"] for r in
            bm25_search_persisted(spark, idx, want, top_k=10,
                                  num_buckets=16).collect()}
    for r in got:
        assert r["bm25"] == full[r["doc_id"]]


def test_more_like_this_missing_doc_is_empty(spark, idx):
    out = more_like_this_persisted(spark, idx, 999, num_buckets=16)
    assert out.collect() == []


def test_prf_expansion_hand_computed(spark, idx):
    """Query 'fox': feedback = {4, 1} (fox-heavy first); expansion
    candidates from those docs exclude 'fox'; 'the' (tf 2 in doc 1)
    outweighs the tf-1 terms, which tie and break alphabetically."""
    diag = {}
    got = prf_search_persisted(spark, idx, ["fox"], fb_docs=2, fb_terms=3,
                               beta=0.5, num_buckets=16,
                               diagnostics=diag).collect()
    assert diag["fb_ids"] == [4, 1]
    n = len(TOKS)
    weights = {}
    for t in set(TOKS[4] + TOKS[1]) - {"fox"}:
        stf = TOKS[4].count(t) + TOKS[1].count(t)
        df = sum(1 for x in TOKS.values() if t in x)
        weights[t] = round(stf * math.log(1 + (n - df + 0.5) / (df + 0.5)),
                           6)
    want = [t for t, _ in sorted(weights.items(),
                                 key=lambda kv: (-kv[1], kv[0]))][:3]
    assert diag["expansion_terms"] == want
    # final scores match the python weighted-BM25 reference
    ref = _py_bm25(["fox"] + want,
                   weights={**{t: 0.5 for t in want}, "fox": 1.0})
    assert [(r["doc_id"], r["bm25"]) for r in got] == ref


def test_prf_without_expansion_equals_plain_bm25(spark, idx):
    got = [(r["doc_id"], r["bm25"]) for r in
           prf_search_persisted(spark, idx, ["lazy", "dog"], fb_docs=2,
                                fb_terms=0, num_buckets=16).collect()]
    want = [(r["doc_id"], r["bm25"]) for r in
            bm25_search_persisted(spark, idx, ["lazy", "dog"], top_k=10,
                                  num_buckets=16).collect()]
    assert got == want and got


def test_prf_no_feedback_hits_is_empty(spark, idx):
    out = prf_search_persisted(spark, idx, ["zzz"], num_buckets=16)
    assert out.collect() == []


def test_complete_prefix_counts_and_sums_across_segments(spark, tmp_path):
    """df ranks completions and SUMS across two disjoint segments —
    the dict artifact's algebraic-merge property, checked by hand."""
    path = str(tmp_path / "pidx")
    docs = _docs(spark)
    write_search_index(docs.filter(F.col("doc_id") <= 2), path,
                       num_buckets=16)
    write_search_index(docs.filter(F.col("doc_id") > 2), path,
                       num_buckets=16)
    got = [(r["token"], r["df"]) for r in
           complete_prefix(spark, path, "c").collect()]
    assert got == [("cat", 2), ("completely", 1)]
    assert complete_prefix(spark, path, "zz").collect() == []


def test_query_plans_prune_and_stay_off_the_corpus(spark, idx):
    """The scoring scans carry the bucket partition filter; the
    dict-only paths (expansion, autocomplete) never list the postings
    directory."""
    out = boolean_search_persisted(spark, idx, must=["lazy"],
                                   should=["dog"], num_buckets=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in plan \
        or "PartitionFilters: [isnotnull(bucket" in plan, plan

    comp = complete_prefix(spark, idx, "c")
    cplan = comp._jdf.queryExecution().executedPlan().toString()
    # the only scan is the dict artifact (token, df) with the prefix
    # pushed to the reader; the postings columns never appear
    assert "StringStartsWith(token,c)" in cplan, cplan
    assert "ReadSchema: struct<token:string,df:bigint>" in cplan, cplan
    assert "doc_id" not in cplan and "tf" not in cplan, cplan


def test_shared_catalog_index_is_built_once(spark):
    from etl_mark1_spark.catalog import query_side

    query_side._SHARED_INDEX.clear()
    p1 = query_side._shared_index(spark, "/root/testdata/sf0.001")
    p2 = query_side._shared_index(spark, "/root/testdata/sf0.001")
    assert p1 == p2
    query_side._SHARED_INDEX.clear()


# ---------------------------------------------------------------- tranche 2


def test_parse_query_full_grammar():
    from etl_mark1_spark.operators.retrieval import parse_query

    q = parse_query('+hash "hash join" -dup merge scann~ fix~2 "solo"')
    # clause membership is set-semantics; one-word phrase degrades to must
    assert sorted(q["must"]) == ["hash", "solo"]
    assert q["should"] == ["merge"]
    assert q["must_not"] == ["dup"]
    assert q["phrases"] == [["hash", "join"]]
    assert q["fuzzy"] == [("scann", 1), ("fix", 2)]


def test_parse_query_refusals():
    from etl_mark1_spark.operators.retrieval import parse_query

    for bad in ('-"a b"', '"a b', '""', "+", "-", "+term~", ""):
        with pytest.raises(ValueError):
            parse_query(bad)


@pytest.fixture()
def posidx(spark, tmp_path):
    from etl_mark1_spark.operators.indexing import write_position_index

    path = str(tmp_path / "qsidx")
    write_search_index(_docs(spark), path, num_buckets=16)
    write_position_index(_docs(spark), path, num_buckets=16)
    return path


def test_query_string_search_compiles_all_clauses(spark, posidx):
    """'+quick "quick brown" -fox cat': candidates need 'quick' AND the
    adjacent bigram, minus fox docs -> doc 2 alone; scoring covers the
    must term, the phrase words, and the should term."""
    from etl_mark1_spark.operators.retrieval import search_query_persisted

    diag = {}
    got = [(r["doc_id"], r["bm25"]) for r in
           search_query_persisted(spark, posidx,
                                  '+quick "quick brown" -fox cat',
                                  num_buckets=16,
                                  diagnostics=diag).collect()]
    assert diag["parsed"]["phrases"] == [["quick", "brown"]]
    assert got == _py_bm25(["quick", "brown", "cat"], doc_ids={2})


def test_query_string_fuzzy_clause_joins_scoring(spark, posidx):
    """'fix~' alone: expansion {fox} scores disjunctively — identical
    to the plain corrected query."""
    from etl_mark1_spark.operators.retrieval import search_query_persisted

    diag = {}
    got = [(r["doc_id"], r["bm25"]) for r in
           search_query_persisted(spark, posidx, "fix~", num_buckets=16,
                                  diagnostics=diag).collect()]
    assert diag["expansions"] == ["fox"]
    want = [(r["doc_id"], r["bm25"]) for r in
            bm25_search_persisted(spark, posidx, ["fox"], top_k=10,
                                  num_buckets=16).collect()]
    assert got == want and got


def test_query_string_phrase_only_query_scores_phrase_words(spark, posidx):
    """A pure-phrase query still ranks by BM25 over the phrase's words
    (the Lucene convention: a phrase is constraint AND scored clause)."""
    from etl_mark1_spark.operators.retrieval import search_query_persisted

    got = [(r["doc_id"], r["bm25"]) for r in
           search_query_persisted(spark, posidx, '"lazy dog"',
                                  num_buckets=16).collect()]
    # docs 1 and 3 contain the bigram "lazy dog"
    assert got == _py_bm25(["lazy", "dog"], doc_ids={1, 3})


def test_facet_counts_hand_checked(spark, idx):
    from etl_mark1_spark.operators.retrieval import facet_counts

    meta = spark.createDataFrame(
        [(1, "web"), (2, "web"), (3, "books"), (4, "web"), (5, "books")],
        ["doc_id", "source"])
    got = [(r["source"], r["n_docs"]) for r in
           facet_counts(spark, idx, ["lazy", "fox"], meta,
                        "source", num_buckets=16).collect()]
    # matches: docs 1, 3, 4 -> web 2 (docs 1, 4), books 1 (doc 3)
    assert got == [("web", 2), ("books", 1)]
    with pytest.raises(ValueError, match="at least one"):
        facet_counts(spark, idx, [], meta, "source")


def test_search_after_pages_partition_the_ranking(spark, idx):
    """Pages of size 2 concatenate to exactly the full top-k ranking —
    no skipped, no repeated rows; the page after the last is empty."""
    from etl_mark1_spark.operators.retrieval import search_after_persisted

    full = [(r["doc_id"], r["bm25"]) for r in
            bm25_search_persisted(spark, idx, ["lazy", "fox"], top_k=10,
                                  num_buckets=16).collect()]
    pages, after = [], None
    for _ in range(4):
        page = [(r["doc_id"], r["bm25"]) for r in
                search_after_persisted(spark, idx, ["lazy", "fox"],
                                       page_size=2, after=after,
                                       num_buckets=16).collect()]
        if not page:
            break
        pages.extend(page)
        after = (page[-1][1], page[-1][0])
    assert pages == full and len(full) == 3


def test_index_stats_hand_counted_and_tombstone_corrected(spark, idx):
    from etl_mark1_spark.operators.retrieval import index_stats

    vocab = {t for toks in TOKS.values() for t in toks}
    n_postings = sum(len(set(toks)) for toks in TOKS.values())
    total = sum(len(toks) for toks in TOKS.values())
    row = index_stats(spark, idx).collect()[0]
    assert (row["n_docs"], row["vocab_size"], row["n_postings"]) == \
        (5, len(vocab), n_postings)
    assert row["avgdl"] == round(total / 5, 6)
    # tombstones correct n_docs/avgdl exactly; vocab/posting counts stay
    # the documented ingest-time upper bound
    delete_from_index(spark, idx, [4])
    row2 = index_stats(spark, idx).collect()[0]
    assert row2["n_docs"] == 4
    assert row2["avgdl"] == round((total - len(TOKS[4])) / 4, 6)
    assert row2["vocab_size"] == len(vocab)


def test_parse_query_roundtrip_hypothesis():
    """Property: any query RENDERED from a clause structure parses back
    to exactly that structure (set-wise for membership clauses)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_mark1_spark.operators.retrieval import parse_query

    word = st.text(alphabet="abcdefghij", min_size=1, max_size=6)
    clause = st.one_of(
        st.tuples(st.just("must"), word),
        st.tuples(st.just("should"), word),
        st.tuples(st.just("must_not"), word),
        st.tuples(st.just("phrase"),
                  st.lists(word, min_size=2, max_size=4)),
        st.tuples(st.just("fuzzy"), st.tuples(word, st.integers(1, 3))),
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(clause, min_size=1, max_size=8))
    def check(clauses):
        parts, want = [], {"must": [], "should": [], "must_not": [],
                           "phrases": [], "fuzzy": []}
        for kind, val in clauses:
            if kind == "must":
                parts.append("+" + val)
                want["must"].append(val)
            elif kind == "should":
                parts.append(val)
                want["should"].append(val)
            elif kind == "must_not":
                parts.append("-" + val)
                want["must_not"].append(val)
            elif kind == "phrase":
                parts.append('"' + " ".join(val) + '"')
                want["phrases"].append(list(val))
            else:
                parts.append(f"{val[0]}~{val[1]}")
                want["fuzzy"].append(val)
        if all(kind == "must_not" for kind, _ in clauses):
            # exclusion-only queries are (correctly) refused
            with pytest.raises(ValueError, match="no positive clause"):
                parse_query(" ".join(parts))
            return
        got = parse_query(" ".join(parts))
        for k in ("must", "should", "must_not"):
            assert sorted(got[k]) == sorted(want[k])
        assert sorted(map(tuple, got["phrases"])) == \
            sorted(map(tuple, want["phrases"]))
        assert sorted(got["fuzzy"]) == sorted(want["fuzzy"])

    check()


def test_batch_search_matches_per_query_path(spark, idx):
    """Every qid's rows in the one-pass batch equal the per-query
    bm25_search_persisted output exactly — union-scan df, broadcast
    (qid, term) map, and per-qid window change nothing."""
    from etl_mark1_spark.operators.retrieval import bm25_search_many

    queries = {"a": ["lazy", "dog"], "b": ["fox"], "c": ["zzz"]}
    got = {}
    for r in bm25_search_many(spark, idx, queries, top_k=3,
                              num_buckets=16).collect():
        got.setdefault(r["qid"], []).append((r["doc_id"], r["bm25"]))
    for qid, terms in queries.items():
        want = [(r["doc_id"], r["bm25"]) for r in
                bm25_search_persisted(spark, idx, terms, top_k=3,
                                      num_buckets=16).collect()]
        assert got.get(qid, []) == want, qid
    assert "c" not in got  # no-hit query contributes no rows
    with pytest.raises(ValueError, match="at least one query"):
        bm25_search_many(spark, idx, {}, num_buckets=16)
    with pytest.raises(ValueError, match="at least one term"):
        bm25_search_many(spark, idx, {"a": []}, num_buckets=16)


def test_serp_page_joins_ranking_with_snippets(spark, posidx):
    """The composed results page equals the two operators run
    separately and joined — and every ranked hit carries its window."""
    from etl_mark1_spark.operators.indexing import best_window_persisted
    from etl_mark1_spark.operators.retrieval import serp_page

    got = [(r["doc_id"], r["bm25"], r["snippet_start"], r["n_hits"])
           for r in serp_page(spark, posidx, ["lazy", "fox"], top_k=3,
                              width=5, num_buckets=16).collect()]
    ranked = {r["doc_id"]: r["bm25"] for r in
              bm25_search_persisted(spark, posidx, ["lazy", "fox"],
                                    top_k=3, num_buckets=16).collect()}
    snips = {r["doc_id"]: (r["snippet_start"], r["n_hits"]) for r in
             best_window_persisted(spark, posidx, ["lazy", "fox"],
                                   width=5, num_buckets=16).collect()}
    assert got and len(got) == len(ranked)
    for doc_id, bm25, start, hits in got:
        assert bm25 == ranked[doc_id]
        assert (start, hits) == snips[doc_id]
        assert hits >= 1  # a ranked hit always has a window
