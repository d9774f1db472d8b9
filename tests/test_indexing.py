"""Inverted-index lifecycle (operators/indexing.py) and IVF index
persistence/incremental-add (operators/similarity.py): build/merge
identities, partition-pruned lookups, doubling search for the longest
duplicated span."""

import random

import pytest
from pyspark.sql import functions as F

from etl_mark1_spark.operators.indexing import (build_postings,
                                                conjunctive_search,
                                                longest_dup_span,
                                                lookup_term,
                                                merge_dictionaries,
                                                merge_postings,
                                                postings_dictionary,
                                                read_postings_index,
                                                write_postings_index)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown cat sleeps"),
    (3, "a lazy dog and a lazy cat"),
    (4, "fox fox fox"),
    (5, "completely unrelated words here"),
]


def _docs(spark, rows=None):
    return spark.createDataFrame(rows or DOCS, ["doc_id", "text"])


def _as_dict(df):
    return {(r["token"], r.get("doc_id", None) if hasattr(r, "get")
             else r["doc_id"] if "doc_id" in r.__fields__ else None): r
            for r in df.collect()}


def test_build_postings_term_frequencies(spark):
    got = {(r["token"], r["doc_id"]): r["tf"]
           for r in build_postings(_docs(spark)).collect()}
    assert got[("the", 1)] == 2
    assert got[("fox", 4)] == 3
    assert got[("fox", 1)] == 1
    assert ("", 1) not in got


def test_merge_of_disjoint_shards_equals_direct_build(spark):
    """merge(build(A), build(B), ...) == build(A ∪ B) — the identity
    that makes per-batch index builds composable. Randomized sharding."""
    rng = random.Random(7)
    rows = [(i, " ".join(rng.choice(["alpha", "beta", "gamma", "delta"])
                         for _ in range(rng.randint(1, 12))))
            for i in range(1, 41)]
    df = _docs(spark, rows)
    direct = {(r["token"], r["doc_id"]): r["tf"]
              for r in build_postings(df).collect()}
    shards = [build_postings(df.filter(F.col("doc_id") % 3 == k))
              for k in range(3)]
    merged = {(r["token"], r["doc_id"]): r["tf"]
              for r in merge_postings(*shards).collect()}
    assert merged == direct
    d_direct = {r["token"]: (r["df"], r["cf"]) for r in
                postings_dictionary(build_postings(df)).collect()}
    d_merged = {r["token"]: (r["df"], r["cf"]) for r in
                merge_dictionaries(
                    *[postings_dictionary(s) for s in shards]).collect()}
    assert d_merged == d_direct


def test_merge_postings_reaggregates_reingested_doc(spark):
    """A doc indexed in two segments must re-sum, not duplicate."""
    seg = build_postings(_docs(spark, [(1, "fox fox")]))
    merged = {r["token"]: r["tf"]
              for r in merge_postings(seg, seg).collect()}
    assert merged == {"fox": 4}


def test_persisted_index_lookup_prunes_partitions(spark, tmp_path):
    path = str(tmp_path / "idx")
    write_postings_index(build_postings(_docs(spark)), path, num_buckets=8)
    idx = read_postings_index(spark, path)
    hits = lookup_term(idx, "lazy", num_buckets=8)
    got = {(r["doc_id"]): r["tf"] for r in hits.collect()}
    assert got == {1: 1, 3: 2}
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan, plan


def test_persisted_index_append_segment(spark, tmp_path):
    path = str(tmp_path / "idx")
    write_postings_index(build_postings(_docs(spark)), path, num_buckets=8)
    write_postings_index(
        build_postings(_docs(spark, [(9, "lazy summer")])), path,
        num_buckets=8)
    idx = read_postings_index(spark, path)
    got = {r["doc_id"]: r["tf"]
           for r in lookup_term(idx, "lazy", num_buckets=8).collect()}
    assert got == {1: 1, 3: 2, 9: 1}


def test_persisted_index_lookup_non_ascii_terms(spark, tmp_path):
    """Non-ASCII query terms fold through the ENGINE's lower() before
    bucket hashing, so the driver-side bucket matches what the index
    wrote (round-12 ADVICE fix: a Python-side fold can disagree with
    Spark's on Unicode edge cases and silently miss the partition)."""
    path = str(tmp_path / "idx_u")
    rows = [(1, "éclair and STRAßE bakery"), (2, "éclair ÉCLAIR twice")]
    write_postings_index(build_postings(_docs(spark, rows)), path,
                         num_buckets=8)
    idx = read_postings_index(spark, path)
    got = {r["doc_id"]: r["tf"]
           for r in lookup_term(idx, "ÉCLAIR", num_buckets=8).collect()}
    assert got == {1: 1, 2: 2}


def test_conjunctive_search_all_terms_ranked(spark):
    got = [(r["doc_id"], r["score"]) for r in
           conjunctive_search(build_postings(_docs(spark)),
                              ["lazy", "dog"]).orderBy("doc_id").collect()]
    # docs 1 and 3 contain both; doc 3 scores 2+1=3, doc 1 scores 1+1=2
    assert got == [(1, 2), (3, 3)]
    top = conjunctive_search(build_postings(_docs(spark)),
                             ["lazy", "dog"], top_k=1).collect()
    assert [(r["doc_id"], r["score"]) for r in top] == [(3, 3)]
    assert conjunctive_search(build_postings(_docs(spark)),
                              ["lazy", "unrelated"]).count() == 0


def test_longest_dup_span_finds_planted_run(spark):
    common = "one two three four five six seven"
    rows = [(1, f"prefix {common} suffix a"),
            (2, f"other start {common} tail"),
            (3, "no overlap at all whatsoever"),
            (4, "one two three unrelated continuation")]
    out = longest_dup_span(_docs(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["span"] == common and r["n_words"] == 7
    assert r["n_docs"] == 2 and r["min_doc"] == 1


def test_longest_dup_span_no_duplicates_is_empty(spark):
    rows = [(1, "alpha beta"), (2, "gamma delta")]
    out = longest_dup_span(_docs(spark, rows))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == \
        ["span", "n_words", "n_docs", "min_doc"]


def test_longest_dup_span_whole_doc_duplicate(spark):
    rows = [(1, "exact copy of text"), (2, "exact copy of text"),
            (3, "noise")]
    out = longest_dup_span(_docs(spark, rows)).collect()
    assert len(out) == 1 and out[0]["n_words"] == 4
    assert out[0]["span"] == "exact copy of text"


def test_longest_dup_span_max_len_is_a_hard_cap(spark):
    """A duplicate run LONGER than max_len reports as a max_len-word
    span — neither the answer nor any probe exceeds the cap (round-12
    ADVICE regression: previously a dup at exactly max_len let the
    binary search probe up to 2*max_len - 1)."""
    words = " ".join(f"w{i}" for i in range(10))       # 10-word dup run
    rows = [(1, words), (2, words)]
    out = longest_dup_span(_docs(spark, rows), max_len=4).collect()
    assert {r["n_words"] for r in out} == {4}
    # every 4-word window of the run duplicates: 10 - 4 + 1 spans
    assert len(out) == 7


# -- IVF lifecycle -----------------------------------------------------------

def _vec_rows(rng, n, dim=8, offset=0):
    return [(offset + i, [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(n)]


def test_ivf_assign_matches_numpy_argmin(spark):
    import numpy as np
    from etl_mark1_spark.operators.similarity import ivf_assign

    rng = random.Random(11)
    cents = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(5)]
    rows = _vec_rows(rng, 40)
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {r["vec_id"]: r["_centroid"]
           for r in ivf_assign(df, cents).collect()}
    c = np.array(cents)
    for vid, vec in rows:
        want = int(np.argmin(((c - np.array(vec)) ** 2).sum(axis=1)))
        assert got[vid] == want, vid


def test_ivf_persist_append_probe_round_trip(spark, tmp_path):
    from etl_mark1_spark.operators.similarity import (cosine_topk,
                                                      ivf_build,
                                                      ivf_index_append,
                                                      ivf_index_read,
                                                      ivf_index_write,
                                                      ivf_topk)

    rng = random.Random(23)
    base_rows = _vec_rows(rng, 60)
    delta_rows = _vec_rows(rng, 15, offset=100)
    base = spark.createDataFrame(base_rows,
                                 "vec_id int, embedding array<double>")
    delta = spark.createDataFrame(delta_rows,
                                  "vec_id int, embedding array<double>")
    path = str(tmp_path / "ivf")
    assigned, cents = ivf_build(base, num_centroids=4, seed=1)
    ivf_index_write(assigned, cents, path)
    ivf_index_append(spark, path, delta)
    reopened, cents2 = ivf_index_read(spark, path)
    for got_c, want_c in zip(cents2, cents):
        assert got_c == pytest.approx(want_c)
    assert reopened.count() == 75
    # full probe (nprobe = k centroids) must equal exact brute force
    # over base ∪ delta — persistence and append lose nothing
    q = [0.3] * 8
    everything = base.unionByName(delta)
    want = [(r["vec_id"], r["similarity"])
            for r in cosine_topk(everything, q, k=5).collect()]
    got = [(r["vec_id"], r["similarity"])
           for r in ivf_topk(reopened, cents2, q, k=5, nprobe=4).collect()]
    assert got == want
    # probe plan prunes the _centroid partitions
    pruned = ivf_topk(reopened, cents2, q, k=5, nprobe=2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_centroid" in plan


def test_positional_postings_positions(spark):
    from etl_mark1_spark.operators.indexing import build_positional_postings
    got = {(r["token"], r["doc_id"], r["pos"]) for r in
           build_positional_postings(
               _docs(spark, [(1, "a b a")])).collect()}
    assert got == {("a", 1, 1), ("b", 1, 2), ("a", 1, 3)}


def test_phrase_search_exact_and_repeated_tokens(spark):
    from etl_mark1_spark.operators.indexing import (
        build_positional_postings, phrase_search)
    rows = [(1, "the cat the dog the cat the"),   # "the cat the" at 1 and 5
            (2, "the cat sat"),                   # no "the cat the"
            (3, "cat the cat the cat"),           # at 2 (the cat the)
            (4, "x the cat the y the cat the")]   # at 2 and 6
    p = build_positional_postings(_docs(spark, rows))
    got = {r["doc_id"]: r["n_matches"] for r in
           phrase_search(p, ["the", "cat", "the"]).collect()}
    assert got == {1: 2, 3: 1, 4: 2}
    got2 = {r["doc_id"]: r["n_matches"] for r in
            phrase_search(p, ["the", "cat"]).collect()}
    assert got2 == {1: 2, 2: 1, 3: 2, 4: 2}
    single = {r["doc_id"]: r["n_matches"] for r in
              phrase_search(p, ["cat"]).collect()}
    assert single == {1: 2, 2: 1, 3: 3, 4: 2}
    assert phrase_search(p, ["absent", "words"]).count() == 0


def test_phrase_search_hypothesis_vs_python(spark):
    """Randomized parity: phrase_search over positional postings must
    equal a from-first-principles Python scan on random small-alphabet
    docs (small alphabet so phrases repeat and overlap)."""
    from etl_mark1_spark.operators.indexing import (
        build_positional_postings, phrase_search)

    rng = random.Random(101)
    alpha = ["a", "b", "c"]
    for trial in range(6):
        rows = [(i, " ".join(rng.choice(alpha)
                             for _ in range(rng.randint(1, 14))))
                for i in range(1, 16)]
        phrase = [rng.choice(alpha)
                  for _ in range(rng.randint(1, 3))]
        want = {}
        for i, text in rows:
            toks = text.split()
            n = sum(1 for p in range(len(toks) - len(phrase) + 1)
                    if toks[p:p + len(phrase)] == phrase)
            if n:
                want[i] = n
        p = build_positional_postings(_docs(spark, rows))
        got = {r["doc_id"]: r["n_matches"]
               for r in phrase_search(p, phrase).collect()}
        assert got == want, (trial, phrase, rows)


def test_l_diversity_audit_flags_low_diversity_groups(spark):
    from etl_mark1_spark.plans.quality import l_diversity_audit

    rows = [("g1", "x"), ("g1", "x"), ("g1", "x"),   # 1 sensitive value
            ("g2", "x"), ("g2", "y"),                # 2 values
            ("g3", "x"), ("g3", "y"), ("g3", "z")]   # 3 values
    df = spark.createDataFrame(rows, ["quasi", "sens"])
    got = {r["quasi"]: (r["group_size"], r["n_sensitive"]) for r in
           l_diversity_audit(df, ["quasi"], "sens", l=3).collect()}
    # g1 is 3-anonymous yet fails diversity; g3 passes
    assert got == {"g1": (3, 1), "g2": (2, 2)}
    assert l_diversity_audit(df, ["quasi"], "sens", l=1).count() == 0


def test_ivf_assign_numpy_path_parity(spark):
    """Above _IVF_EXPR_MAX_K centroids the numpy-matmul path must agree
    with the codegen expression path exactly (including low-id
    tie-break)."""
    import numpy as np
    from etl_mark1_spark.operators import similarity as sim

    rng = random.Random(17)
    cents = [[rng.uniform(-1, 1) for _ in range(6)] for _ in range(40)]
    rows = _vec_rows(rng, 50, dim=6)
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    assert len(cents) > sim._IVF_EXPR_MAX_K
    got = {r["vec_id"]: r["_centroid"]
           for r in sim.ivf_assign(df, cents).collect()}
    c = np.array(cents)
    for vid, vec in rows:
        want = int(np.argmin(((c - np.array(vec)) ** 2).sum(axis=1)))
        assert got[vid] == want, vid
    # and the two strategies agree on a shared subset of centroids
    small = cents[:8]
    expr = {r["vec_id"]: r["_centroid"]
            for r in sim.ivf_assign(df, small).collect()}
    forced = {r["vec_id"]: r["_centroid"]
              for r in sim._ivf_assign_numpy(df, small,
                                             "embedding").collect()}
    assert expr == forced


def test_phrase_and_conjunctive_over_persisted_pruned_index(spark, tmp_path):
    """The full persisted-query path: write positional postings
    bucket-partitioned, read back, prune to the query terms' buckets,
    and run both query shapes — results must equal the in-memory path
    and the scan must carry a bucket partition filter."""
    from etl_mark1_spark.operators.indexing import (
        build_positional_postings, build_postings, conjunctive_search,
        lookup_terms, phrase_search, read_postings_index,
        write_postings_index)

    pos_path, tf_path = str(tmp_path / "pos"), str(tmp_path / "tf")
    write_postings_index(build_positional_postings(_docs(spark)), pos_path,
                         num_buckets=16)
    write_postings_index(build_postings(_docs(spark)), tf_path,
                         num_buckets=16)

    pruned_pos = lookup_terms(read_postings_index(spark, pos_path),
                              ["quick", "brown"], num_buckets=16)
    got = {r["doc_id"]: r["n_matches"]
           for r in phrase_search(pruned_pos, ["quick", "brown"]).collect()}
    want = {r["doc_id"]: r["n_matches"]
            for r in phrase_search(build_positional_postings(_docs(spark)),
                                   ["quick", "brown"]).collect()}
    assert got == want == {1: 1, 2: 1}

    pruned_tf = lookup_terms(read_postings_index(spark, tf_path),
                             ["lazy", "dog"], num_buckets=16)
    got2 = {r["doc_id"]: r["score"]
            for r in conjunctive_search(pruned_tf, ["lazy", "dog"]).collect()}
    assert got2 == {1: 2, 3: 3}
    plan = pruned_tf._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan


# -- BM25 over the persisted index -------------------------------------------

def test_bm25_persisted_matches_from_corpus_path(spark, tmp_path):
    """write_search_index (two disjoint segments) + bm25_search_persisted
    must reproduce operators/corpus.py:bm25_topk score-exactly — the two
    retrieval paths are drop-in interchangeable."""
    from etl_mark1_spark.operators.corpus import bm25_topk
    from etl_mark1_spark.operators.indexing import (bm25_search_persisted,
                                                    write_search_index)

    path = str(tmp_path / "bmidx")
    docs = _docs(spark)
    write_search_index(docs.filter(F.col("doc_id") % 2 == 0), path,
                       num_buckets=16)
    write_search_index(docs.filter(F.col("doc_id") % 2 == 1), path,
                       num_buckets=16)
    got = [(r["doc_id"], r["bm25"]) for r in
           bm25_search_persisted(spark, path, ["lazy", "fox"], top_k=5,
                                 num_buckets=16).collect()]
    want = [(r["doc_id"], r["bm25"]) for r in
            bm25_topk(docs, ["lazy", "fox"], top_k=5).collect()]
    assert got == want
    # fox-heavy doc 4 first; docs 1 (both terms) and 3 (lazy twice) follow
    assert [d for d, _ in got] == [4, 1, 3]


def test_bm25_persisted_plan_prunes_buckets(spark, tmp_path):
    """The persisted BM25 query's postings scan must carry a bucket
    partition filter (only the query terms' buckets are read) and the
    stats read must be segment-count-sized."""
    from etl_mark1_spark.operators.indexing import (bm25_search_persisted,
                                                    write_search_index)

    path = str(tmp_path / "bmidx2")
    write_search_index(_docs(spark), path, num_buckets=16)
    out = bm25_search_persisted(spark, path, ["lazy"], top_k=3,
                                num_buckets=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan, plan
    # stats segment: one (n_docs, sum_dl) row per write_search_index call
    stats = spark.read.parquet(path + "/stats").collect()
    assert len(stats) == 1
    assert stats[0]["n_docs"] == 5


def test_bm25_persisted_empty_index_raises_clearly(spark, tmp_path):
    """An index whose every ingested batch held only empty-text
    documents has n_docs=0/NULL stats; querying it must raise a clear
    ValueError, not an opaque int(None) TypeError (round-12 ADVICE
    regression)."""
    from etl_mark1_spark.operators.indexing import (bm25_search_persisted,
                                                    write_search_index)

    path = str(tmp_path / "bmidx_empty")
    write_search_index(_docs(spark, [(1, ""), (2, "   ")]), path,
                       num_buckets=8)
    with pytest.raises(ValueError, match="contains no documents"):
        bm25_search_persisted(spark, path, ["anything"], num_buckets=8)


def test_write_search_index_stats_merge_algebraically(spark, tmp_path):
    """Two segment writes append two stats rows whose sums equal the
    whole-corpus stats — n and avgdl never need a history rewrite."""
    from etl_mark1_spark.operators.indexing import write_search_index

    path = str(tmp_path / "bmidx3")
    docs = _docs(spark)
    write_search_index(docs.filter(F.col("doc_id") <= 2), path)
    write_search_index(docs.filter(F.col("doc_id") > 2), path)
    rows = spark.read.parquet(path + "/stats").collect()
    assert len(rows) == 2
    assert sum(r["n_docs"] for r in rows) == 5
    total_tokens = sum(len(t.split()) for _, t in DOCS)
    assert sum(r["sum_dl"] for r in rows) == total_tokens


# -- proximity snippet window -------------------------------------------------

def test_best_window_picks_densest_and_earliest(spark):
    from etl_mark1_spark.operators.indexing import (best_window,
                                                    build_positional_postings)

    rows = [
        # terms spread out, then a dense cluster later
        (1, "fox " + "x " * 30 + "fox dog fox " + "y " * 30 + "dog"),
        # tie between two equally dense windows -> earliest start wins
        (2, "fox dog " + "z " * 40 + "fox dog"),
        (3, "nothing here"),
    ]
    pos = build_positional_postings(
        spark.createDataFrame(rows, ["doc_id", "text"]))
    got = {r["doc_id"]: (r["snippet_start"], r["n_hits"])
           for r in best_window(pos, ["fox", "dog"], width=5).collect()}
    # doc 1: cluster "fox dog fox" at positions 32,33,34 -> 3 hits @32
    assert got[1] == (32, 3)
    # doc 2: both windows have 2 hits; earliest start is pos 1
    assert got[2] == (1, 2)
    assert 3 not in got


def test_best_window_validates_args(spark):
    from etl_mark1_spark.operators.indexing import (best_window,
                                                    build_positional_postings)

    pos = build_positional_postings(
        spark.createDataFrame([(1, "a b")], ["doc_id", "text"]))
    with pytest.raises(ValueError):
        best_window(pos, [])
    with pytest.raises(ValueError):
        best_window(pos, ["a"], width=0)


# -- query-likelihood ranking -------------------------------------------------

def test_qlm_matches_textbook_computation(spark):
    """qlm_topk's prior-relative rearrangement must equal the textbook
    per-(doc, term) Dirichlet score computed in python."""
    import math

    from etl_mark1_spark.operators.indexing import (postings_dictionary,
                                                    qlm_topk)

    p = build_postings(_docs(spark))
    doclens = p.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    terms, mu = ["lazy", "fox"], 50.0
    got = {r["doc_id"]: r["ql_score"] for r in
           qlm_topk(p, postings_dictionary(p), doclens, terms,
                    top_k=10, mu=mu).collect()}

    rows = {(r["token"], r["doc_id"]): r["tf"] for r in p.collect()}
    dls = {d: sum(tf for (t, dd), tf in rows.items() if dd == d)
           for d in {dd for _, dd in rows}}
    csize = sum(rows.values())
    cf = {t: sum(tf for (tt, _), tf in rows.items() if tt == t)
          for t in terms}
    want = {}
    for d in dls:
        if not any((t, d) in rows for t in terms):
            continue
        want[d] = round(sum(
            math.log((rows.get((t, d), 0) + mu * cf[t] / csize)
                     / (dls[d] + mu)) for t in terms), 6)
    assert got == want
    # ranking property: doc 4 (fox fox fox, short) tops a fox query
    top = qlm_topk(p, postings_dictionary(p), doclens, ["fox"],
                   top_k=1, mu=50.0).collect()
    assert top[0]["doc_id"] == 4


def test_qlm_rejects_unknown_terms(spark):
    from etl_mark1_spark.operators.indexing import (postings_dictionary,
                                                    qlm_topk)

    p = build_postings(_docs(spark))
    doclens = p.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    with pytest.raises(ValueError):
        qlm_topk(p, postings_dictionary(p), doclens, ["zzzznope"])
    with pytest.raises(ValueError):
        qlm_topk(p, postings_dictionary(p), doclens, [])


# -- tombstone deletion + compaction ------------------------------------------

def test_delete_then_query_equals_build_from_survivors(spark, tmp_path):
    """delete_from_index + bm25_search_persisted must reproduce a BM25
    over ONLY the surviving documents, score-exactly — n/avgdl correct
    from the tombstones' stored dl, df recounts from surviving pruned
    postings. Double deletes and unknown-id deletes are harmless."""
    from etl_mark1_spark.operators.corpus import bm25_topk
    from etl_mark1_spark.operators.indexing import (bm25_maxscore_search,
                                                    bm25_search_persisted,
                                                    delete_from_index,
                                                    write_search_index)

    path = str(tmp_path / "didx")
    docs = _docs(spark)
    write_search_index(docs, path, num_buckets=8)
    delete_from_index(spark, path, [1, 4])
    # double delete + an id the index never held
    delete_from_index(spark, path, [4, 999])
    surviving = docs.filter(~F.col("doc_id").isin([1, 4]))
    want = [(r["doc_id"], r["bm25"]) for r in
            bm25_topk(surviving, ["lazy", "fox"], top_k=5).collect()]
    got = [(r["doc_id"], r["bm25"]) for r in
           bm25_search_persisted(spark, path, ["lazy", "fox"], top_k=5,
                                 num_buckets=8).collect()]
    assert got == want
    assert all(d not in (1, 4) for d, _ in got)
    # the MaxScore path honors tombstones identically
    ms = [(r["doc_id"], r["bm25"]) for r in
          bm25_maxscore_search(spark, path, ["lazy", "fox"], top_k=5,
                               num_buckets=8).collect()]
    assert ms == want


def test_delete_everything_raises_clearly(spark, tmp_path):
    from etl_mark1_spark.operators.indexing import (bm25_search_persisted,
                                                    delete_from_index,
                                                    write_search_index)

    path = str(tmp_path / "didx_all")
    write_search_index(_docs(spark, [(1, "only doc")]), path, num_buckets=8)
    delete_from_index(spark, path, [1])
    with pytest.raises(ValueError, match="no surviving documents"):
        bm25_search_persisted(spark, path, ["only"], num_buckets=8)


def test_compact_applies_tombstones_and_queries_skip_them(spark, tmp_path):
    """compact_index rewrites survivors into a fresh tombstone-free
    index: query results equal the tombstone path, and the compacted
    query plan carries NO anti-join and never lists the deletes path —
    compaction resets query cost to the fast path."""
    from etl_mark1_spark.operators.indexing import (bm25_search_persisted,
                                                    compact_index,
                                                    delete_from_index,
                                                    write_search_index)

    src, dst = str(tmp_path / "cidx"), str(tmp_path / "cidx_out")
    docs = _docs(spark)
    write_search_index(docs.filter(F.col("doc_id") <= 3), src, num_buckets=8)
    write_search_index(docs.filter(F.col("doc_id") > 3), src, num_buckets=8)
    delete_from_index(spark, src, [1])
    want = [(r["doc_id"], r["bm25"]) for r in
            bm25_search_persisted(spark, src, ["lazy", "fox"], top_k=5,
                                  num_buckets=8).collect()]
    compact_index(spark, src, dst, num_buckets=8)
    out = bm25_search_persisted(spark, dst, ["lazy", "fox"], top_k=5,
                                num_buckets=8)
    assert [(r["doc_id"], r["bm25"]) for r in out.collect()] == want
    import os

    assert not os.path.exists(dst + "/deletes")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan and "deletes" not in plan, plan
    # compacted stats collapse to one fresh segment row
    stats = spark.read.parquet(dst + "/stats").collect()
    assert len(stats) == 1 and stats[0]["n_docs"] == 4
    # compaction can re-bucket: query at the new bucket count
    dst2 = str(tmp_path / "cidx_out16")
    compact_index(spark, src, dst2, num_buckets=16)
    got2 = [(r["doc_id"], r["bm25"]) for r in
            bm25_search_persisted(spark, dst2, ["lazy", "fox"], top_k=5,
                                  num_buckets=16).collect()]
    assert got2 == want


def test_compact_carries_positions(spark, tmp_path):
    """A positional segment compacts in the same pass: tombstoned docs'
    position rows drop, survivors' phrase results are unchanged."""
    from etl_mark1_spark.operators.indexing import (compact_index,
                                                    delete_from_index,
                                                    phrase_search_persisted,
                                                    write_position_index,
                                                    write_search_index)

    src, dst = str(tmp_path / "pidx"), str(tmp_path / "pidx_out")
    docs = _docs(spark)
    write_search_index(docs, src, num_buckets=8)
    write_position_index(docs, src, num_buckets=8)
    delete_from_index(spark, src, [1])
    compact_index(spark, src, dst, num_buckets=8)
    got = {r["doc_id"]: r["n_matches"] for r in
           phrase_search_persisted(spark, dst, ["lazy", "dog"],
                                   num_buckets=8).collect()}
    assert got == {3: 1}  # doc 1's "lazy dog" is gone with the tombstone


# -- persisted positional postings --------------------------------------------

def test_positional_persisted_parity_and_pruning(spark, tmp_path):
    """phrase_search_persisted / best_window_persisted must equal the
    in-memory path exactly (the roll-to-array + explode round-trip is
    lossless), the scan must prune to the query terms' buckets, and
    tombstones must apply."""
    from etl_mark1_spark.operators.indexing import (
        best_window, best_window_persisted, build_positional_postings,
        delete_from_index, phrase_search, phrase_search_persisted,
        read_position_postings, write_position_index, write_search_index)

    path = str(tmp_path / "posidx")
    docs = _docs(spark)
    write_search_index(docs, path, num_buckets=8)   # stats + tf postings
    # two document-disjoint positional segments
    write_position_index(docs.filter(F.col("doc_id") <= 2), path,
                         num_buckets=8)
    write_position_index(docs.filter(F.col("doc_id") > 2), path,
                         num_buckets=8)
    mem = build_positional_postings(docs)
    want_ph = {r["doc_id"]: r["n_matches"] for r in
               phrase_search(mem, ["quick", "brown"]).collect()}
    got_ph = {r["doc_id"]: r["n_matches"] for r in
              phrase_search_persisted(spark, path, ["quick", "brown"],
                                      num_buckets=8).collect()}
    assert got_ph == want_ph == {1: 1, 2: 1}
    want_bw = {r["doc_id"]: (r["snippet_start"], r["n_hits"]) for r in
               best_window(mem, ["lazy", "cat"], width=4).collect()}
    got_bw = {r["doc_id"]: (r["snippet_start"], r["n_hits"]) for r in
              best_window_persisted(spark, path, ["lazy", "cat"], width=4,
                                    num_buckets=8).collect()}
    assert got_bw == want_bw
    pruned = read_position_postings(spark, path, ["lazy"], num_buckets=8)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan, plan
    # tombstones hide a doc's positions too
    delete_from_index(spark, path, [1])
    after = {r["doc_id"]: r["n_matches"] for r in
             phrase_search_persisted(spark, path, ["quick", "brown"],
                                     num_buckets=8).collect()}
    assert after == {2: 1}


# -- MaxScore early termination -----------------------------------------------

def _skewed_corpus(spark, n=80):
    """A corpus with one rare high-idf term ('needle', 4 docs) and a
    stopword ('filler', every doc) — the shape MaxScore exists for."""
    rows = []
    for i in range(1, n + 1):
        base = "filler common words everywhere " * 3
        if i % 20 == 0:
            rows.append((i, f"needle {base} needle extra"))
        else:
            rows.append((i, f"{base} tail {i % 7}"))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_maxscore_equals_exhaustive_on_skewed_query(spark, tmp_path):
    """Rank-safety: bm25_maxscore_search returns EXACTLY the exhaustive
    rows/scores, while terminating after the rare term (one essential
    round, candidate ids pushed into the stopword's scan)."""
    from etl_mark1_spark.operators.indexing import (bm25_maxscore_search,
                                                    bm25_search_persisted,
                                                    write_search_index)

    path = str(tmp_path / "msidx")
    docs = _skewed_corpus(spark)
    write_search_index(docs, path, num_buckets=8)
    diag: dict = {}
    got = bm25_maxscore_search(spark, path, ["needle", "filler"], top_k=3,
                               num_buckets=8, diagnostics=diag)
    want = bm25_search_persisted(spark, path, ["needle", "filler"],
                                 top_k=3, num_buckets=8)
    assert [(r["doc_id"], r["bm25"]) for r in got.collect()] == \
        [(r["doc_id"], r["bm25"]) for r in want.collect()]
    # pruning fired: one round, essential = the rare term only, and the
    # 4 candidate ids were pushed — the stopword's 80 postings never
    # entered candidate generation
    assert diag["rounds"] == 1
    assert diag["essential_terms"] == ["needle"]
    assert diag["pushed"] and diag["n_candidates"] == 4


def test_maxscore_equals_exhaustive_on_adversarial_queries(spark, tmp_path):
    """Equality must hold whether or not early termination helps:
    all-common queries (termination never fires), single terms, absent
    terms, k larger than the corpus."""
    from etl_mark1_spark.operators.indexing import (bm25_maxscore_search,
                                                    bm25_search_persisted,
                                                    write_search_index)

    path = str(tmp_path / "msidx2")
    write_search_index(_docs(spark), path, num_buckets=8)
    for terms, k in ([["the", "quick", "lazy"], 3],
                     [["fox"], 2], [["lazy", "dog"], 10],
                     [["the", "fox", "cat", "dog"], 4]):
        got = [(r["doc_id"], r["bm25"]) for r in
               bm25_maxscore_search(spark, path, terms, top_k=k,
                                    num_buckets=8).collect()]
        want = [(r["doc_id"], r["bm25"]) for r in
                bm25_search_persisted(spark, path, terms, top_k=k,
                                      num_buckets=8).collect()]
        assert got == want, terms
    assert bm25_maxscore_search(spark, path, ["zzznope"],
                                num_buckets=8).count() == 0


def test_maxscore_semi_join_path_above_pushdown_cap(spark, tmp_path):
    """Above max_pushdown the candidate set switches to a left-semi
    join; results stay identical."""
    from etl_mark1_spark.operators.indexing import (bm25_maxscore_search,
                                                    bm25_search_persisted,
                                                    write_search_index)

    path = str(tmp_path / "msidx3")
    docs = _skewed_corpus(spark)
    write_search_index(docs, path, num_buckets=8)
    diag: dict = {}
    got = [(r["doc_id"], r["bm25"]) for r in
           bm25_maxscore_search(spark, path, ["needle", "filler"], top_k=3,
                                num_buckets=8, max_pushdown=2,
                                diagnostics=diag).collect()]
    want = [(r["doc_id"], r["bm25"]) for r in
            bm25_search_persisted(spark, path, ["needle", "filler"],
                                  top_k=3, num_buckets=8).collect()]
    assert got == want
    assert not diag["pushed"]


# -- QLM through the persisted index ------------------------------------------

def test_qlm_persisted_matches_in_memory_path(spark, tmp_path):
    """qlm_search_persisted must equal qlm_topk over in-memory frames
    built from the same corpus — |C| reconstructed from the stats
    segments, cf from pruned postings — and honor tombstones (deleted
    docs leave both the candidates and the collection model)."""
    from etl_mark1_spark.operators.indexing import (delete_from_index,
                                                    postings_dictionary,
                                                    qlm_search_persisted,
                                                    qlm_topk,
                                                    write_search_index)

    path = str(tmp_path / "qlmidx")
    docs = _docs(spark)
    write_search_index(docs.filter(F.col("doc_id") <= 2), path,
                       num_buckets=8)
    write_search_index(docs.filter(F.col("doc_id") > 2), path,
                       num_buckets=8)
    p = build_postings(docs)
    doclens = p.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    want = [(r["doc_id"], r["ql_score"]) for r in
            qlm_topk(p, postings_dictionary(p), doclens, ["lazy", "fox"],
                     top_k=10, mu=50.0).collect()]
    got = [(r["doc_id"], r["ql_score"]) for r in
           qlm_search_persisted(spark, path, ["lazy", "fox"], top_k=10,
                                mu=50.0, num_buckets=8).collect()]
    assert got == want
    # tombstones: equals the in-memory path over the SURVIVING corpus
    delete_from_index(spark, path, [4])
    surv = docs.filter(F.col("doc_id") != 4)
    ps = build_postings(surv)
    dls = ps.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    want_d = [(r["doc_id"], r["ql_score"]) for r in
              qlm_topk(ps, postings_dictionary(ps), dls, ["lazy", "fox"],
                       top_k=10, mu=50.0).collect()]
    got_d = [(r["doc_id"], r["ql_score"]) for r in
             qlm_search_persisted(spark, path, ["lazy", "fox"], top_k=10,
                                  mu=50.0, num_buckets=8).collect()]
    assert got_d == want_d
    with pytest.raises(ValueError, match="absent"):
        qlm_search_persisted(spark, path, ["zzznope"], num_buckets=8)


# -- idempotent streaming segment writes --------------------------------------

def test_write_search_index_segment_idempotent(spark, tmp_path):
    """Writing the same (batch, seg) twice must leave the index
    byte-identical to writing it once (dynamic partition overwrite) —
    the property that makes a foreachBatch epoch replay heal instead of
    double-appending."""
    from etl_mark1_spark.operators.corpus import bm25_topk
    from etl_mark1_spark.operators.indexing import (bm25_search_persisted,
                                                    write_search_index_segment)

    path = str(tmp_path / "segidx")
    docs = _docs(spark)
    write_search_index_segment(docs, path, seg="tag-0", num_buckets=8)
    before = spark.read.parquet(path + "/postings").count()
    write_search_index_segment(docs, path, seg="tag-0", num_buckets=8)
    assert spark.read.parquet(path + "/postings").count() == before
    assert spark.read.parquet(path + "/stats").count() == 1
    # a second DISTINCT segment appends; queries see both
    write_search_index_segment(
        _docs(spark, [(9, "lazy extra")]), path, seg="tag-1", num_buckets=8)
    got = [(r["doc_id"], r["bm25"]) for r in
           bm25_search_persisted(spark, path, ["lazy"], top_k=5,
                                 num_buckets=8).collect()]
    want = [(r["doc_id"], r["bm25"]) for r in
            bm25_topk(docs.unionByName(_docs(spark, [(9, "lazy extra")])),
                      ["lazy"], top_k=5).collect()]
    assert got == want


def test_index_ingest_sink_two_drains_and_replay(spark, tmp_path):
    """Streaming docs into the search index: a drain indexes the
    available files; a second drain from the SAME checkpoint picks up
    only NEW files (replaying nothing); the final index answers BM25
    exactly like a batch-built index over all drained docs."""
    import shutil

    from etl_mark1_spark.operators.corpus import bm25_topk
    from etl_mark1_spark.operators.indexing import bm25_search_persisted
    from etl_mark1_spark.streaming.events import index_ingest_sink

    src = str(tmp_path / "docs_src")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "stream_idx")
    docs = _docs(spark)
    first = docs.filter(F.col("doc_id") <= 3)
    second = docs.filter(F.col("doc_id") > 3)
    first.coalesce(1).write.parquet(src)

    def stream():
        return (spark.readStream
                .schema("doc_id bigint, text string")
                .format("parquet").load(src))

    index_ingest_sink(stream(), idx, checkpoint=ckpt, num_buckets=8)
    mid = [(r["doc_id"], r["bm25"]) for r in
           bm25_search_persisted(spark, idx, ["lazy"], top_k=5,
                                 num_buckets=8).collect()]
    assert mid == [(r["doc_id"], r["bm25"]) for r in
                   bm25_topk(first, ["lazy"], top_k=5).collect()]
    # drain again with NO new files: nothing changes
    n_before = spark.read.parquet(idx + "/postings").count()
    index_ingest_sink(stream(), idx, checkpoint=ckpt, num_buckets=8)
    assert spark.read.parquet(idx + "/postings").count() == n_before
    # new files arrive; the same checkpoint drains only them
    tmp2 = str(tmp_path / "docs_src2")
    second.coalesce(1).write.parquet(tmp2)
    for f in __import__("os").listdir(tmp2):
        if f.endswith(".parquet"):
            shutil.copy(f"{tmp2}/{f}", f"{src}/{f}")
    index_ingest_sink(stream(), idx, checkpoint=ckpt, num_buckets=8)
    got = [(r["doc_id"], r["bm25"]) for r in
           bm25_search_persisted(spark, idx, ["lazy", "fox"], top_k=5,
                                 num_buckets=8).collect()]
    want = [(r["doc_id"], r["bm25"]) for r in
            bm25_topk(docs, ["lazy", "fox"], top_k=5).collect()]
    assert got == want


# -- declared artifact schemas and the per-query job budget ------------------

def _job_stages(spark, run, all_stages=False):
    """The first stage name of each job ``run()`` launches, in job order
    (a job group scopes the jobs to this call); with ``all_stages``,
    each job's list of stage names instead."""
    import uuid

    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc._jsc.clearJobGroup()
    tracker = sc.statusTracker()
    names = []
    for job in sorted(tracker.getJobIdsForGroup(group)):
        stages = [tracker.getStageInfo(s)
                  for s in sorted(tracker.getJobInfo(job).stageIds)]
        names.append([s.name for s in stages if s] if all_stages
                     else next((s.name for s in stages if s), "?"))
    return names


def test_persisted_queries_stay_within_job_budget(spark, sf_dir, tmp_path):
    """Opening a persisted index costs no job of its own: artifacts read
    with declared schemas (no schema-inference job), and the stats and
    tombstone rows come back in one action. Pins each query kind's job
    count on a 2-segment, tombstoned index."""
    from etl_mark1_spark.operators.indexing import (bm25_maxscore_search,
                                                    bm25_search_persisted,
                                                    delete_from_index,
                                                    write_search_index)
    from etl_mark1_spark.operators.retrieval import (prf_search_persisted,
                                                     search_query_persisted)

    path = str(tmp_path / "budget_idx")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    write_search_index(docs.filter(F.col("doc_id") % 2 == 0), path)
    write_search_index(docs.filter(F.col("doc_id") % 2 == 1), path)
    delete_from_index(spark, path, [0, 3, 8, 11])
    delete_from_index(spark, path, [3, 21])  # a double delete
    terms = ["dup", "the", "join"]
    budget = {
        "bm25": (6, lambda: bm25_search_persisted(spark, path, terms)),
        "query_string": (11, lambda: search_query_persisted(
            spark, path, "+dup the window -join")),
        "maxscore": (13, lambda: bm25_maxscore_search(spark, path, terms)),
        "prf": (16, lambda: prf_search_persisted(spark, path, ["dup"])),
    }
    for kind, (limit, query) in budget.items():
        stages = _job_stages(spark, lambda: query().collect())
        assert len(stages) <= limit, (kind, stages)
        assert not any(s.startswith("parquet at") for s in stages), (
            kind, stages)


def test_index_artifacts_use_declared_schemas(spark, tmp_path):
    """Writers cast to the declared artifact schemas (an int doc_id
    persists as bigint), and the streaming ``seg`` layout reads through
    the same schemas with its partition columns appended."""
    from etl_mark1_spark.operators.corpus import bm25_topk
    from etl_mark1_spark.operators.indexing import (
        ARTIFACT_COLUMNS, bm25_search_persisted, delete_from_index,
        phrase_search_persisted, read_artifact, write_position_index,
        write_search_index, write_search_index_segment)

    docs = spark.createDataFrame(DOCS, "doc_id int, text string")
    flat, segs = str(tmp_path / "flat"), str(tmp_path / "segs")
    write_search_index(docs, flat, num_buckets=8)
    write_position_index(docs, flat, num_buckets=8)
    delete_from_index(spark, flat, [1])
    for part, cols in ARTIFACT_COLUMNS.items():
        on_disk = spark.read.parquet(f"{flat}/{part}").schema
        assert [(f.name, f.dataType.simpleString()) for f in on_disk
                if f.name != "bucket"] == list(cols), part
    got = [(r["doc_id"], r["bm25"]) for r in
           bm25_search_persisted(spark, flat, ["lazy", "fox"], top_k=5,
                                 num_buckets=8).collect()]
    want = [(r["doc_id"], r["bm25"]) for r in
            bm25_topk(_docs(spark).filter(F.col("doc_id") != 1),
                      ["lazy", "fox"], top_k=5).collect()]
    assert got == want
    assert {r["doc_id"] for r in phrase_search_persisted(
        spark, flat, ["lazy", "dog"], num_buckets=8).collect()} == {3}

    write_search_index_segment(docs.filter(F.col("doc_id") <= 2), segs,
                               seg="s0", num_buckets=8)
    write_search_index_segment(docs.filter(F.col("doc_id") > 2), segs,
                               seg="s1", num_buckets=8)
    postings = read_artifact(spark, segs, "postings")
    assert postings.columns == ["token", "doc_id", "tf", "dl", "bucket",
                                "seg"]
    assert sorted(r["seg"] for r in read_artifact(spark, segs, "stats")
                  .collect()) == ["s0", "s1"]
    got = [(r["doc_id"], r["bm25"]) for r in
           bm25_search_persisted(spark, segs, ["lazy", "fox"], top_k=5,
                                 num_buckets=8).collect()]
    want = [(r["doc_id"], r["bm25"]) for r in
            bm25_topk(_docs(spark), ["lazy", "fox"], top_k=5).collect()]
    assert got == want


def test_index_writes_keep_the_callers_job_group(spark, tmp_path):
    """The concurrent artifact writes run in the caller's job group:
    the group holds the jobs of all three artifact writes, and none of
    them runs without a group."""
    from etl_mark1_spark.operators.indexing import write_search_index

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("index-write", "write_search_index")
    try:
        write_search_index(_docs(spark), str(tmp_path / "grouped"),
                           num_buckets=8)
    finally:
        sc._jsc.clearJobGroup()
    assert len(tracker.getJobIdsForGroup("index-write")) >= 3
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def _artifact_rows(spark, path, part):
    """Sorted rows of one artifact, layout columns but ``seg`` kept."""
    from etl_mark1_spark.operators.indexing import read_artifact

    df = read_artifact(spark, path, part)
    return sorted(tuple(r) for r in df.drop("seg").collect())


def test_index_writers_persist_identical_artifacts(spark, tmp_path):
    """For the same surviving documents, write_search_index, the
    streaming segment writer (segments merged) and compact_index of a
    two-segment index with one delete persist the same postings, stats
    sums, dict and positions."""
    from etl_mark1_spark.operators.indexing import (
        compact_index, delete_from_index, read_artifact, write_position_index,
        write_search_index, write_search_index_segment)

    docs = _docs(spark, DOCS + [(6, "the dog and the fox"), (7, "")])
    live = docs.filter(F.col("doc_id") != 1)
    flat, segs, src, packed = (str(tmp_path / d) for d in
                               ("flat", "segs", "src", "packed"))
    write_search_index(live, flat, num_buckets=8)
    write_position_index(live, flat, num_buckets=8)
    for i, part in enumerate((live.filter(F.col("doc_id") <= 4),
                              live.filter(F.col("doc_id") > 4))):
        write_search_index_segment(part, segs, seg=f"s{i}", num_buckets=8)
    for part in (docs.filter(F.col("doc_id") % 2 == 0),
                 docs.filter(F.col("doc_id") % 2 == 1)):
        write_search_index(part, src, num_buckets=8)
        write_position_index(part, src, num_buckets=8)
    delete_from_index(spark, src, [1])
    compact_index(spark, src, packed, num_buckets=8)

    def stats(path):
        return tuple(read_artifact(spark, path, "stats")
                     .agg(F.sum("n_docs"), F.sum("sum_dl")).first())

    def merged_dict(path):
        return sorted(tuple(r) for r in read_artifact(spark, path, "dict")
                      .groupBy("token", "bucket")
                      .agg(F.sum("df").alias("df"),
                           F.max("max_tf").alias("max_tf"),
                           F.min("min_dl").alias("min_dl"))
                      .select("token", "df", "max_tf", "min_dl", "bucket")
                      .collect())

    want = {p: _artifact_rows(spark, flat, p)
            for p in ("postings", "dict", "positions")}
    assert want["postings"] and want["positions"]
    assert stats(flat) == stats(segs) == stats(packed) == (5, 24)
    assert _artifact_rows(spark, segs, "postings") == want["postings"]
    assert merged_dict(segs) == want["dict"]
    for part, rows in want.items():
        assert _artifact_rows(spark, packed, part) == rows, part


def test_ivf_tombstone_read_launches_no_schema_inference_job(spark,
                                                             tmp_path):
    """The IVF tombstones open with a declared schema: reading them
    launches no job, and a probe after ivf_delete launches no more
    ``parquet at`` jobs than the probe before it (the vector and
    centroid reads)."""
    from etl_mark1_spark.operators.segments import _read_tombstones
    from etl_mark1_spark.operators.similarity import (ivf_build, ivf_delete,
                                                      ivf_index_write,
                                                      ivf_topk_persisted)

    vecs = spark.createDataFrame(_vec_rows(random.Random(5), 30),
                                 "vec_id int, embedding array<double>")
    path = str(tmp_path / "ivf_tomb")
    assigned, cents = ivf_build(vecs, num_centroids=3, seed=1)
    ivf_index_write(assigned, cents, path)

    def schema_jobs():
        stages = _job_stages(spark, lambda: ivf_topk_persisted(
            spark, path, [0.1] * 8, k=5).collect())
        return [s for s in stages if s.startswith("parquet at")]

    before = schema_jobs()
    ivf_delete(spark, path, vecs.filter(F.col("vec_id") < 3))
    assert _job_stages(spark, lambda: _read_tombstones(
        spark, path, "vec_id bigint")) == []
    assert schema_jobs() == before
    assert spark.read.parquet(path + "/deletes").schema.simpleString() \
        == "struct<vec_id:bigint>"


def test_ivf_open_and_probe_stay_within_job_budget(spark, tmp_path):
    """Opening a persisted vector index infers only the schema that has
    no declaration: the vectors (or IVF-PQ codes), which keep the
    caller's columns. The centroid table reads with its declared schema
    as one single-stage job, and the tombstone broadcast reads the
    deletes directly, with no aggregate or shuffle under it."""
    from etl_mark1_spark.operators.similarity import (ivf_build, ivf_delete,
                                                      ivf_index_read,
                                                      ivf_index_write,
                                                      ivf_topk_persisted,
                                                      ivfpq_index_read,
                                                      ivfpq_index_write)

    vecs = spark.createDataFrame(_vec_rows(random.Random(3), 200),
                                 "vec_id int, embedding array<double>")
    ivf, pq = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")
    assigned, cents = ivf_build(vecs, num_centroids=4, seed=1)
    ivf_index_write(assigned, cents, ivf)
    ivf_delete(spark, ivf, [0, 5, 9])
    ivf_delete(spark, ivf, [5])  # a double delete

    def schema_jobs(run):
        return [s for s in _job_stages(spark, run)
                if s.startswith("parquet at")]

    probes = []

    def probe():
        probes.append(ivf_topk_persisted(spark, ivf, [0.1] * 8, k=5))
        probes[-1].collect()

    assert len(schema_jobs(probe)) == 1
    jobs = _job_stages(spark, lambda: ivf_index_read(spark, ivf),
                       all_stages=True)
    assert [len(stages) for stages in jobs] == [1, 1], jobs
    plan = probes[-1]._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    at = next(i for i, ln in enumerate(lines) if "BroadcastExchange" in ln)
    depth = len(lines[at]) - len(lines[at].lstrip(" :+-"))
    below = []
    for ln in lines[at + 1:]:
        if len(ln) - len(ln.lstrip(" :+-")) <= depth:
            break
        below.append(ln)
    assert below and not any("Exchange" in ln for ln in below), plan

    ivfpq_index_write(vecs, pq, num_centroids=4, m=2, ksub=4, seed=1)
    assert len(schema_jobs(lambda: ivfpq_index_read(spark, pq))) == 1


def test_segment_report_hand_counted(spark):
    import hashlib

    from etl_mark1_spark.operators.indexing import segment_report

    p = build_postings(_docs(spark, [(1, "fox fox dog"), (2, "fox cat")]))
    got = {r["bucket"]: (r["n_tokens"], r["n_postings"], r["total_tf"],
                         r["max_df"])
           for r in segment_report(p, num_buckets=8).collect()}

    def b(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % 8

    # tokens: fox (df 2, cf 3), dog (1, 1), cat (1, 1)
    want = {}
    for tok, df, cf in [("fox", 2, 3), ("dog", 1, 1), ("cat", 1, 1)]:
        n, np_, tf, mx = want.get(b(tok), (0, 0, 0, 0))
        want[b(tok)] = (n + 1, np_ + df, tf + cf, max(mx, df))
    assert got == want


def test_ivf_delete_then_probe_equals_survivors(spark, tmp_path):
    """Tombstone deletion on the persisted IVF index
    (operators/similarity.py:ivf_delete): a full probe after deleting
    every 3rd vector equals exact brute force over the survivors —
    and a double delete of the same ids changes nothing."""
    from etl_mark1_spark.operators.similarity import (cosine_topk,
                                                      ivf_build,
                                                      ivf_delete,
                                                      ivf_index_write,
                                                      ivf_topk_persisted)

    rng = random.Random(7)
    rows = _vec_rows(rng, 50)
    vecs = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    path = str(tmp_path / "ivfdel")
    assigned, cents = ivf_build(vecs, num_centroids=4, seed=1)
    ivf_index_write(assigned, cents, path)
    doomed = [vid for vid, _ in rows if vid % 3 == 0]
    ivf_delete(spark, path, doomed)
    q = [0.2] * 8
    survivors = vecs.filter(~F.col("vec_id").isin(doomed))
    want = [(r["vec_id"], r["similarity"])
            for r in cosine_topk(survivors, q, k=7).collect()]
    got = [(r["vec_id"], r["similarity"])
           for r in ivf_topk_persisted(spark, path, q, k=7).collect()]
    assert got == want
    ivf_delete(spark, path, doomed)  # double delete is harmless
    again = [(r["vec_id"], r["similarity"])
             for r in ivf_topk_persisted(spark, path, q, k=7).collect()]
    assert again == want
    with pytest.raises(ValueError, match="at least one"):
        ivf_delete(spark, path, [])


def test_ivf_compact_applies_tombstones_and_keeps_pruning(spark, tmp_path):
    """Compaction rewrites survivors under the SAME centroids with no
    deletes directory; probes at the compacted path match the
    tombstone path and still prune centroid partitions."""
    import os

    from etl_mark1_spark.operators.similarity import (ivf_build,
                                                      ivf_compact,
                                                      ivf_delete,
                                                      ivf_index_read,
                                                      ivf_index_write,
                                                      ivf_topk,
                                                      ivf_topk_persisted)

    rng = random.Random(19)
    vecs = spark.createDataFrame(_vec_rows(rng, 40),
                                 "vec_id int, embedding array<double>")
    path, dest = str(tmp_path / "src"), str(tmp_path / "dst")
    assigned, cents = ivf_build(vecs, num_centroids=4, seed=2)
    ivf_index_write(assigned, cents, path)
    ivf_delete(spark, path, [0, 1, 2, 3, 4])
    q = [-0.1] * 8
    want = [(r["vec_id"], r["similarity"])
            for r in ivf_topk_persisted(spark, path, q, k=5).collect()]
    ivf_compact(spark, path, dest)
    assert not os.path.exists(dest + "/deletes")
    got = [(r["vec_id"], r["similarity"])
           for r in ivf_topk_persisted(spark, dest, q, k=5).collect()]
    assert got == want
    compacted, cents2 = ivf_index_read(spark, dest)
    for got_c, want_c in zip(cents2, cents):
        assert got_c == pytest.approx(want_c)   # no refit
    assert compacted.count() == 35
    pruned = ivf_topk(compacted, cents2, q, k=5, nprobe=2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_centroid" in plan


def test_hybrid_text_vector_fusion_hand_computed(spark, tmp_path):
    """RRF fusion of persisted BM25 and persisted IVF cosine
    (operators/ranking.py:hybrid_text_vector_search) against a python
    recompute of both rankings and the 1/(60+rank) sum — including a
    doc deleted from BOTH indexes vanishing from the fused page."""
    import math as m

    from etl_mark1_spark.operators.indexing import (delete_from_index,
                                                    write_search_index)
    from etl_mark1_spark.operators.ranking import hybrid_text_vector_search
    from etl_mark1_spark.operators.similarity import (ivf_build,
                                                      ivf_delete,
                                                      ivf_index_write)

    docs = [(1, "the quick brown fox"), (2, "lazy dog sleeps"),
            (3, "quick quick fox"), (4, "dog dog dog"),
            (5, "unrelated words")]
    toks = {i: t.split() for i, t in docs}
    vrows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]),
             (4, [0.5, 0.5]), (5, [0.95, 0.05])]
    tpath, vpath = str(tmp_path / "txt"), str(tmp_path / "vec")
    write_search_index(spark.createDataFrame(docs, ["doc_id", "text"]),
                       tpath, num_buckets=16)
    assigned, cents = ivf_build(
        spark.createDataFrame(vrows, "vec_id int, embedding array<double>"),
        num_centroids=2, seed=3)
    ivf_index_write(assigned, cents, vpath)

    def py_bm25(terms):
        n, avgdl = 5, sum(len(t) for t in toks.values()) / 5
        out = {}
        for d, tk in toks.items():
            s = 0.0
            for term in set(terms):
                tf = tk.count(term)
                if not tf:
                    continue
                df = sum(1 for x in toks.values() if term in x)
                s += (m.log(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
                      / (tf + 1.2 * (0.25 + 0.75 * len(tk) / avgdl)))
            if s > 0:
                out[d] = round(s, 6)
        return sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))

    def py_cos(q, rows):
        out = {}
        for vid, v in rows:
            dp = sum(a * b for a, b in zip(q, v))
            na = m.sqrt(sum(a * a for a in q))
            nb = m.sqrt(sum(b * b for b in v))
            out[vid] = round(dp / (na * nb), 6)
        return sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))

    def py_rrf(*rankings):
        acc = {}
        for ranking in rankings:
            for rank, (d, _) in enumerate(ranking, 1):
                acc[d] = acc.get(d, 0.0) + 1.0 / (60 + rank)
        return sorted(((d, round(s, 6)) for d, s in acc.items()),
                      key=lambda kv: (-kv[1], kv[0]))

    q = [1.0, 0.2]
    want = py_rrf(py_bm25(["quick", "dog"]), py_cos(q, vrows))
    got = [(r["doc_id"], r["rrf_score"]) for r in
           hybrid_text_vector_search(spark, tpath, vpath,
                                     ["quick", "dog"], q, top_n=10,
                                     top_k=10, num_buckets=16).collect()]
    assert got == want
    # takedown deleted from BOTH sides vanishes with no rebuild
    delete_from_index(spark, tpath, [1])
    ivf_delete(spark, vpath, [1])
    fused = {r["doc_id"] for r in
             hybrid_text_vector_search(spark, tpath, vpath,
                                       ["quick", "dog"], q, top_n=10,
                                       top_k=10, num_buckets=16).collect()}
    assert 1 not in fused and fused


def test_ivf_write_segment_idempotent_and_pruning_kept(spark, tmp_path):
    """Writing the same (batch, seg) twice leaves the vector index
    unchanged (dynamic partition overwrite); distinct segments append;
    centroid pruning survives the extra seg partition column."""
    from etl_mark1_spark.operators.similarity import (cosine_topk,
                                                      ivf_assign,
                                                      ivf_build, ivf_init,
                                                      ivf_topk,
                                                      ivf_topk_persisted,
                                                      ivf_write_segment)

    rng = random.Random(31)
    rows_a = _vec_rows(rng, 30)
    rows_b = _vec_rows(rng, 20, offset=100)
    a = spark.createDataFrame(rows_a, "vec_id int, embedding array<double>")
    b = spark.createDataFrame(rows_b, "vec_id int, embedding array<double>")
    path = str(tmp_path / "segivf")
    _, cents = ivf_build(a, num_centroids=4, seed=5)
    ivf_init(spark, path, cents)
    ivf_write_segment(ivf_assign(a, cents), path, seg="t-0")
    before = spark.read.parquet(path + "/vectors").count()
    ivf_write_segment(ivf_assign(a, cents), path, seg="t-0")
    assert spark.read.parquet(path + "/vectors").count() == before
    ivf_write_segment(ivf_assign(b, cents), path, seg="t-1")
    q = [0.1] * 8
    want = [(r["vec_id"], r["similarity"]) for r in
            cosine_topk(a.unionByName(b), q, k=6).collect()]
    got = [(r["vec_id"], r["similarity"]) for r in
           ivf_topk_persisted(spark, path, q, k=6).collect()]
    assert got == want
    # pruned probe still carries a _centroid partition filter
    assigned = spark.read.parquet(path + "/vectors")
    plan = (ivf_topk(assigned, cents, q, k=3, nprobe=2)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan and "_centroid" in plan


def test_ivf_ingest_sink_two_drains_and_replay(spark, tmp_path):
    """Streaming embeddings into the vector index: first drain indexes
    the available files, a no-new-files drain replays nothing, new
    files drain incrementally, and the final full-probe equals brute
    force over everything — and composes with ivf_delete."""
    import shutil

    from etl_mark1_spark.operators.similarity import (cosine_topk,
                                                      ivf_build, ivf_delete,
                                                      ivf_init,
                                                      ivf_topk_persisted)
    from etl_mark1_spark.streaming.events import ivf_ingest_sink

    rng = random.Random(37)
    rows = _vec_rows(rng, 40)
    vecs = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    first = vecs.filter(F.col("vec_id") < 25)
    second = vecs.filter(F.col("vec_id") >= 25)
    src = str(tmp_path / "vec_src")
    ckpt = str(tmp_path / "vckpt")
    idx = str(tmp_path / "vstream_idx")
    first.coalesce(1).write.parquet(src)
    _, cents = ivf_build(first, num_centroids=4, seed=9)
    ivf_init(spark, idx, cents)

    def stream():
        return (spark.readStream
                .schema("vec_id int, embedding array<double>")
                .format("parquet").load(src))

    q = [0.25] * 8
    ivf_ingest_sink(stream(), idx, checkpoint=ckpt)
    mid = [(r["vec_id"], r["similarity"]) for r in
           ivf_topk_persisted(spark, idx, q, k=5).collect()]
    assert mid == [(r["vec_id"], r["similarity"]) for r in
                   cosine_topk(first, q, k=5).collect()]
    n_before = spark.read.parquet(idx + "/vectors").count()
    ivf_ingest_sink(stream(), idx, checkpoint=ckpt)  # nothing new
    assert spark.read.parquet(idx + "/vectors").count() == n_before
    tmp2 = str(tmp_path / "vec_src2")
    second.coalesce(1).write.parquet(tmp2)
    for f in __import__("os").listdir(tmp2):
        if f.endswith(".parquet"):
            shutil.copy(f"{tmp2}/{f}", f"{src}/{f}")
    ivf_ingest_sink(stream(), idx, checkpoint=ckpt)
    got = [(r["vec_id"], r["similarity"]) for r in
           ivf_topk_persisted(spark, idx, q, k=5).collect()]
    assert got == [(r["vec_id"], r["similarity"]) for r in
                   cosine_topk(vecs, q, k=5).collect()]
    # takedown composes with the streamed layout unchanged
    doomed = [r[0] for r in cosine_topk(vecs, q, k=1).collect()]
    ivf_delete(spark, idx, doomed)
    after = {r["vec_id"] for r in
             ivf_topk_persisted(spark, idx, q, k=5).collect()}
    assert doomed[0] not in after and after
