"""Winnowing fingerprints (operators/winnow.py) and rank fusion / eval
metrics (operators/ranking.py)."""

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from etl_mark1_spark.operators.ranking import (mrr_at_k, ndcg_at_k,
                                               rrf_fuse)
from etl_mark1_spark.operators.winnow import (winnow_fingerprints,
                                              winnow_similar_pairs)


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _py_winnow(text, k=3, w=4):
    toks = text.lower().split()
    grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    hashes = [hashlib.md5(g.encode()).hexdigest()[:16] for g in grams]
    fps = {min(hashes[i:i + w]) for i in range(len(hashes) - w + 1)}
    return fps


def test_winnow_matches_python_reference(spark):
    rng = random.Random(3)
    words = ["alpha", "beta", "gamma", "delta", "eps"]
    rows = [(i, " ".join(rng.choice(words) for _ in range(rng.randint(0, 25))))
            for i in range(30)]
    got = {}
    for r in winnow_fingerprints(_docs(spark, rows)).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for i, text in rows:
        want = _py_winnow(text)
        assert got.get(i, set()) == want, (i, text)


def test_winnow_shared_run_guarantee(spark):
    """Two docs sharing a run of >= w + k - 1 = 6 words must share a
    fingerprint (the paper's detection guarantee)."""
    common = "one two three four five six"
    rows = [(1, f"aa bb {common} cc"), (2, f"xx {common} yy zz"),
            (3, "totally different words here everywhere now")]
    pairs = {(r["doc_a"], r["doc_b"]): r["n_shared"]
             for r in winnow_similar_pairs(
                 _docs(spark, rows), min_shared=1).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_winnow_short_docs_have_no_fingerprints(spark):
    # fewer than k + w - 1 = 6 words -> no full window -> empty signature
    rows = [(1, "a b c d e"), (2, "a b c d e f")]
    got = {r["doc_id"] for r in
           winnow_fingerprints(_docs(spark, rows)).collect()}
    assert got == {2}


def test_rrf_fuse_matches_hand_computation(spark):
    r1 = spark.createDataFrame([(1, 9.0), (2, 5.0), (3, 1.0)],
                               ["doc_id", "s"])
    r2 = spark.createDataFrame([(3, 0.1), (1, 0.5), (4, 0.9)],
                               ["doc_id", "d"])          # distance: asc
    got = {r["doc_id"]: r["rrf_score"] for r in
           rrf_fuse([(r1, "s", False), (r2, "d", True)], k0=60).collect()}
    want = {1: 1 / 61 + 1 / 62, 2: 1 / 62, 3: 1 / 63 + 1 / 61, 4: 1 / 63}
    assert got == {k: round(v, 6) for k, v in want.items()}


def test_rrf_fuse_requires_rankings(spark):
    with pytest.raises(ValueError):
        rrf_fuse([])


def test_ndcg_and_mrr_hand_computed(spark):
    import math

    ranked = spark.createDataFrame([(10, 1), (20, 2), (30, 3)],
                                   ["doc_id", "rank"])
    labels = spark.createDataFrame([(10, 1), (20, 3), (40, 2)],
                                   ["doc_id", "rel"])
    got = ndcg_at_k(ranked, labels, k=3).collect()[0]["ndcg"]
    dcg = (2 ** 1 - 1) / math.log2(2) + (2 ** 3 - 1) / math.log2(3)
    idcg = (2 ** 3 - 1) / math.log2(2) + (2 ** 2 - 1) / math.log2(3) \
        + (2 ** 1 - 1) / math.log2(4)
    assert got == round(dcg / idcg, 6)
    # first rel>=2 hit is doc 20 at rank 2 -> MRR 0.5
    assert mrr_at_k(ranked, labels, k=3,
                    min_rel=2).collect()[0]["mrr"] == 0.5
    # no qualifying hit in top-k -> 0.0
    assert mrr_at_k(ranked, labels, k=1,
                    min_rel=2).collect()[0]["mrr"] == 0.0


def test_ndcg_perfect_ranking_is_one(spark):
    ranked = spark.createDataFrame([(1, 1), (2, 2)], ["doc_id", "rank"])
    labels = spark.createDataFrame([(1, 3), (2, 1)], ["doc_id", "rel"])
    assert ndcg_at_k(ranked, labels, k=2).collect()[0]["ndcg"] == 1.0


def test_ndcg_empty_ranking_scores_zero_not_null(spark):
    """A ranking with NO rows inside top-k against non-empty labels must
    score 0.0 — the sum over zero rows is NULL and previously propagated
    through the idcg>0 branch (round-12 ADVICE regression)."""
    labels = spark.createDataFrame([(1, 3), (2, 1)], ["doc_id", "rel"])
    # empty ranked frame
    empty = spark.createDataFrame([], "doc_id int, rank int")
    assert ndcg_at_k(empty, labels, k=5).collect()[0]["ndcg"] == 0.0
    # non-empty ranked frame whose rows all fall OUTSIDE top-k
    deep = spark.createDataFrame([(1, 11), (2, 12)], ["doc_id", "rank"])
    assert ndcg_at_k(deep, labels, k=10).collect()[0]["ndcg"] == 0.0


def test_rrf_persisted_matches_corpus_path_and_tombstones(spark, tmp_path):
    """rrf_search_persisted must equal fusing the corpus-path rankers
    (bm25_topk + conjunctive over in-memory postings) — and after a
    deletion, equal the same fusion over the surviving corpus only."""
    from pyspark.sql import functions as F

    from etl_mark1_spark.operators.corpus import bm25_topk
    from etl_mark1_spark.operators.indexing import (build_postings,
                                                    conjunctive_search,
                                                    delete_from_index,
                                                    write_search_index)
    from etl_mark1_spark.operators.ranking import rrf_search_persisted

    rows = [(1, "alpha beta gamma alpha"), (2, "alpha beta beta"),
            (3, "alpha gamma gamma gamma"), (4, "beta gamma"),
            (5, "delta only here")]
    docs = _docs(spark, rows)
    path = str(tmp_path / "rrfidx")
    write_search_index(docs, path, num_buckets=8)
    terms = ["alpha", "beta"]

    def corpus_fusion(d):
        bm = bm25_topk(d, terms, top_k=10)
        cj = conjunctive_search(build_postings(d), terms, top_k=10)
        return [(r["doc_id"], r["rrf_score"]) for r in
                rrf_fuse([(bm, "bm25", False), (cj, "score", False)],
                         top_k=5).collect()]

    got = [(r["doc_id"], r["rrf_score"]) for r in
           rrf_search_persisted(spark, path, terms, top_n=10, top_k=5,
                                num_buckets=8).collect()]
    assert got == corpus_fusion(docs)
    delete_from_index(spark, path, [2])
    got_d = [(r["doc_id"], r["rrf_score"]) for r in
             rrf_search_persisted(spark, path, terms, top_n=10, top_k=5,
                                  num_buckets=8).collect()]
    assert got_d == corpus_fusion(docs.filter(F.col("doc_id") != 2))
    assert all(d != 2 for d, _ in got_d)


def test_winnow_pairs_hot_fingerprint_cap(spark):
    """max_fp_df drops corpus-wide boilerplate fingerprints (no
    discriminating power) while pairs supported by rare fingerprints
    survive — the 100 TB quadratic guard."""
    boiler = "common header shared by every single document here"
    uniq = "rare overlapping span appearing twice only"
    # 8 exact boilerplate copies: every fingerprint has df = 8
    rows = [(i, boiler) for i in range(1, 9)]
    rows += [(20, f"alpha {uniq} beta"), (21, f"gamma {uniq} delta")]
    df = _docs(spark, rows)
    capped = {(r["doc_a"], r["doc_b"])
              for r in winnow_similar_pairs(df, min_shared=1,
                                            max_fp_df=4).collect()}
    assert (20, 21) in capped
    assert not any(a < 9 and b < 9 for a, b in capped), capped
    # uncapped: the boilerplate family pairs up
    full = {(r["doc_a"], r["doc_b"])
            for r in winnow_similar_pairs(df, min_shared=1).collect()}
    assert (1, 2) in full and (20, 21) in full
