"""Bloom-prefilter membership tests (operators/bloom.py).

The load-bearing properties, each tested directly:
- NO false negatives — every reference member probes maybe=True (this is
  what makes bloom-prefilter + exact-confirm equal the exact join);
- false-positive rate near the configured fpp on disjoint keys;
- the jvm literal-array probe and the arrow numpy probe agree bit-for-bit;
- semi/anti filters equal the plain exact joins;
- the probe itself plans as a pure map-side expression (no shuffle).
"""

import pytest
from pyspark.sql import functions as F

from etl_mark1_spark.operators.bloom import (
    bloom_anti_filter,
    bloom_maybe_arrow,
    bloom_maybe_contains,
    bloom_semi_filter,
    build_bloom,
    optimal_num_bits,
    optimal_num_hashes,
)

N = 2000


@pytest.fixture(scope="module")
def ref(spark):
    return spark.createDataFrame([(f"key{i}",) for i in range(N)], ["k"])


@pytest.fixture(scope="module")
def probe(spark):
    rows = ([(f"key{i}",) for i in range(N)]
            + [(f"other{i}",) for i in range(N)])
    return spark.createDataFrame(rows, ["k"])


@pytest.fixture(scope="module")
def bloom(ref):
    m = optimal_num_bits(N, fpp=0.01)
    k = optimal_num_hashes(m, N)
    return build_bloom(ref, "k", m, k), m, k


def test_no_false_negatives(ref, bloom):
    words, m, k = bloom
    misses = ref.filter(~bloom_maybe_contains(F.col("k"), words, m, k)).count()
    assert misses == 0


def test_false_positive_rate_near_configured(probe, bloom):
    words, m, k = bloom
    fps = (probe.filter(~F.col("k").startswith("key"))
           .filter(bloom_maybe_contains(F.col("k"), words, m, k)).count())
    # 1% configured; allow 4x slack on 2000 trials
    assert fps / N < 0.04


def test_jvm_and_arrow_probes_agree(probe, bloom):
    words, m, k = bloom
    jvm = probe.withColumn("maybe",
                           bloom_maybe_contains(F.col("k"), words, m, k))
    arrow = bloom_maybe_arrow(probe, "k", words, m, k, out_col="maybe")
    assert jvm.exceptAll(arrow).count() == 0
    assert arrow.exceptAll(jvm).count() == 0


def test_semi_filter_equals_exact_semi_join(probe, ref):
    got = bloom_semi_filter(probe, ref, "k")
    want = probe.join(ref, "k", "left_semi")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_anti_filter_equals_exact_anti_join(probe, ref):
    got = bloom_anti_filter(probe, ref, "k")
    want = probe.join(ref, "k", "left_anti")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_probe_plans_without_shuffle(probe, bloom):
    words, m, k = bloom
    probed = probe.withColumn(
        "maybe", bloom_maybe_contains(F.col("k"), words, m, k))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan


def test_oversized_jvm_probe_rejected():
    with pytest.raises(ValueError, match="too large"):
        bloom_maybe_contains(F.col("k"), [0], 1 << 26, 4)


def test_planted_contamination_found_exactly(spark):
    """End-to-end on a documents-shaped fixture: three corpus docs share a
    6-gram with the benchmark, the rest don't; the bloom path must flag
    exactly those three (no false flags survive the confirm join)."""
    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    corpus = [(i, f"unique filler text number {i} with no overlap at all "
                  f"padding {i} more words here", "web") for i in range(50)]
    for i in (7, 21, 33):
        corpus[i] = (i, f"prefix {i} " + bench_text + f" suffix {i}", "web")
    docs = spark.createDataFrame(corpus, ["doc_id", "text", "source"])
    bench = spark.createDataFrame([(999, bench_text, "bench")],
                                  ["doc_id", "text", "source"])

    from etl_mark1_spark.functions.grams import word_ngrams
    grams = lambda df: df.select(  # noqa: E731
        "doc_id", F.explode(word_ngrams(F.col("text"), 6)).alias("gram"))
    hits = bloom_semi_filter(grams(docs), grams(bench).select("gram"), "gram")
    flagged = sorted(r["doc_id"] for r in
                     hits.select("doc_id").distinct().collect())
    assert flagged == [7, 21, 33]
