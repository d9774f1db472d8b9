"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
"Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
algorithm; public) and the fingerprint-join match detector built on them.

Winnowing selects a GUARANTEED-coverAGE subset of a document's k-gram
hashes: slide a w-window over the hash sequence and keep each window's
minimum. Any shared substring of length >= w + k - 1 words then shares
at least one selected fingerprint — the detection guarantee gram
sampling (every i-th gram) cannot give. The signature is ~|doc|/w
hashes instead of |doc|, which is what makes an all-corpus
fingerprint JOIN affordable: candidate generation meets on fingerprint
equality (shuffle keyed by fingerprint — bucket-sized tasks, never
all-pairs), the same scale shape as the MinHash/FastSS/PPJoin families
in ``operators/dedup.py``.

Variant note (documented, pinned by the oracle): this implements
ALL-MINIMA winnowing — every window contributes its minimum VALUE, and
the signature is the distinct set of selected hashes per document. The
paper's rightmost-tie positional rule matters when positions are
reported (plagiarism highlighting); for set-signature matching the
distinct-value set is identical under any tie rule, engine-reproducible,
and exactly expressible in ANSI SQL (one window-frame MIN + DISTINCT),
which keeps the operator externally hash-checkable.

Hashes are md5-prefix (not Spark's ``hash``) so the same fingerprints
reproduce in any engine — signatures can be shared across systems, the
same convention as ``fingerprint_md5``/``token_bucket``.

The reference's dedup surface is exact DISTINCT only
(backend/services/duckdb_engine.py builds SELECT DISTINCT); fingerprint
matching is part of this repo's LLM-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_mark1_spark.functions.grams import tokens, word_ngram_rows
from etl_mark1_spark.operators.dedup import ensure_parallelism


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        w: int = 4) -> DataFrame:
    """Per-document winnowing signature: distinct window-minimum k-gram
    hashes, ``(doc_id, fp)``. Detection guarantee: two documents sharing
    any run of >= w + k - 1 words share at least one ``fp``.

    Shape at scale: gram hashing is a map-side explode; the window
    minimum runs per document ordered by position (tasks scale with
    documents — a document's gram sequence, like its token sequence
    elsewhere in this repo, is assumed task-sized); the DISTINCT is the
    only corpus-wide shuffle and carries the ~|doc|/w surviving hashes,
    not the grams."""
    # (doc_id, pos, ghash): md5-prefix hash (16 hex chars) of each word
    # k-gram of the normalized text at its 1-based position
    grams = (word_ngram_rows(ensure_parallelism(df), tokens(text_col), k,
                             (id_col,))
             .select(F.col(id_col).alias("doc_id"), "pos",
                     F.substring(F.md5("gram"), 1, 16).alias("ghash")))
    # min over the w-window STARTING at this gram; only positions with a
    # full window ahead open one (windows = n_grams - w + 1 per doc)
    win = (Window.partitionBy("doc_id").orderBy("pos")
           .rowsBetween(Window.currentRow, w - 1))
    n_win = Window.partitionBy("doc_id")
    return (grams
            .withColumn("_wmin", F.min("ghash").over(win))
            .withColumn("_last", F.max("pos").over(n_win))
            .filter(F.col("pos") <= F.col("_last") - w + 1)
            .select("doc_id", F.col("_wmin").alias("fp"))
            .distinct())


def winnow_similar_pairs(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 3, w: int = 4,
                         min_shared: int = 2,
                         max_fp_df: int | None = None) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints —
    the MOSS match step as a fingerprint equi-join: signatures meet on
    ``fp`` (shuffle keyed by fingerprint; a fingerprint shared by m docs
    yields C(m,2) candidate rows — bucket-bounded, never corpus
    all-pairs), then one (a, b) count aggregation. Returns
    (doc_a, doc_b, n_shared) with doc_a < doc_b.

    ``max_fp_df`` is the 100 TB guard: a fingerprint carried by m
    documents contributes C(m, 2) pairs, and one corpus-wide
    boilerplate window (license header, navigation chrome) would
    otherwise quadratically dominate the join. Capping document
    frequency drops exactly the fingerprints with no discriminating
    power — the stopword treatment, same rationale as tf-idf's idf —
    at the cost that a pair supported ONLY by ultra-common fingerprints
    loses those contributions (documented, tested). ``None`` (default)
    keeps the join exact, which is what the fixture-scale oracle entry
    pins; production sets it to a few hundred."""
    fps = winnow_fingerprints(df, text_col, id_col, k, w)
    if max_fp_df is not None:
        hot = (fps.groupBy("fp")
               .agg(F.count(F.lit(1)).alias("_df"))
               .filter(F.col("_df") > max_fp_df)
               .select("fp"))
        fps = fps.join(F.broadcast(hot), "fp", "left_anti")
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    return (a.join(b, "fp")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))
