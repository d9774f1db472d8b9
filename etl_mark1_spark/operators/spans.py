"""Span-level exact substring deduplication.

Document-level dedup (operators/dedup.py) drops whole near-duplicate
documents; this module implements the finer-grained step a training-data
pipeline runs next: find every n-token window that appears verbatim in
multiple documents (licenses, headers, navigation chrome, quoted
boilerplate), merge the overlapping windows into maximal duplicated spans,
and optionally cut those spans out of the text while keeping the rest of
the document — the "exact substring deduplication" of Lee et al.,
"Deduplicating Training Data Makes Language Models Better" (ACL 2022),
re-expressed as DataFrame operators instead of a suffix array.

The reference engine has no equivalent (its dedup surface stops at
DISTINCT / row dedup — shonejj/etl-mark1 backend/services/duckdb_engine.py);
this is part of the LLM-pipeline extension family.

Shapes, stage by stage (100 TB reasoning):

1. shingle: each doc emits its n-token windows with positions — a pure
   flat-map (functions/grams.py: explode of a position sequence, one
   slice per window), no shuffle, whole-stage codegen.
2. flag: group windows by gram, keep grams seen in >= min_docs DISTINCT
   documents. One shuffle on the gram; partial aggregation collapses each
   task's repeats map-side. ``hash_grams=True`` shuffles an 8-byte
   xxhash64 of the gram instead of the string (~6x narrower rows) at the
   cost of a 2^-64-per-pair collision admitting a false flagged span —
   the right trade at corpus scale, off by default so the result is
   exactly reproducible in other engines.
3. islands: per-document gaps-and-islands merge of flagged window starts
   (classic running-max window). The window partitions by doc_id, so its
   state is bounded by one document's flagged windows — never global.
4. strip: rebuilding the cleaned text is a per-row array filter against
   that document's merged spans (collect_list of spans is per-doc,
   broadcast-sized by construction) — no Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_mark1_spark.functions.grams import tokens, word_ngram_rows
from etl_mark1_spark.functions.text import normalized_text
from etl_mark1_spark.operators.dedup import ensure_parallelism


def _merge_islands(hits: DataFrame, id_col: str, n: int) -> DataFrame:
    """(id, span_start, span_end): flagged window starts ``pos`` merged
    with overlapping or adjacent ones into maximal spans — a per-document
    gaps-and-islands pass (running max of window ends, break where a
    start passes it, sum of breaks as the island id)."""
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(n - 1)) \
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
    brk = F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1) \
        .otherwise(0)
    islands = (hits
               .withColumn("_brk", brk)
               .withColumn("_island", F.sum("_brk").over(
                   w.rowsBetween(Window.unboundedPreceding, 0))))
    return (islands.groupBy(id_col, "_island")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + F.lit(n - 1)).alias("span_end"))
            .drop("_island"))


def _strip_spans(docs: DataFrame, spans: DataFrame, text_col: str,
                 id_col: str, out_col: str) -> DataFrame:
    """(id, out_col): the normalized text without the tokens inside any
    of the document's ``spans``; docs without spans pass through."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans"))
    kept = F.filter(
        tokens(text_col),
        lambda tok, i0: ~F.exists(
            F.col("_spans"),
            lambda s: (i0 + 1 >= s["span_start"]) & (i0 + 1 <= s["span_end"])
        ))
    return (docs.join(per_doc, id_col, "left")
            .select(id_col,
                    F.when(F.col("_spans").isNull(),
                           normalized_text(F.col(text_col)))
                    .otherwise(F.concat_ws(" ", kept)).alias(out_col)))


def duplicate_spans(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", n: int = 8, min_docs: int = 2,
                    hash_grams: bool = False) -> DataFrame:
    """Maximal cross-document duplicated token spans per document.

    Returns (id_col, span_start, span_end, span_tokens) with 1-based
    inclusive token positions in the normalized (lowercased,
    whitespace-collapsed) text: every n-token window occurring in
    >= min_docs distinct documents, merged with overlapping or adjacent
    flagged windows into maximal spans.
    """
    grams = word_ngram_rows(ensure_parallelism(docs), tokens(text_col), n,
                            (id_col,))
    key = "k" if hash_grams else "gram"
    keyed = grams.withColumn("k", F.xxhash64("gram")) if hash_grams else grams
    flagged = (keyed.groupBy(key)
               .agg(F.countDistinct(id_col).alias("_nd"))
               .filter(F.col("_nd") >= min_docs)
               .select(key))
    hits = keyed.join(flagged, key, "left_semi")
    return (_merge_islands(hits, id_col, n)
            .withColumn("span_tokens",
                        F.col("span_end") - F.col("span_start") + 1))


def strip_duplicate_spans(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 8,
                          min_docs: int = 2,
                          hash_grams: bool = False,
                          out_col: str = "clean_text") -> DataFrame:
    """Cut the duplicated spans out of each document's normalized text.

    Returns (id_col, out_col): tokens whose position falls inside any
    merged duplicated span are removed; the rest are re-joined with single
    spaces (the output is normalized-whitespace text by construction).
    Documents with no duplicated span pass through with their normalized
    text intact; a fully-duplicated document yields ''.
    """
    spans = duplicate_spans(docs, text_col, id_col, n, min_docs, hash_grams)
    return _strip_spans(docs, spans, text_col, id_col, out_col)


def _non_first_occurrences(docs: DataFrame, text_col: str, id_col: str,
                           n: int) -> DataFrame:
    """(id, i) of every n-token window that is NOT the corpus-wide first
    occurrence of its gram — first = smallest (id, position), the order
    Lee et al.'s suffix-array pass keeps.

    Deliberately NOT a per-gram row_number window: window partitions get
    neither map-side partials nor AQE skew-splitting, so a license
    header repeated across half a 100 TB corpus would sort its entire
    occurrence set in ONE task — and hot grams are exactly what this
    operator exists to find. Instead the first occurrence is an
    ALGEBRAIC min over the (id, position) struct (partial aggregation
    collapses each task's copies of a hot gram to one row before the
    shuffle), kept only for grams seen >= 2 times, and flagged
    occurrences fall out of an equi-join back on the gram — a join AQE
    CAN skew-split. Same two-exchange budget as the window formulation,
    no per-gram sort anywhere."""
    grams = word_ngram_rows(ensure_parallelism(docs), tokens(text_col), n,
                            (id_col,))
    firsts = (grams.groupBy("gram")
              .agg(F.min(F.struct(F.col(id_col).alias("_fid"),
                                  F.col("pos").alias("_fi"))).alias("_f"),
                   F.count(F.lit(1)).alias("_cnt"))
              .filter(F.col("_cnt") >= 2)
              .select("gram", "_f"))
    return (grams.join(firsts, "gram")
            .filter((F.col(id_col) != F.col("_f._fid"))
                    | (F.col("pos") != F.col("_f._fi")))
            .select(id_col, "pos"))


def strip_spans_keep_first(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", n: int = 8,
                           out_col: str = "clean_text") -> DataFrame:
    """Exact substring dedup that KEEPS one copy of every duplicated
    span (RefinedWeb / Lee et al. semantics): each n-token window keeps
    its corpus-wide FIRST occurrence (smallest (id, position)) and every
    later verbatim occurrence — in another document or later in the same
    one — is flagged, merged into maximal spans per document, and cut.

    This differs from :func:`strip_duplicate_spans`, which removes ALL
    copies of a cross-document span (the aggressive variant): here the
    corpus retains exactly one occurrence of the boilerplate, so no text
    is globally lost — the training-data default. Returns
    (id_col, out_col) with the normalized remaining text.

    Shapes: the flag pass is one gram-keyed shuffle (row_number window
    instead of duplicate_spans' countDistinct agg — same key, same
    partitioning); islands-merge and strip are per-document exactly as
    in strip_duplicate_spans. No Python, no driver data.
    """
    hits = _non_first_occurrences(docs, text_col, id_col, n)
    return _strip_spans(docs, _merge_islands(hits, id_col, n), text_col,
                        id_col, out_col)


def span_dedup_coverage(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 8,
                        min_docs: int = 2) -> DataFrame:
    """Per-document boilerplate pressure: how much of each text sits
    inside a cross-document duplicated span — the signal a curation run
    thresholds on BEFORE deciding between drop-document, strip-span, or
    keep (a doc that is 90% license header is a different animal from
    one quoting a paragraph). Returns (id_col, total_tokens, dup_tokens,
    dup_frac rounded to 6) for every document with at least one
    duplicated span; dup_tokens sums the merged maximal spans, so
    overlapping windows are not double-counted."""
    spans = duplicate_spans(docs, text_col, id_col, n, min_docs)
    toks = F.size(tokens(text_col))
    per_doc = spans.groupBy(id_col).agg(
        F.sum("span_tokens").cast("bigint").alias("dup_tokens"))
    return (docs.join(per_doc, id_col)
            .select(id_col, toks.cast("bigint").alias("total_tokens"),
                    "dup_tokens",
                    F.round(F.col("dup_tokens") / toks.cast("double"), 6)
                    .alias("dup_frac")))
