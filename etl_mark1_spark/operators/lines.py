"""Line-level structural dedup: within-document repeated-line removal and
cross-corpus common-line (boilerplate) removal.

Extension family — the RefinedWeb/CCNet cleaning step between HTML
extraction and document-level dedup: crawl pages share navigation stubs,
cookie banners, and subscribe prompts LINE-for-line across millions of
documents. Document-level near-dup (operators/dedup.py) cannot see them
(each page is otherwise unique), and span dedup (operators/spans.py)
targets long verbatim runs; the structural signal is "this exact line
appears in k distinct documents".

Scale shapes:

- :func:`dedup_lines_within_doc` is a PURE COLUMN EXPRESSION (split →
  keep-first-occurrence via ``array_distinct`` → rejoin): no Python, no
  shuffle, scan speed.
- :func:`remove_common_lines` has exactly two shuffles at any corpus
  size: one map-side-combined count over trimmed lines, one regroup to
  reassemble documents. The removal join itself BROADCASTS: lines above
  the document-frequency threshold are few by construction (that is what
  "boilerplate" means), so the corpus-side explode never shuffles for the
  anti-join. Document order is preserved via ``posexplode`` positions.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["dedup_lines_within_doc", "remove_common_lines"]


def dedup_lines_within_doc(df: DataFrame, text_col: str = "text",
                           out_col: str = "clean_text",
                           sep: str = "\n") -> DataFrame:
    """Keep only the FIRST occurrence of each repeated line inside a
    document (order preserved) — kills the "same footer pasted after
    every section" pattern. ``array_distinct`` keeps first occurrences in
    order, in one hash pass over the lines."""
    arr = F.split(F.col(text_col), re.escape(sep), -1)
    return df.withColumn(out_col, F.array_join(F.array_distinct(arr), sep))


def remove_common_lines(df: DataFrame, min_docs: int,
                        text_col: str = "text", id_col: str = "doc_id",
                        sep: str = "\n") -> DataFrame:
    """Remove every line whose trimmed form appears in at least
    ``min_docs`` DISTINCT documents — from all documents, including the
    first: ``(id, clean_text, lines_kept, lines_removed)``. A document
    whose every line is boilerplate survives with an empty string.

    Plan: posexplode → count distinct docs per trimmed line (one shuffle,
    map-side combine) → the few over-threshold lines broadcast into a
    left-anti-style flag join (no corpus shuffle) → regroup by document
    with positions restoring order (second shuffle)."""
    lines = (df.select(id_col,
                       F.posexplode(F.split(F.col(text_col),
                                            re.escape(sep), -1))
                        .alias("pos", "line"))
               .withColumn("lkey", F.trim("line")))
    # blank lines are paragraph STRUCTURE, not boilerplate — never count
    # or remove them regardless of document frequency
    common = (lines.where(F.col("lkey") != "")
              .groupBy("lkey")
              .agg(F.count_distinct(F.col(id_col)).alias("df_count"))
              .where(F.col("df_count") >= min_docs)
              .select("lkey"))
    flagged = lines.join(F.broadcast(common.withColumn("is_common",
                                                       F.lit(True))),
                         "lkey", "left")
    rebuilt = (flagged
               .groupBy(id_col)
               .agg(
                   F.array_join(
                       F.transform(
                           F.array_sort(F.collect_list(F.when(
                               F.col("is_common").isNull(),
                               F.struct("pos", "line")))),
                           lambda s: s["line"]),
                       sep).alias("clean_text"),
                   F.sum(F.when(F.col("is_common").isNull(), 1)
                          .otherwise(0)).cast("int").alias("lines_kept"),
                   F.sum(F.when(F.col("is_common").isNotNull(), 1)
                          .otherwise(0)).cast("int")
                    .alias("lines_removed")))
    # documents whose text had no lines at all (NULL text) still surface
    return (df.select(id_col).join(rebuilt, id_col, "left")
              .fillna({"clean_text": "", "lines_kept": 0,
                       "lines_removed": 0}))


def _register_steps() -> None:
    from etl_mark1_spark.operators.steps import register_operator

    register_operator(
        "dedup_lines",
        lambda df, p: dedup_lines_within_doc(
            df, text_col=p.get("column", "text"),
            out_col=p.get("target_column", "clean_text"),
            sep=p.get("separator", "\n")))
    register_operator(
        "remove_common_lines",
        lambda df, p: remove_common_lines(
            df, int(p["min_docs"]),
            text_col=p.get("column", "text"),
            id_col=p.get("id_column", "doc_id"),
            sep=p.get("separator", "\n")))


_register_steps()
