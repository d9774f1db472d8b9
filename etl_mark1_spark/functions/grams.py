"""Word and character k-windows of a document's text — the one place the
engine turns text into grams.

Dedup, span stripping, winnowing, decontamination and the index's
duplicate-span probe all consume the same concept; they differ only in
HOW they consume it, and that decides the builder:

- :func:`word_ngrams` / :func:`char_shingles` return an ARRAY column, for
  sites that apply array functions in-row (MinHash's Jaccard verify,
  ``array_distinct``, ``array_min``);
- :func:`word_ngram_rows` returns ``(*carry, pos, gram)`` ROWS, for sites
  that only explode the grams. It is a codegen'd ``explode(sequence)`` +
  ``slice`` — no higher-order function at all, so nothing falls back to
  interpreted evaluation. Documents shorter than ``n`` emit no row.

The array word builder takes a short-document policy: ``"truncate"``
emits ONE truncated gram (the whole token list) for documents shorter
than ``n``, ``"none"`` emits nothing for them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_mark1_spark.functions.text import normalized_text


def tokens(col: Column | str, tokenizer: str = "normalized") -> Column:
    """Token array of a text column.

    - ``"normalized"``: :func:`normalized_text` split on ``" "``. Empty
      text yields one ``""`` token (oracle hashes depend on it).
    - ``"lower_ws"``: lowercase split on ``\\s+`` with empty tokens
      dropped, so empty text yields no token."""
    c = F.col(col) if isinstance(col, str) else col
    if tokenizer == "normalized":
        return F.split(normalized_text(c), " ")
    if tokenizer == "lower_ws":
        return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")
    raise ValueError("tokenizer must be 'normalized' or 'lower_ws', "
                     f"got {tokenizer!r}")


def bind_once(expr: Column, fn) -> Column:
    """Evaluate ``expr`` ONCE per row and hand it to ``fn`` as a lambda
    variable: ``element_at(transform(array(expr), fn), 1)``.

    A higher-order function's lambda body is re-evaluated PER ELEMENT,
    including any non-lambda subexpression embedded in it — Spark's HOFs
    are CodegenFallback, so there is no common-subexpression elimination
    on that path. A gram builder shaped
    ``transform(sequence(1, n), i -> f(normalized_text(text), i))``
    re-runs the whole-document normalization once per OUTPUT GRAM:
    O(len^2) regex work per document. Binding the input as a lambda
    variable makes every per-element reference an O(1) slot lookup.
    ``scripts/plan_audit.py`` flags the unbound shape (HOF_UNBOUND)."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def _gram_array(unit: Column, length, window, n: int,
                short: str) -> Column:
    """Array of the ``n``-windows of ``unit`` (a token array or a
    string), ``length(unit)`` units long, ``window(unit, i)`` starting at
    1-based unit ``i``."""
    if short not in ("truncate", "none"):
        raise ValueError(f"short must be 'truncate' or 'none', got {short!r}")

    def build(u: Column) -> Column:
        def windows(end: Column) -> Column:
            return F.transform(F.sequence(F.lit(1), end),
                               lambda i: window(u, i))

        last = length(u) - F.lit(n - 1)
        if short == "truncate":
            return windows(F.greatest(last, F.lit(1)))
        return F.when(last <= 0, F.array()).otherwise(windows(last))

    return bind_once(unit, build)


def word_ngrams(col: Column | str, n: int = 3,
                tokenizer: str = "normalized",
                short: str = "truncate") -> Column:
    """Word ``n``-grams (space-joined) as an array column. A multiset:
    MIN-hashing ignores duplicates and array_intersect/array_union are
    set operations, so skipping a distinct avoids an O(n log n) pass."""
    return _gram_array(tokens(col, tokenizer), F.size,
                       lambda tk, i: F.concat_ws(" ", F.slice(tk, i, n)),
                       n, short)


def char_shingles(col: Column | str, k: int = 5) -> Column:
    """``k``-character shingles of the normalized text as an array
    column (a multiset, as :func:`word_ngrams`); text shorter than ``k``
    is one truncated shingle."""
    c = F.col(col) if isinstance(col, str) else col
    return _gram_array(normalized_text(c), F.length,
                       lambda s, i: s.substr(i, F.lit(k)), k, "truncate")


def word_ngram_rows(df: DataFrame, toks: Column, n: int | str,
                    carry: tuple = ()) -> DataFrame:
    """Rows ``(*carry, pos, gram)``: the word ``n``-gram starting at
    1-based token position ``pos`` (long) of the token array ``toks``
    (see :func:`tokens`); documents shorter than ``n`` emit no row.
    ``carry`` passes columns (names or aliased expressions, usually the
    document id) through; ``n`` may name one of them to vary the width
    per row.

    One codegen'd ``explode(sequence)`` + ``slice``: the token array is
    projected once and every gram is a slice of it, so the per-document
    work is linear in its grams."""
    width = F.lit(n) if isinstance(n, int) else F.col(n)
    tk = df.select(*carry, toks.alias("_tk"))
    kept = tk.columns[:-1]
    last = F.size("_tk") - width + 1
    # a NULL start list explodes to no rows; a Filter here would be
    # pushed below the projection and tokenize every document twice
    starts = F.when(last >= 1, F.sequence(F.lit(1), last))
    return (tk.select(*kept, F.explode(starts).alias("pos"), "_tk")
            .select(*kept, F.col("pos").cast("long"),
                    F.concat_ws(" ", F.slice("_tk", F.col("pos"), width))
                    .alias("gram")))
