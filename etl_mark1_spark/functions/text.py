"""Text-analysis column functions for large-scale document pipelines.

Beyond the reference's surface (SURVEY.md §7.2 step 8): language ID, quality
scoring, token counting, and document fingerprinting over the ``documents``
table. Everything here is built from JVM-side ``pyspark.sql.functions`` —
no Python UDFs in the hot path — so whole-stage codegen applies and the same
logic scales to 100 TB of text unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the n-gram/stopword heuristic.
#: Deliberately small: membership tests stay cheap, and the heuristic only
#: needs relative scores, not coverage.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "dans", "que", "pour", "une", "des"],
    "es": ["el", "la", "los", "que", "es", "en", "por", "una", "con", "para"],
}

#: BPE-ish tokenizer regex: letter runs, digit runs, or single non-space
#: symbols — a cheap approximation of byte-pair pre-tokenization.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def whitespace_token_count(col: Column | str) -> Column:
    """Whitespace token count: split on runs of whitespace after trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(c), r"\s+"))
    )


def bpe_ish_token_count(col: Column | str) -> Column:
    """Token count under the BPE-ish regex (letters/digits/symbols)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def punct_count(col: Column | str) -> Column:
    """ASCII punctuation character count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[\p{Punct}]"), F.lit(0)))


def letter_tokens(col: Column | str) -> Column:
    """Lowercased letter-run tokens (the unit for stopword scoring)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit("[a-z]+"), F.lit(0))


def stopword_hits(col: Column | str, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang`` (with repeats)."""
    toks = letter_tokens(col)
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax of per-language stopword hit counts.

    Ties resolve in the fixed order en > de > fr > es; zero hits everywhere
    yields 'und' (undetermined), matching BCP-47 practice.
    """
    scores = {lang: stopword_hits(col, lang) for lang in STOPWORDS}
    all_zero = None
    for s in scores.values():
        all_zero = s == 0 if all_zero is None else all_zero & (s == 0)
    expr = F.when(all_zero, F.lit("und"))
    langs = list(STOPWORDS)
    for i, lang in enumerate(langs):
        cond = None
        for other in langs[i + 1:]:
            c = scores[lang] >= scores[other]
            cond = c if cond is None else cond & c
        expr = expr.when(cond if cond is not None else F.lit(True), F.lit(lang))
    return expr


def text_quality_score(col: Column | str) -> Column:
    """Composite 0-100 quality score from cheap surface statistics:

    - length component: saturating chars/500
    - punctuation component: 1 - min(5 * punct_ratio, 1)
    - stopword component: min(4 * stopword_ratio, 1) — natural prose has
      roughly >= 25% stopwords

    Weights 0.4/0.3/0.3. All per-row double arithmetic in a fixed order, so
    results are deterministic and reproducible in plain SQL.
    """
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c).cast("double")
    n_tokens = whitespace_token_count(c).cast("double")
    n_punct = punct_count(c).cast("double")
    n_stop = (
        stopword_hits(c, "en") + stopword_hits(c, "de")
        + stopword_hits(c, "fr") + stopword_hits(c, "es")
    ).cast("double")
    length_part = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    punct_part = F.lit(1.0) - F.least(
        F.lit(5.0) * n_punct / F.greatest(n_chars, F.lit(1.0)), F.lit(1.0)
    )
    stop_part = F.least(
        F.lit(4.0) * n_stop / F.greatest(n_tokens, F.lit(1.0)), F.lit(1.0)
    )
    return F.round(
        F.lit(100.0) * (F.lit(0.4) * length_part + F.lit(0.3) * punct_part
                        + F.lit(0.3) * stop_part),
        2,
    )


def normalized_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, whitespace collapsed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def fingerprint_md5(col: Column | str) -> Column:
    """Stable document fingerprint: md5 hex of the normalized text.

    md5 (not Spark's internal ``hash``) so the same fingerprint is
    reproducible in any other engine — the dedup key can be shared across
    systems.
    """
    return F.md5(normalized_text(col))


def rolling_hash_fingerprint(col: Column | str, window: int = 64) -> Column:
    """Content-defined fingerprint: xxhash64 over each ``window``-char
    sliding block of the normalized text, keeping the minimum — a winnowing-
    style robust fingerprint that survives small edits at the ends.
    Entirely JVM-side: sequence + transform + array_min.
    """
    from etl_mark1_spark.functions.grams import char_shingles

    return F.array_min(F.transform(char_shingles(col, window),
                                   lambda b: F.xxhash64(b)))


def char_entropy_stats(df, text_col: str = "text",
                       id_col: str = "doc_id"):
    """Shannon entropy (nats) of each document's character distribution —
    a cheap perplexity proxy: boilerplate/repetitive spam scores low,
    natural prose ~3-4. One row per document: (id, char_entropy).

    Formulation: explode chars -> (doc, char) counts -> per-doc fold.
    This IS the scale shape: the (doc, char) aggregation takes map-side
    partial aggregation, so the shuffle carries at most |alphabet| rows
    per document per partition — bounded, tiny, and whole-stage-codegen'd
    end to end. (A per-row array-fold formulation avoids the shuffle but
    evaluates interpreted higher-order lambdas quadratically per document
    — measured ~100x slower; the shuffle is the right trade.) Documents
    with empty/NULL text produce no output row, matching the SQL
    formulation the oracle runs.
    """
    from pyspark.sql import Window

    # [\s\S] (not '.') so newlines count; same RE2/Java semantics in Spark
    # and in the DuckDB oracle
    chars = df.select(
        F.col(id_col),
        F.explode(F.regexp_extract_all(F.col(text_col), F.lit(r"[\s\S]"),
                                       F.lit(0))).alias("ch"))
    freq = chars.groupBy(id_col, "ch").agg(
        F.count(F.lit(1)).cast("double").alias("c"))
    n = F.sum("c").over(Window.partitionBy(id_col))
    return (freq.withColumn("n", n)
            .groupBy(id_col)
            .agg(F.round(-F.sum((F.col("c") / F.col("n"))
                                * F.log(F.col("c") / F.col("n"))), 6)
                 .alias("char_entropy")))


def compression_ratio(col: Column | str) -> Column:
    """zlib compressed-size / raw-size per document — the classic cheap
    repetitiveness signal (boilerplate and spam compress far below
    natural prose; random noise barely compresses). Arrow-batched Pandas
    UDF: zlib is the one thing the JVM expression library can't do, and
    per-batch Python over bytes is the same boundary shape as SimHash.
    Deterministic for a fixed zlib level, so goldens replay it. Empty or
    NULL text scores NULL.
    """
    from pyspark.sql.functions import pandas_udf

    c = F.col(col) if isinstance(col, str) else col

    @pandas_udf("double")
    def _ratio(texts):
        import zlib

        import pandas as pd

        def one(t):
            if t is None or len(t) == 0:
                return None
            raw = t.encode("utf-8")
            return round(len(zlib.compress(raw, 6)) / len(raw), 6)

        return pd.Series([one(t) for t in texts])

    return _ratio(c)


# -- Gopher-style rule battery ----------------------------------------------

#: The eight "natural language" stopwords of the Gopher quality rules
#: (Rae et al. 2021, appendix A1.1) — a document of real prose contains
#: at least two of them.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(df, text_col: str = "text",
                         id_col: str = "doc_id"):
    """Per-document Gopher-rule quality battery (Rae et al. 2021, A1.1):
    one boolean per named rule plus the combined ``keep`` decision.

    Every threshold is evaluated in INTEGER arithmetic (e.g. ``>= 80%
    words alphabetic`` as ``10 * n_alpha >= 8 * n_words``), so the
    result is bit-reproducible in any engine — no float ratio edge
    cases — and the catalog entry carries an exact SQL oracle. All
    expressions are JVM-side array/regexp primitives: a pure map-side
    projection, no shuffle, no Python.

    Rules: word count in [50, 100000]; mean word length in [3, 10]
    chars; symbol-to-word ratio (# and ...) <= 0.1; <= 90% of nonempty
    lines bullet-started; <= 30% ellipsis-ended; >= 80% of words contain
    a letter; >= 2 distinct Gopher stopwords present.
    """
    text = F.col(text_col)
    toks = F.filter(F.split(F.lower(text), r"\s+"),
                    lambda t: t != "")
    n_words = F.size(toks).cast("long")
    word_chars = F.aggregate(F.transform(toks, F.length),
                             F.lit(0).cast("long"),
                             lambda acc, x: acc + x)
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))) \
        .cast("long")
    n_symbols = (F.regexp_count(text, F.lit("#"))
                 + F.regexp_count(text, F.lit(r"\.\.\."))).cast("long")
    lines = F.filter(F.split(text, "\n"),
                     lambda ln: F.trim(ln) != "")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(F.filter(
        lines, lambda ln: ln.rlike(r"^\s*[-*•]"))).cast("long")
    n_ellipsis = F.size(F.filter(
        lines, lambda ln: ln.rlike(r"\.\.\.\s*$"))).cast("long")
    n_stop = F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))).cast("long")

    flags = {
        "ok_word_count": (n_words >= 50) & (n_words <= 100000),
        "ok_mean_word_len": (word_chars >= 3 * n_words)
                            & (word_chars <= 10 * n_words),
        "ok_symbol_ratio": 10 * n_symbols <= n_words,
        "ok_bullet_lines": 10 * n_bullet <= 9 * n_lines,
        "ok_ellipsis_lines": 10 * n_ellipsis <= 3 * n_lines,
        "ok_alpha_words": 10 * n_alpha >= 8 * n_words,
        "ok_stopwords": n_stop >= 2,
    }
    keep = F.lit(True)
    for c in flags.values():
        keep = keep & c
    return df.select(
        F.col(id_col), n_words.alias("n_words"),
        *[c.alias(name) for name, c in flags.items()],
        keep.alias("keep"))


def repetition_profile(df, text_col: str = "text",
                       id_col: str = "doc_id"):
    """Intra-document repetition battery (the Gopher repetition rules,
    Rae et al. 2021 A1.1, that token_repetition's distinct-ratio doesn't
    cover): how much of a document is the same line or the same phrase
    said again.

    Returns per doc:
    - ``dup_line_ratio``: chars in repeated line occurrences (every copy
      after the first) / chars across all nonempty lines;
    - ``top_bigram``/``top_bigram_ratio``: the most frequent word bigram
      (count DESC, gram ASC tie-break) and the fraction of normalized
      text chars its occurrences cover;
    - ``ok_dup_lines`` (ratio <= 0.3) and ``ok_top_bigram`` (<= 0.2),
      evaluated as integer cross-multiplications so the flags carry no
      float edge cases.

    Shape at scale: two doc-keyed aggregations (lines, bigrams) with
    map-side partials and one per-doc top-1 window — every shuffle and
    window is keyed by the document, never global.
    """
    from pyspark.sql import Window

    from etl_mark1_spark.functions.grams import tokens, word_ngram_rows

    text = F.col(text_col)

    lines = (df.select(
        F.col(id_col),
        F.explode(F.filter(F.split(text, "\n"),
                           lambda ln: F.trim(ln) != "")).alias("line")))
    per_line = (lines.groupBy(id_col, "line")
                .agg(F.count(F.lit(1)).alias("_cnt"),
                     F.length(F.col("line")).cast("long").alias("_len")))
    line_stats = (per_line.groupBy(id_col)
                  .agg(F.sum(F.col("_cnt") * F.col("_len"))
                       .alias("line_chars"),
                       F.sum((F.col("_cnt") - 1) * F.col("_len"))
                       .alias("dup_line_chars")))

    grams = word_ngram_rows(
        df, tokens(text), 2,
        (id_col, F.length(normalized_text(text)).cast("long").alias("_chars")))
    gram_counts = (grams.groupBy(id_col, "_chars", "gram")
                   .agg(F.count(F.lit(1)).alias("_cnt")))
    w = Window.partitionBy(id_col).orderBy(F.desc("_cnt"), "gram")
    top = (gram_counts.withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") == 1)
           .select(id_col, F.col("gram").alias("top_bigram"),
                   (F.col("_cnt") * F.length("gram")).cast("long")
                   .alias("top_chars"),
                   F.col("_chars")))

    base = df.select(id_col)
    out = (base.join(line_stats, id_col, "left")
           .join(top, id_col, "left"))
    dup_ratio = F.when(
        F.coalesce(F.col("line_chars"), F.lit(0)) == 0, F.lit(0.0)
    ).otherwise(F.col("dup_line_chars").cast("double")
                / F.col("line_chars").cast("double"))
    top_ratio = F.when(
        F.coalesce(F.col("_chars"), F.lit(0)) == 0, F.lit(0.0)
    ).otherwise(F.col("top_chars").cast("double")
                / F.col("_chars").cast("double"))
    return out.select(
        F.col(id_col),
        F.round(dup_ratio, 6).alias("dup_line_ratio"),
        F.coalesce(F.col("top_bigram"), F.lit("")).alias("top_bigram"),
        F.round(top_ratio, 6).alias("top_bigram_ratio"),
        (10 * F.coalesce(F.col("dup_line_chars"), F.lit(0))
         <= 3 * F.coalesce(F.col("line_chars"), F.lit(0)))
        .alias("ok_dup_lines"),
        (10 * F.coalesce(F.col("top_chars"), F.lit(0))
         <= 2 * F.coalesce(F.col("_chars"), F.lit(0)))
        .alias("ok_top_bigram"))


# -- Unicode script profiling --------------------------------------------------

#: Script -> Java regex character class (Spark side). The oracle side uses
#: RE2's spelling (\p{Cyrillic}); catalog/script_entries.py pairs them.
SCRIPT_CLASSES = {
    "latin": r"\p{IsLatin}",
    "cyrillic": r"\p{IsCyrillic}",
    "greek": r"\p{IsGreek}",
    "arabic": r"\p{IsArabic}",
    "han": r"\p{IsHan}",
    "hiragana": r"\p{IsHiragana}",
    "katakana": r"\p{IsKatakana}",
    "hangul": r"\p{IsHangul}",
    "devanagari": r"\p{IsDevanagari}",
}


def script_counts(col: Column | str) -> dict[str, Column]:
    """Per-script letter counts: for each script, the number of its
    characters in the string. One ``regexp_replace`` + ``length`` per
    script — all whole-stage codegen, map-side; nine passes over a string
    beat one Python UDF by an order of magnitude at corpus scale."""
    c = F.col(col) if isinstance(col, str) else col
    return {name: F.length(F.regexp_replace(c, f"[^{cls}]", ""))
            for name, cls in SCRIPT_CLASSES.items()}


def dominant_script(col: Column | str) -> Column:
    """Argmax script of the string's letters; ties resolve in the fixed
    SCRIPT_CLASSES order; a string with no scripted letters at all (digits,
    punctuation, whitespace only) yields 'none'. The script signal is what
    separates e.g. Serbian-Latin from Serbian-Cyrillic and catches
    wrong-script contamination inside a monolingual corpus — upstream of
    stopword-based lang_id, which assumes a Latin corpus."""
    c = F.col(col) if isinstance(col, str) else col
    scores = script_counts(col)
    all_zero = None
    for s in scores.values():
        z = s == 0
        all_zero = z if all_zero is None else all_zero & z
    # NULL text -> NULL (without this, NULL comparisons fall through every
    # when() to the final fixed-order branch)
    expr = F.when(c.isNull(), F.lit(None)).when(all_zero, F.lit("none"))
    names = list(SCRIPT_CLASSES)
    for i, name in enumerate(names):
        cond = None
        for other in names[i + 1:]:
            c = scores[name] >= scores[other]
            cond = c if cond is None else cond & c
        expr = expr.when(cond if cond is not None else F.lit(True),
                         F.lit(name))
    return expr


def script_profile(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document script audit: ``(id, dominant_script, <script>_chars
    ..., scripted_chars)`` — the corpus-health rollup (docs per script,
    mixed-script outliers) is one groupBy away. Pure column expressions."""
    counts = script_counts(text_col)
    total = None
    for s in counts.values():
        total = s if total is None else total + s
    return df.select(
        id_col,
        dominant_script(text_col).alias("dominant_script"),
        *[c.cast("int").alias(f"{n}_chars") for n, c in counts.items()],
        total.cast("int").alias("scripted_chars"))


def syllable_count(col: Column | str) -> Column:
    """Heuristic English syllable count: the number of vowel GROUPS
    (``[aeiouy]+`` runs, lowercased) — the standard cheap estimator the
    readability formulas were fitted against. One codegen'd regex scan;
    summing per-word groups equals counting groups over the whole text,
    so no tokenization is needed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(F.lower(c), F.lit("[aeiouy]+"),
                                       F.lit(0)))


def sentence_count(col: Column | str) -> Column:
    """Sentence count as terminator runs (``[.!?]+``), floored at 1 so
    unterminated text counts as a single sentence instead of dividing
    by zero downstream."""
    c = F.col(col) if isinstance(col, str) else col
    runs = F.size(F.regexp_extract_all(c, F.lit(r"[.!?]+"), F.lit(0)))
    return F.greatest(runs, F.lit(1))


def flesch_reading_ease(col: Column | str) -> Column:
    """Flesch reading ease, ``206.835 - 1.015*(words/sentences) -
    84.6*(syllables/words)`` (Flesch 1948) over the whitespace word
    count, terminator-run sentence count, and vowel-group syllable
    count above — the length-and-density readability screen corpus
    quality reports bucket on (higher = simpler text). NULL for empty
    text. Pure column arithmetic in one scan; the fixed operation order
    makes the double result bit-identical across engines."""
    c = F.col(col) if isinstance(col, str) else col
    words = whitespace_token_count(c).cast("double")
    return F.when(words > 0,
                  F.lit(206.835)
                  - F.lit(1.015) * (words / sentence_count(c))
                  - F.lit(84.6) * (syllable_count(c) / words))
