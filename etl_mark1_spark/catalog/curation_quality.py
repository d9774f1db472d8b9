"""LM scoring, drift, decontamination, span dedup, vocab/encode, Gopher.

Split out of the original single-module catalog (round 6); registration
order is preserved by the import order in ``catalog/__init__.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_mark1_spark.catalog._registry import query, t
from etl_mark1_spark.catalog.dedup_similarity import _query_vector

@query("unigram_lm_score", """
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents
    ),
    toks2 AS (SELECT * FROM toks WHERE tok <> ''),
    counts AS (SELECT tok, count(*) AS c FROM toks2 GROUP BY tok),
    stats AS (SELECT sum(c) AS n, count(*) AS v FROM counts),
    probs AS (SELECT tok, (c + 1) * 1.0 / (n + v) AS p FROM counts, stats)
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(ln(p)), 6) AS avg_logprob
    FROM toks2 t JOIN probs USING (tok)
    GROUP BY t.doc_id
""")
def unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average token log-probability under a corpus-trained smoothed
    unigram LM (operators/corpus.py:unigram_logprob_score) — the cheap
    perplexity quality scorer. Vocabulary counts broadcast back onto the
    token stream; the corpus shuffles once as (doc, token)."""
    from etl_mark1_spark.operators.corpus import unigram_logprob_score

    return unigram_logprob_score(t(spark, sf_dir, "documents"))


@query("psi_drift_chars", """
    WITH a AS (
        SELECT floor(n_chars / 50.0) AS bin, CAST(count(*) AS DOUBLE) AS ca
        FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
    ),
    b AS (
        SELECT floor(n_chars / 50.0) AS bin, CAST(count(*) AS DOUBLE) AS cb
        FROM documents WHERE doc_id % 2 = 1 GROUP BY 1
    ),
    j AS (
        SELECT coalesce(a.ca, 0.0) AS ca, coalesce(b.cb, 0.0) AS cb
        FROM a FULL OUTER JOIN b ON a.bin = b.bin
    ),
    t AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS k FROM j),
    p AS (
        SELECT (ca + 0.5) / (na + 0.5 * k) AS pa,
               (cb + 0.5) / (nb + 0.5 * k) AS pb,
               na, nb, k
        FROM j, t
    )
    SELECT round(sum((pa - pb) * ln(pa / pb)), 6) AS psi,
           CAST(max(k) AS BIGINT) AS n_bins,
           CAST(max(na) AS BIGINT) AS n_a,
           CAST(max(nb) AS BIGINT) AS n_b
    FROM p
""")
def psi_drift_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two corpus slices' length
    distributions (plans/quality.py:psi_drift): even vs odd doc ids, 50-
    char bins. Everything after the first aggregation is bin-cardinality
    sized — the drift monitor a pipeline run can afford every time."""
    from etl_mark1_spark.plans.quality import psi_drift

    docs = t(spark, sf_dir, "documents")
    return psi_drift(docs.filter(F.col("doc_id") % 2 == 0),
                     docs.filter(F.col("doc_id") % 2 == 1),
                     "n_chars", 50.0)


@query("text_compression_ratio")
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compressed/raw size per document (functions/text.py:
    compression_ratio) — the classic repetitiveness signal: boilerplate
    compresses far below natural prose. Arrow-batched Pandas UDF (the
    SimHash boundary shape); deterministic for a fixed zlib level, so the
    committed golden replays it. Rows-only: no SQL engine exposes zlib."""
    from etl_mark1_spark.functions.text import compression_ratio

    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       compression_ratio("text").alias("zlib_ratio"))


@query("robust_outliers_orders", """
    WITH med AS (
        SELECT o_orderstatus, median(o_totalprice) AS med
        FROM orders GROUP BY 1
    ),
    dev AS (
        SELECT o.o_orderstatus, o.o_totalprice, m.med,
               abs(o.o_totalprice - m.med) AS ad
        FROM orders o JOIN med m USING (o_orderstatus)
    ),
    mad AS (SELECT o_orderstatus, median(ad) AS mad FROM dev GROUP BY 1)
    SELECT d.o_orderstatus,
           round(max(d.med), 6) AS med,
           round(max(m.mad), 6) AS mad,
           CAST(count(*) FILTER (
               WHERE 0.6745 * d.ad / m.mad > 3.5) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (o_orderstatus)
    GROUP BY d.o_orderstatus
""")
def robust_outliers_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection: median + MAD (the estimator
    that, unlike mean/stddev, outliers cannot drag), modified z-score
    0.6745*|x-med|/MAD > 3.5. Two exact percentile aggregations with the
    group medians broadcast back between them — no window over the fact,
    no second scan beyond the deviation pass."""
    orders = t(spark, sf_dir, "orders").select("o_orderstatus",
                                               "o_totalprice")
    med = orders.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("med"))
    dev = (orders.join(F.broadcast(med), "o_orderstatus")
           .withColumn("ad", F.abs(F.col("o_totalprice") - F.col("med"))))
    mad = dev.groupBy("o_orderstatus").agg(
        F.percentile("ad", F.lit(0.5)).alias("mad"))
    return (dev.join(F.broadcast(mad), "o_orderstatus")
            .groupBy("o_orderstatus")
            .agg(F.round(F.max("med"), 6).alias("med"),
                 F.round(F.max("mad"), 6).alias("mad"),
                 F.count(F.when(
                     F.lit(0.6745) * F.col("ad") / F.col("mad") > 3.5, 1))
                 .cast("bigint").alias("n_outliers")))


@query("cross_corpus_decontam", r"""
    WITH norm AS (
        SELECT doc_id,
               lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        FROM documents
    ),
    nums AS (SELECT unnest(range(1, 8001)) AS i),
    sh AS (
        SELECT DISTINCT doc_id, substring(t, CAST(i AS INTEGER), 5) AS g
        FROM norm JOIN nums ON i <= greatest(length(t) - 4, 1)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT s.doc_id AS src, b.doc_id AS ref, count(*) AS ix
        FROM sh s JOIN sh b ON s.g = b.g AND b.doc_id % 20 = 0
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT src, ref, CAST(ix AS DOUBLE) / (ss.n + sr.n - ix) AS j
        FROM inter
        JOIN sz ss ON ss.doc_id = src
        JOIN sz sr ON sr.doc_id = ref
        WHERE CAST(ix AS DOUBLE) / (ss.n + sr.n - ix) >= 0.8
    )
    SELECT src AS doc_id, ref AS matched_ref, round(j, 6) AS jaccard
    FROM (SELECT *, row_number() OVER (PARTITION BY src
                                       ORDER BY j DESC, ref) AS rn
          FROM jac)
    WHERE rn = 1
""")
def cross_corpus_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup decontamination of the corpus against a 'benchmark' slice
    (operators/dedup.py:minhash_cross_dedup): every 20th document plays
    the eval set; any corpus doc near-matching one is flagged with its
    best match. ORACLE-EXACT despite LSH candidate generation: the final
    filter is exact shingle Jaccard, so the only possible divergence from
    the oracle's all-pairs answer is an LSH recall miss — and at the 0.8
    threshold the banding (12x4) detects a qualifying pair with
    p >= 0.998, rising to ~1 for the >= 0.98 pairs this corpus actually
    contains, so the equality is deterministic for this data. The oracle
    replays the identical shingle definition (5-char grams of
    lowercased/space-collapsed text) and |∩|/(|A|+|B|-|∩|) arithmetic;
    golden + planted-contamination tests still pin the LSH machinery
    (tests/test_dedup_similarity.py)."""
    from etl_mark1_spark.operators.dedup import minhash_cross_dedup

    docs = t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 20 == 0)
    return minhash_cross_dedup(docs, benchmark, threshold=0.8)


@query("bloom_contaminated_docs", r"""
    WITH d AS (
      SELECT doc_id, source,
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                          ' ') AS tk
      FROM documents),
    p AS (SELECT doc_id, source, tk, unnest(range(1, len(tk) - 4)) AS i
          FROM d WHERE len(tk) >= 6),
    g AS (SELECT doc_id, source, array_to_string(tk[i:i+5], ' ') AS gram
          FROM p),
    ref AS (SELECT DISTINCT gram FROM g WHERE source = 'src0')
    SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_shared_grams
    FROM g
    WHERE source <> 'src0' AND gram IN (SELECT gram FROM ref)
    GROUP BY doc_id
""")
def bloom_contaminated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination via Bloom prefilter
    (operators/bloom.py:bloom_semi_filter): corpus docs sharing a word
    6-gram with the src0 'benchmark' slice. Unlike contamination_ngram's
    exact semi-join (which must broadcast or shuffle the full reference
    gram set), the reference grams here are compressed into a ~1.2-bytes/
    key Bloom filter and the corpus grams are screened MAP-SIDE — no
    shuffle, no join for the overwhelming non-matching majority; only
    bloom survivors reach the exact confirm join. ORACLE-EXACT because a
    Bloom filter has no false negatives and survivors are confirmed
    exactly — the sketch can only shrink the join, never change the
    answer. Reference surface: decontamination as plain SQL semi-join
    through backend/services/duckdb_engine.py:84-119."""
    from etl_mark1_spark.functions.grams import tokens, word_ngram_rows
    from etl_mark1_spark.operators.bloom import bloom_semi_filter
    from etl_mark1_spark.operators.dedup import ensure_parallelism

    # the gram explode multiplies the narrow single-split doc scan ~300x;
    # fan the 5k-row doc table out first so the probe runs on all cores
    docs = ensure_parallelism(t(spark, sf_dir, "documents"))
    grams = word_ngram_rows(docs, tokens("text"), 6, ("doc_id", "source"))
    ref = grams.filter(F.col("source") == "src0").select("gram").distinct()
    corpus = grams.filter(F.col("source") != "src0").select("doc_id", "gram")
    # auto-sizing costs one count job over the (small) reference but keeps
    # the probe literal minimal — measured faster than a conservatively
    # oversized fixed filter at this scale
    hits = bloom_semi_filter(corpus, ref, "gram")
    return hits.groupBy("doc_id").agg(
        F.countDistinct("gram").cast("bigint").alias("n_shared_grams"))


_DUP_SPAN_CTES = r"""
    WITH d AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                          ' ') AS tk
      FROM documents),
    p AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i
          FROM d WHERE len(tk) >= 8),
    g AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
                 array_to_string(tk[i:i+7], ' ') AS gram
          FROM p),
    f AS (SELECT gram FROM g GROUP BY gram
          HAVING count(DISTINCT doc_id) >= 2),
    h AS (SELECT g.doc_id, g.i FROM g JOIN f USING (gram)),
    isl AS (SELECT doc_id, i,
              max(i + 7) OVER (PARTITION BY doc_id ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
            FROM h),
    isl2 AS (SELECT doc_id, i,
               sum(CASE WHEN prev_end IS NULL OR i > prev_end + 1
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
             FROM isl)
"""


@query("duplicate_spans_docs", _DUP_SPAN_CTES + """
    SELECT doc_id, min(i) AS span_start, max(i) + 7 AS span_end,
           max(i) + 7 - min(i) + 1 AS span_tokens
    FROM isl2 GROUP BY doc_id, island
""")
def duplicate_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact substring dedup (operators/spans.py, after Lee et
    al. ACL 2022): maximal merged spans of 8-token windows appearing
    verbatim in >= 2 distinct documents. Flat-map shingling, one
    gram-keyed shuffle with map-side partials, per-document
    gaps-and-islands windows. Beyond the reference's row-level dedup
    surface (duckdb_engine.py DISTINCT); oracle replays the identical
    shingle/flag/merge arithmetic as chained CTEs."""
    from etl_mark1_spark.operators.spans import duplicate_spans

    return duplicate_spans(t(spark, sf_dir, "documents"),
                           n=8, min_docs=2)


@query("strip_dup_spans_docs", _DUP_SPAN_CTES + """
    , spans AS (SELECT doc_id, min(i) AS s, max(i) + 7 AS e
                FROM isl2 GROUP BY doc_id, island),
    tok AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM d),
    tok2 AS (SELECT doc_id, CAST(i AS BIGINT) AS i, tk[i] AS tok FROM tok),
    kept AS (SELECT t.doc_id, t.i, t.tok FROM tok2 t
             WHERE NOT EXISTS (SELECT 1 FROM spans s
                               WHERE s.doc_id = t.doc_id
                                 AND t.i BETWEEN s.s AND s.e))
    SELECT d.doc_id, coalesce(k.ct, '') AS clean_text
    FROM d LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS ct
                      FROM kept GROUP BY doc_id) k USING (doc_id)
""")
def strip_dup_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of exact substring dedup: cut every merged
    duplicated span out of the normalized text, keeping the rest of the
    document (operators/spans.py:strip_duplicate_spans). The rebuild is a
    per-row array filter against that doc's spans — no Python, no extra
    shuffle beyond the span derivation. The oracle rebuilds token-by-token
    with an anti-span NOT EXISTS and an ordered string_agg."""
    from etl_mark1_spark.operators.spans import strip_duplicate_spans

    return strip_duplicate_spans(t(spark, sf_dir, "documents"),
                                 n=8, min_docs=2)


@query("vocab_top_tokens", """
    WITH toks AS (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
        FROM documents),
    counts AS (
        SELECT token, CAST(count(*) AS BIGINT) AS cnt
        FROM toks WHERE token <> '' GROUP BY token
        HAVING count(*) >= 5)
    SELECT token, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
             AS token_id
    FROM counts
    ORDER BY token_id LIMIT 1000
""")
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary build (operators/corpus.py:build_vocab):
    frequency-ranked token ids with deterministic (count DESC, token ASC)
    tie-break. min_count prunes the hapax tail before any ordering and
    the max_size cap compiles to TakeOrderedAndProject, so the ranking
    window is bounded by the parameter, never the corpus."""
    from etl_mark1_spark.operators.corpus import build_vocab

    return build_vocab(t(spark, sf_dir, "documents"),
                       min_count=5, max_size=1000)


@query("encode_tokens_docs", """
    WITH toks AS (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
        FROM documents),
    counts AS (
        SELECT token, CAST(count(*) AS BIGINT) AS cnt
        FROM toks WHERE token <> '' GROUP BY token
        HAVING count(*) >= 5),
    vocab AS (
        SELECT token,
               CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
                 AS token_id
        FROM counts ORDER BY token_id LIMIT 1000),
    pos AS (
        SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
        FROM (SELECT doc_id,
                     string_split_regex(lower(text), '\\s+') AS tk
              FROM documents) d),
    doc_toks AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos, tk[i] AS token
        FROM pos WHERE tk[i] <> '')
    SELECT doc_id,
           array_to_string(list(token_id ORDER BY pos), ',') AS token_ids
    FROM doc_toks JOIN vocab USING (token)
    GROUP BY doc_id
""")
def encode_tokens_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents encoded as in-vocabulary token-id sequences
    (operators/corpus.py:encode_tokens) against the capped build_vocab
    vocabulary — OOV tokens dropped by policy. Broadcast token->id join
    on the exploded stream; one per-doc regroup restores order. The
    catalog entry joins the id sequence to one comma-separated string
    (output-typing convention, catalog/__init__.py); the operator itself
    still returns the real array column."""
    from etl_mark1_spark.operators.corpus import build_vocab, encode_tokens

    docs = t(spark, sf_dir, "documents")
    vocab = build_vocab(docs, min_count=5, max_size=1000)
    enc = encode_tokens(docs, vocab)
    return enc.select(
        "doc_id",
        F.array_join(F.transform(F.col("token_ids"),
                                 lambda x: x.cast("string")), ",")
        .alias("token_ids"))


@query("ann_int8_topk", """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id = 1),
    qq AS (SELECT list_transform(
                    v, x -> round(x / (list_aggregate(
                        list_transform(v, y -> abs(y)), 'max') / 127.0)))
               AS qv
           FROM q),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id <> 1),
    es AS (SELECT vec_id, v,
                  list_aggregate(list_transform(v, y -> abs(y)), 'max')
                    / 127.0 AS s
           FROM e),
    eq AS (SELECT vec_id,
                  CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
                       ELSE list_transform(v, x -> round(x / s)) END AS ev
           FROM es)
    SELECT vec_id,
           round(list_dot_product(ev, qv)
                 / NULLIF(sqrt(list_dot_product(ev, ev))
                          * sqrt(list_dot_product(qv, qv)), 0), 6)
               AS similarity
    FROM eq, qq
    ORDER BY similarity DESC, vec_id
    LIMIT 10
""")
def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-10 computed entirely in int8-quantized space
    (operators/similarity.py:int8_cosine_topk) — the memory-bound ANN
    path: 4x smaller vectors, integer dot products (exact in doubles),
    per-vector scales cancel in cosine. ORACLE-EXACT, not error-band:
    quantization (divide by precomputed scale, round half away from
    zero) and the integer-dot arithmetic are bit-reproducible between
    Spark and DuckDB."""
    from etl_mark1_spark.operators.similarity import int8_cosine_topk

    qv = _query_vector(spark, sf_dir, 1)
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 1)
    return int8_cosine_topk(emb, qv, k=10)


@query("gopher_quality_docs", r"""
    WITH s AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         t -> t <> '') AS toks,
             list_filter(string_split(text, chr(10)),
                         l -> trim(l) <> '') AS lines,
             CAST(len(regexp_extract_all(text, '#'))
                  + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT)
               AS n_symbols
      FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(coalesce(list_aggregate(
                 list_transform(toks, t -> length(t)), 'sum'), 0)
               AS BIGINT) AS word_chars,
             CAST(len(list_filter(toks,
                 t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS n_alpha,
             n_symbols,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines,
                 l -> regexp_matches(l, '^\s*[-*•]'))) AS BIGINT) AS n_bullet,
             CAST(len(list_filter(lines,
                 l -> regexp_matches(l, '\.\.\.\s*$'))) AS BIGINT)
               AS n_ellipsis,
             CAST(len(list_intersect(list_distinct(toks),
                 ['the','be','to','of','and','that','have','with']))
               AS BIGINT) AS n_stop
      FROM s)
    SELECT doc_id, n_words,
           n_words >= 50 AND n_words <= 100000        AS ok_word_count,
           word_chars >= 3 * n_words
             AND word_chars <= 10 * n_words           AS ok_mean_word_len,
           10 * n_symbols <= n_words                  AS ok_symbol_ratio,
           10 * n_bullet <= 9 * n_lines               AS ok_bullet_lines,
           10 * n_ellipsis <= 3 * n_lines             AS ok_ellipsis_lines,
           10 * n_alpha >= 8 * n_words                AS ok_alpha_words,
           n_stop >= 2                                AS ok_stopwords,
           (n_words >= 50 AND n_words <= 100000)
             AND (word_chars >= 3 * n_words AND word_chars <= 10 * n_words)
             AND 10 * n_symbols <= n_words
             AND 10 * n_bullet <= 9 * n_lines
             AND 10 * n_ellipsis <= 3 * n_lines
             AND 10 * n_alpha >= 8 * n_words
             AND n_stop >= 2                          AS keep
    FROM m
""")
def gopher_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality battery (functions/text.py:
    gopher_quality_flags, after Rae et al. 2021 A1.1): named boolean
    rule flags + combined keep decision per document. All thresholds in
    integer arithmetic, pure map-side projection — oracle-exact with no
    float edge cases."""
    from etl_mark1_spark.functions.text import gopher_quality_flags

    return gopher_quality_flags(t(spark, sf_dir, "documents"))


@query("repetition_profile_docs", r"""
    WITH lines AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, chr(10)),
                                l -> trim(l) <> '')) AS line
      FROM documents),
    per_line AS (
      SELECT doc_id, line, count(*) AS cnt, length(line) AS len
      FROM lines GROUP BY doc_id, line),
    line_stats AS (
      SELECT doc_id, CAST(sum(cnt * len) AS BIGINT) AS line_chars,
             CAST(sum((cnt - 1) * len) AS BIGINT) AS dup_line_chars
      FROM per_line GROUP BY doc_id),
    d AS (SELECT doc_id,
                 lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt
          FROM documents),
    t2 AS (SELECT doc_id, length(nt) AS chars, string_split(nt, ' ') AS tk
           FROM d),
    p AS (SELECT doc_id, chars, tk, unnest(range(1, len(tk))) AS i
          FROM t2 WHERE len(tk) >= 2),
    g AS (SELECT doc_id, chars, array_to_string(tk[i:i+1], ' ') AS gram
          FROM p),
    gc AS (SELECT doc_id, chars, gram, count(*) AS cnt
           FROM g GROUP BY doc_id, chars, gram),
    top AS (SELECT doc_id, gram AS top_bigram,
                   CAST(cnt * length(gram) AS BIGINT) AS top_chars,
                   CAST(chars AS BIGINT) AS chars
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
                  FROM gc) WHERE rn = 1)
    SELECT doc.doc_id,
           round(CASE WHEN coalesce(ls.line_chars, 0) = 0 THEN 0.0
                      ELSE CAST(ls.dup_line_chars AS DOUBLE)
                           / CAST(ls.line_chars AS DOUBLE) END, 6)
             AS dup_line_ratio,
           coalesce(top.top_bigram, '') AS top_bigram,
           round(CASE WHEN coalesce(top.chars, 0) = 0 THEN 0.0
                      ELSE CAST(top.top_chars AS DOUBLE)
                           / CAST(top.chars AS DOUBLE) END, 6)
             AS top_bigram_ratio,
           10 * coalesce(ls.dup_line_chars, 0)
             <= 3 * coalesce(ls.line_chars, 0) AS ok_dup_lines,
           10 * coalesce(top.top_chars, 0)
             <= 2 * coalesce(top.chars, 0) AS ok_top_bigram
    FROM documents doc
    LEFT JOIN line_stats ls USING (doc_id)
    LEFT JOIN top USING (doc_id)
""")
def repetition_profile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition battery (functions/text.py:
    repetition_profile, after the Gopher repetition rules): duplicated-
    line char fraction and top-bigram coverage with integer-exact ok
    flags. Two doc-keyed aggregations + one per-doc top-1 window."""
    from etl_mark1_spark.functions.text import repetition_profile

    return repetition_profile(t(spark, sf_dir, "documents"))


@query("dsir_importance_docs", r"""
    WITH ttk AS (
      SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok
      FROM documents WHERE source = 'src0'),
    ttk2 AS (SELECT tok FROM ttk WHERE tok <> ''),
    ctk AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
      FROM documents WHERE source <> 'src0'),
    ctk2 AS (SELECT doc_id, tok FROM ctk WHERE tok <> ''),
    tc AS (SELECT tok, count(*) AS ct FROM ttk2 GROUP BY tok),
    cc AS (SELECT tok, count(*) AS ccnt FROM ctk2 GROUP BY tok),
    vocab AS (SELECT DISTINCT tok FROM
              (SELECT tok FROM tc UNION ALL SELECT tok FROM cc)),
    sizes AS (SELECT (SELECT count(*) FROM vocab) AS v,
                     (SELECT sum(ct) FROM tc) AS nt,
                     (SELECT sum(ccnt) FROM cc) AS nc),
    ratios AS (
      SELECT vocab.tok,
             ln(CAST(coalesce(tc.ct, 0) + 1 AS DOUBLE)
                / CAST(nt + v AS DOUBLE))
             - ln(CAST(coalesce(cc.ccnt, 0) + 1 AS DOUBLE)
                  / CAST(nc + v AS DOUBLE)) AS lr
      FROM vocab LEFT JOIN tc USING (tok) LEFT JOIN cc USING (tok), sizes)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(lr), 6) AS dsir_score
    FROM ctk2 JOIN ratios USING (tok)
    GROUP BY doc_id
""")
def dsir_importance_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scores (operators/corpus.py:dsir_importance, after
    Xie et al. NeurIPS 2023): every non-src0 document scored by the
    average token log-likelihood ratio between a src0-trained and a
    corpus-trained add-1 unigram LM. Count tables broadcast onto one
    exploded corpus scan; feed scores to weighted_sample for the
    resampling step."""
    from etl_mark1_spark.operators.corpus import dsir_importance

    docs = t(spark, sf_dir, "documents")
    return dsir_importance(docs.filter(F.col("source") != "src0"),
                           docs.filter(F.col("source") == "src0"))




@query("incremental_neardup_docs", r"""
    WITH d AS (SELECT doc_id,
                      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt
               FROM documents),
    p AS (SELECT doc_id, nt,
                 unnest(range(1, greatest(len(nt) - 4, 1) + 1)) AS i
          FROM d),
    sh AS (SELECT doc_id,
                  list_distinct(list(substr(nt, CAST(i AS INT), 5))) AS s
           FROM p GROUP BY doc_id),
    newd AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 4),
    prior AS (SELECT n.doc_id AS nid, o.doc_id AS oid,
                     CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
                     / CAST(len(x.s) + len(y.s)
                            - len(list_intersect(x.s, y.s)) AS DOUBLE) AS j
              FROM newd n
              JOIN documents o
                ON (o.doc_id % 5 <> 4 OR o.doc_id < n.doc_id)
               AND o.doc_id <> n.doc_id
              JOIN sh x ON x.doc_id = n.doc_id
              JOIN sh y ON y.doc_id = o.doc_id),
    sel AS (SELECT nid, oid, j,
                   row_number() OVER (PARTITION BY nid ORDER BY oid) AS rn
            FROM prior WHERE j >= 0.8)
    SELECT n.doc_id, s.oid AS dup_of, s.j AS jaccard_sim
    FROM newd n LEFT JOIN sel s ON s.nid = n.doc_id AND s.rn = 1
    ORDER BY n.doc_id
""")
def incremental_neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-on-ingest (operators/incremental.py): documents with
    doc_id % 5 = 4 arrive as a batch against an LSH index built from the
    other 80%; each new doc reports the smallest prior (indexed or
    earlier-in-batch) near-duplicate and its exact shingle Jaccard, NULL
    when unique. ORACLE-EXACT on the minhash_neardup argument: banding
    and the signature-agreement prefilter only narrow candidates —
    membership is exact Jaccard >= 0.8 — and the oracle replays the
    all-pairs new x prior comparison with the keep-first (min prior id)
    policy. History is only re-shingled for candidate ids (semi-join);
    the index row is ~0.5 KB/doc, so the batch side broadcasts and the
    100 TB index never shuffles."""
    from etl_mark1_spark.operators.incremental import (incremental_neardup,
                                                       minhash_index)

    docs = t(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 5 != 4)
    new = docs.filter(F.col("doc_id") % 5 == 4)
    idx = minhash_index(history)
    return incremental_neardup(new, idx, history)


_KEEP_FIRST_CTES = r"""
    WITH d AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                          ' ') AS tk
      FROM documents),
    p AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i
          FROM d WHERE len(tk) >= 8),
    g AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
                 array_to_string(tk[i:i+7], ' ') AS gram
          FROM p),
    r AS (SELECT doc_id, i,
                 row_number() OVER (PARTITION BY gram ORDER BY doc_id, i)
                   AS rn
          FROM g),
    h AS (SELECT doc_id, i FROM r WHERE rn > 1),
    isl AS (SELECT doc_id, i,
              max(i + 7) OVER (PARTITION BY doc_id ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
            FROM h),
    isl2 AS (SELECT doc_id, i,
               sum(CASE WHEN prev_end IS NULL OR i > prev_end + 1
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
             FROM isl)
"""


@query("strip_spans_keep_first_docs", _KEEP_FIRST_CTES + """
    , spans AS (SELECT doc_id, min(i) AS s, max(i) + 7 AS e
                FROM isl2 GROUP BY doc_id, island),
    tok AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM d),
    tok2 AS (SELECT doc_id, CAST(i AS BIGINT) AS i, tk[i] AS tok FROM tok),
    kept AS (SELECT t.doc_id, t.i, t.tok FROM tok2 t
             WHERE NOT EXISTS (SELECT 1 FROM spans s
                               WHERE s.doc_id = t.doc_id
                                 AND t.i BETWEEN s.s AND s.e))
    SELECT d.doc_id, coalesce(k.ct, '') AS clean_text
    FROM d LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS ct
                      FROM kept GROUP BY doc_id) k USING (doc_id)
""")
def strip_spans_keep_first_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first exact substring dedup (operators/spans.py:
    strip_spans_keep_first, the RefinedWeb / Lee et al. policy): each
    duplicated 8-token window keeps its corpus-wide FIRST occurrence
    (smallest (doc_id, position)) and every later verbatim copy — cross-
    document or a doc's own repetition — is merged into maximal spans
    and cut, so the corpus retains exactly one copy of each boilerplate
    run instead of losing all of them (the strip_dup_spans_docs
    variant). Flagging is a per-gram row_number window on the same
    gram-keyed shuffle as the count variant; islands and strip are
    per-document. The oracle replays the rank/merge/cut token-by-token."""
    from etl_mark1_spark.operators.spans import strip_spans_keep_first

    return strip_spans_keep_first(t(spark, sf_dir, "documents"), n=8)


@query("span_coverage_docs", _DUP_SPAN_CTES + """
    , spans AS (SELECT doc_id, min(i) AS s, max(i) + 7 AS e
                FROM isl2 GROUP BY doc_id, island)
    SELECT d.doc_id,
           CAST(len(d.tk) AS BIGINT) AS total_tokens,
           CAST(sum(s.e - s.s + 1) AS BIGINT) AS dup_tokens,
           round(CAST(sum(s.e - s.s + 1) AS DOUBLE) / len(d.tk), 6)
             AS dup_frac
    FROM spans s JOIN d USING (doc_id)
    GROUP BY d.doc_id, len(d.tk)
""")
def span_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate pressure (operators/spans.py:
    span_dedup_coverage): the fraction of each text inside a
    cross-document duplicated span — the signal curation thresholds on
    before choosing drop-document vs strip-span vs keep. Merged maximal
    spans are summed, so overlapping windows count once; only documents
    with at least one duplicated span appear. Span derivation is the
    duplicate_spans_docs pipeline; the rollup adds one per-doc
    aggregate."""
    from etl_mark1_spark.operators.spans import span_dedup_coverage

    return span_dedup_coverage(t(spark, sf_dir, "documents"),
                               n=8, min_docs=2)


@query("broadcast_decontam_docs", r"""
    WITH d AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                          ' ') AS tk
      FROM documents),
    p AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 11)) AS i
          FROM d WHERE len(tk) >= 13),
    g AS (SELECT doc_id, array_to_string(tk[i:i+12], ' ') AS gram
          FROM p),
    ref AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0)
    SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_hits
    FROM g
    WHERE doc_id % 17 <> 0 AND gram IN (SELECT gram FROM ref)
    GROUP BY doc_id
""")
def broadcast_decontam_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free 13-gram decontamination (operators/dedup.py:
    broadcast_ngram_decontam, the GPT-3/RefinedWeb n): the held-out
    slice's (doc_id % 17 = 0) distinct grams are collected once —
    eval-suite bounded, loudly refused beyond max_ref_grams — and
    broadcast; every corpus document's hit count is decided INSIDE the
    scan stage by an Arrow-batched set intersection, so the corpus
    never hash-shuffles (pinned by a plan test). Membership is on gram
    strings, no hash screen — nothing to confirm, oracle-exact. The
    third point on the decontam cost curve after the exact semi-join
    (shuffles both sides) and the Bloom screen (map-side filter, then
    a confirm join)."""
    from etl_mark1_spark.operators.dedup import broadcast_ngram_decontam

    docs = t(spark, sf_dir, "documents")
    return broadcast_ngram_decontam(
        docs.filter(F.col("doc_id") % 17 != 0),
        docs.filter(F.col("doc_id") % 17 == 0), n=13)


@query("broadcast_decontam_fixed_ref", r"""
    WITH d AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                          ' ') AS tk
      FROM documents),
    p AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 11)) AS i
          FROM d WHERE len(tk) >= 13),
    g AS (SELECT doc_id, array_to_string(tk[i:i+12], ' ') AS gram
          FROM p),
    ref AS (SELECT DISTINCT gram FROM g
            WHERE doc_id % 17 = 0 AND doc_id <= 5000)
    SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_hits
    FROM g
    WHERE NOT (doc_id % 17 = 0 AND doc_id <= 5000)
      AND gram IN (SELECT gram FROM ref)
    GROUP BY doc_id
""")
def broadcast_decontam_fixed_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """broadcast_decontam_docs with a FIXED-SIZE reference slice
    (doc_id % 17 = 0 AND doc_id <= 5000) — the PRODUCTION decontam
    shape: the held-out eval suite is a constant, only the corpus
    grows. The sibling entry's 10x scale pair scaled the reference
    slice with the corpus, so it measured broadcast-set growth the
    operator's own contract says cannot happen; this entry's pair
    measures the claim that matters — constant broadcast set, linear
    map-side scan, no shuffle of corpus text. Identical to the sibling
    at sf0.1 (every doc_id there is <= 5000); at the 10x replica
    dataset the reference stays replica 0's slice."""
    from etl_mark1_spark.operators.dedup import broadcast_ngram_decontam

    docs = t(spark, sf_dir, "documents")
    ref = (F.col("doc_id") % 17 == 0) & (F.col("doc_id") <= 5000)
    return broadcast_ngram_decontam(docs.filter(~ref),
                                    docs.filter(ref), n=13)


@query("decontam_rate_by_source", r"""
    WITH d AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                          ' ') AS tk
      FROM documents),
    p AS (SELECT doc_id, tk, unnest(range(1, len(tk) - 11)) AS i
          FROM d WHERE len(tk) >= 13),
    g AS (SELECT doc_id, array_to_string(tk[i:i+12], ' ') AS gram
          FROM p),
    ref AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0),
    hit AS (SELECT DISTINCT doc_id FROM g
            WHERE doc_id % 17 <> 0 AND gram IN (SELECT gram FROM ref))
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM hit))
                AS BIGINT) AS n_contaminated,
           round(CAST(count(*) FILTER (WHERE doc_id IN
                      (SELECT doc_id FROM hit)) AS DOUBLE) / count(*), 6)
             AS rate
    FROM documents
    WHERE doc_id % 17 <> 0
    GROUP BY source
""")
def decontam_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contamination REPORT a curation run publishes: per-source
    document counts, contaminated counts (>= one shared 13-gram with
    the held-out slice), and the rate — the roll-up that decides
    whether a source is dropped wholesale or only its flagged docs.
    Rides broadcast_ngram_decontam's shuffle-free flags; the rollup is
    one hash aggregate on source."""
    from etl_mark1_spark.operators.dedup import broadcast_ngram_decontam

    docs = t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    hits = broadcast_ngram_decontam(
        corpus, docs.filter(F.col("doc_id") % 17 == 0), n=13) \
        .select("doc_id", F.lit(1).alias("_hit"))
    return (corpus.join(hits, "doc_id", "left")
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                 .cast("bigint").alias("n_contaminated"))
            .withColumn("rate", F.round(
                F.col("n_contaminated").cast("double") / F.col("n_docs"),
                6)))


@query("corpus_datacard_sources", r"""
    WITH d AS (
      SELECT source, lang, n_chars, md5(text) AS th,
             len(list_filter(
                 string_split(lower(trim(regexp_replace(text, '\s+', ' ',
                                                        'g'))), ' '),
                 x -> x <> '')) AS toks
      FROM documents),
    s AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(toks) AS BIGINT) AS n_tokens,
             round(CAST(sum(toks) AS DOUBLE) / count(*), 4) AS avg_tokens,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(DISTINCT th) AS BIGINT) AS distinct_texts,
             round(CAST(count(*) FILTER (WHERE toks < 20) AS DOUBLE)
                   / count(*), 6) AS pct_short,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM d GROUP BY source),
    lc AS (
      SELECT source, lang, count(*) AS c,
             row_number() OVER (PARTITION BY source
                                ORDER BY count(*) DESC, lang) AS rn
      FROM documents GROUP BY source, lang)
    SELECT s.*, lc.lang AS top_lang
    FROM s JOIN lc ON s.source = lc.source AND lc.rn = 1
""")
def corpus_datacard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The datacard a training run publishes per source: document and
    token counts, average length, language spread and the dominant
    language, the short-doc fraction, total bytes-ish (chars), and the
    distinct-text count (the instant exact-dedup-rate signal). One hash
    aggregate over the scan carries every algebraic stat with map-side
    partials; distinct texts are counted through md5 so the shuffle
    carries 32-byte digests, never document bodies (both engines hash
    identically, so the count stays oracle-exact); the dominant
    language is a broadcast-sized (source, lang) rollup with a
    deterministic count-then-name tie-break."""
    from etl_mark1_spark.functions.text import normalized_text

    docs = t(spark, sf_dir, "documents")
    toks = F.size(F.filter(
        F.split(normalized_text(F.col("text")), " "), lambda x: x != ""))
    s = (docs.groupBy("source")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
              F.sum(toks).cast("bigint").alias("n_tokens"),
              F.countDistinct("lang").cast("bigint").alias("n_langs"),
              F.countDistinct(F.md5("text")).cast("bigint")
              .alias("distinct_texts"),
              F.sum(F.when(toks < 20, 1).otherwise(0)).alias("_n_short"),
              F.sum("n_chars").cast("bigint").alias("total_chars"))
         .withColumn("avg_tokens", F.round(
             F.col("n_tokens").cast("double") / F.col("n_docs"), 4))
         .withColumn("pct_short", F.round(
             F.col("_n_short").cast("double") / F.col("n_docs"), 6))
         .drop("_n_short"))
    w = Window.partitionBy("source").orderBy(F.desc("_c"), F.col("lang"))
    top = (docs.groupBy("source", "lang")
           .agg(F.count(F.lit(1)).alias("_c"))
           .withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") == 1)
           .select("source", F.col("lang").alias("top_lang")))
    return (s.join(F.broadcast(top), "source")
            .select("source", "n_docs", "n_tokens", "avg_tokens",
                    "n_langs", "distinct_texts", "pct_short",
                    "total_chars", "top_lang"))
