"""Rolling range windows, statistics, histograms, CDC, Z-order layout.

Split out of the original single-module catalog (round 6); registration
order is preserved by the import order in ``catalog/__init__.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_mark1_spark.catalog._registry import query, t

# ---------------------------------------------------------------------------
# Round 2: rolling range windows, statistics, histograms, weighted sampling,
# CDC (upsert / SCD2), and Z-order layout
# ---------------------------------------------------------------------------

@query("window_range_rolling", """
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))) OVER w, 2) AS DOUBLE)
               AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""")
def window_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 1-hour aggregates per user: a RANGE frame over event time
    (micros), not a ROWS frame — the window contains whatever fits in the
    hour, however many rows that is. Decimal sum so both engines accumulate
    exactly; the rounded result is cast to DOUBLE for output
    (output-typing convention, catalog/__init__.py). One shuffle on
    user_id; frames evaluate in a single sorted pass per partition."""
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
         .rangeBetween(-3_600_000_000, 0))
    return (t(spark, sf_dir, "events")
            .select("event_id", "user_id",
                    F.count(F.lit(1)).over(w).cast("bigint").alias("n_1h"),
                    F.round(F.sum(F.col("value").cast("decimal(18,2)"))
                            .over(w), 2).cast("double").alias("sum_1h")))


@query("rolling_median_price", """
    SELECT o_orderkey,
           round(median(o_totalprice) OVER (
               PARTITION BY o_orderstatus
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS roll_med
    FROM orders
""")
def rolling_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median (holistic aggregate over a sliding frame) — the
    window shape hash/avg tricks can't fake. Spark evaluates the exact
    percentile aggregate per frame; both engines interpolate the middle
    pair identically for even frames, so 2dp rounding is only
    belt-and-braces. Partitioned by status: parallel, no global sort."""
    from pyspark.sql import Window as W

    w = (W.partitionBy("o_orderstatus")
         .orderBy("o_orderdate", "o_orderkey").rowsBetween(-6, 0))
    return (t(spark, sf_dir, "orders")
            .select("o_orderkey",
                    F.round(F.percentile("o_totalprice", F.lit(0.5)).over(w),
                            2).alias("roll_med")))


@query("window_rank_family", """
    SELECT o_orderkey,
           round(percent_rank() OVER w, 6)  AS pr,
           round(cume_dist() OVER w, 6)     AS cd,
           nth_value(o_orderkey, 3) OVER (
               PARTITION BY o_orderstatus
               ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice, o_orderkey)
""")
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / nth_value battery over a deterministic
    (value, key) ordering. The rank ratios are the same double divisions
    in both engines; nth_value uses the running frame so the first two
    rows of each partition yield NULL identically."""
    from pyspark.sql import Window as W

    w = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (t(spark, sf_dir, "orders")
            .select("o_orderkey",
                    F.round(F.percent_rank().over(w), 6).alias("pr"),
                    F.round(F.cume_dist().over(w), 6).alias("cd"),
                    F.nth_value("o_orderkey", 3).over(wf)
                    .alias("third_key")))


@query("boilerplate_ngrams", r"""
    WITH toks AS (
        SELECT doc_id,
               string_split_regex(lower(trim(regexp_replace(
                   text, '\s+', ' ', 'g'))), ' ') AS ws
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               array_to_string(ws[CAST(i AS INTEGER):CAST(i + 7 AS INTEGER)],
                               ' ') AS gram
        FROM toks JOIN (SELECT unnest(range(1, 8001)) AS i)
            ON i <= len(ws) - 7
    )
    SELECT gram, CAST(count(*) AS BIGINT) AS n_docs
    FROM grams GROUP BY gram HAVING count(*) >= 3
""")
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated 8-word grams — the boilerplate/template
    detector behind exact substring dedup (flag spans shared by >= 3
    docs: headers, licenses, navigation chrome). One exploded gram scan,
    distinct per doc, then a count-by-gram with map-side partials; the
    HAVING bound keeps the result set tiny. Set-valued output (no top-k
    tie boundary), so the comparison is hash-exact."""
    from etl_mark1_spark.functions.grams import tokens, word_ngram_rows

    docs = t(spark, sf_dir, "documents")
    # docs shorter than the gram emit none, as on the SQL side
    grams = (word_ngram_rows(docs, tokens("text"), 8, ("doc_id",))
             .select("doc_id", "gram").distinct())
    return (grams.groupBy("gram")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
            .filter(F.col("n_docs") >= 3))


@query("histogram_prices", """
    SELECT CAST(least(floor(l_extendedprice / 10000), 9) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT)            AS n,
           round(min(l_extendedprice), 2)      AS lo,
           round(max(l_extendedprice), 2)      AS hi
    FROM lineitem
    GROUP BY bucket
""")
def histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram as a map-side bucket expression + one
    aggregation (no width_bucket dependency; the arithmetic IS the
    operator). The 100 TB shape: bucketing before the shuffle means the
    exchange carries 10 groups, not 600k rows."""
    b = F.least(F.floor(F.col("l_extendedprice") / 10000), F.lit(9)) \
        .cast("bigint")
    return (t(spark, sf_dir, "lineitem")
            .groupBy(b.alias("bucket"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.round(F.min("l_extendedprice"), 2).alias("lo"),
                 F.round(F.max("l_extendedprice"), 2).alias("hi")))


@query("column_entropy", """
    WITH c AS (SELECT source, lang, CAST(count(*) AS DOUBLE) AS n
               FROM documents GROUP BY source, lang),
         tot AS (SELECT source, sum(n) AS tot FROM c GROUP BY source)
    SELECT c.source,
           round(-sum((n / tot) * log2(n / tot)), 6) AS lang_entropy
    FROM c JOIN tot USING (source)
    GROUP BY c.source
""")
def column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the language mix per source — the distribution-
    drift / diversity metric for corpus monitoring. Two small aggregations
    over already-reduced counts; the wide table is touched once."""
    docs = t(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang") \
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    tot = c.groupBy("source").agg(F.sum("n").alias("tot"))
    p = F.col("n") / F.col("tot")
    return (c.join(tot, "source")
            .groupBy("source")
            .agg(F.round(-F.sum(p * F.log2(p)), 6).alias("lang_entropy")))


@query("corr_stats", """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6)       AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
           round(stddev_samp(l_discount), 6)                 AS discount_sd
    FROM lineitem
    GROUP BY l_returnflag
""")
def corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics battery (corr / covar_samp / stddev_samp)
    — single-pass co-moment aggregates with map-side partials in both
    engines; rounded because merge order differs."""
    return (t(spark, sf_dir, "lineitem")
            .groupBy("l_returnflag")
            .agg(F.round(F.corr("l_quantity", "l_extendedprice"), 6)
                 .alias("qty_price_corr"),
                 F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2)
                 .alias("qty_price_covar"),
                 F.round(F.stddev_samp("l_discount"), 6)
                 .alias("discount_sd")))


@query("spearman_qty_price", """
    WITH r AS (
        SELECT (rank() OVER (ORDER BY l_quantity)
                + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0)
                   AS ra,
               (rank() OVER (ORDER BY l_extendedprice)
                + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0)
                   AS rb
        FROM lineitem)
    SELECT round(corr(ra, rb), 6) AS spearman,
           CAST(count(*) AS BIGINT) AS n
    FROM r
""")
def spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs extended price
    (plans/quality.py:spearman_corr) — monotonic association, tie-average
    ranks. The oracle ranks with global SQL windows; the Spark side
    derives identical average ranks from per-distinct-value counts + the
    two-phase prefix sum, no global sort anywhere."""
    from etl_mark1_spark.plans.quality import spearman_corr

    return spearman_corr(t(spark, sf_dir, "lineitem"),
                         "l_quantity", "l_extendedprice")


@query("mi_status_priority", """
    WITH j AS (
        SELECT o_orderstatus AS a, o_orderpriority AS b, count(*) AS nab
        FROM orders GROUP BY 1, 2),
    ma AS (SELECT a, sum(nab) AS na FROM j GROUP BY 1),
    mb AS (SELECT b, sum(nab) AS nb FROM j GROUP BY 1),
    t AS (SELECT sum(nab) AS n FROM j)
    SELECT round(sum((nab * 1.0 / n) * ln(nab * 1.0 * n / (na * nb))), 6)
             AS mi,
           CAST(max(n) AS BIGINT) AS n
    FROM j JOIN ma USING (a) JOIN mb USING (b), t
""")
def mi_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between order status and priority
    (plans/quality.py:mutual_information) — the categorical redundancy
    screen; everything after the joint-count aggregate is
    contingency-sized."""
    from etl_mark1_spark.plans.quality import mutual_information

    return mutual_information(t(spark, sf_dir, "orders"),
                              "o_orderstatus", "o_orderpriority")


@query("chi2_status_priority", """
    WITH j AS (
        SELECT o_orderstatus AS a, o_orderpriority AS b, count(*) AS nab
        FROM orders GROUP BY 1, 2),
    ma AS (SELECT a, sum(nab) AS na FROM j GROUP BY 1),
    mb AS (SELECT b, sum(nab) AS nb FROM j GROUP BY 1),
    t AS (SELECT sum(nab) AS n, count(DISTINCT a) AS ka,
                 count(DISTINCT b) AS kb FROM j)
    SELECT round(max(n) * sum(nab * nab * 1.0 / (na * nb)) - max(n), 4)
             AS chi2,
           CAST((max(ka) - 1) * (max(kb) - 1) AS BIGINT) AS dof,
           CAST(max(n) AS BIGINT) AS n
    FROM j JOIN ma USING (a) JOIN mb USING (b), t
""")
def chi2_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared independence statistic for order status vs
    priority (plans/quality.py:chi_squared), via the observed-cells-only
    identity n * sum(o^2/(ra*cb)) - n — unobserved cells of the marginal
    product fold into the -n term algebraically."""
    from etl_mark1_spark.plans.quality import chi_squared

    return chi_squared(t(spark, sf_dir, "orders"),
                       "o_orderstatus", "o_orderpriority")


@query("weighted_sample_quality", """
    SELECT doc_id, lang, source
    FROM documents
    WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) / 4294967296.0
          < least(greatest(n_chars / 400.0, 0.0), 1.0)
""")
def weighted_sample_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted downsampling: keep probability proportional to a
    per-row score, decided by md5-of-id — deterministic across engines,
    runs, and partitionings (operators/corpus.py:weighted_sample). Pure
    map-side filter: no shuffle, expected kept fraction = avg(weight)."""
    from etl_mark1_spark.operators.corpus import weighted_sample

    docs = t(spark, sf_dir, "documents")
    return weighted_sample(docs, F.col("n_chars") / 400.0) \
        .select("doc_id", "lang", "source")


@query("upsert_orders", """
    WITH updates AS (
        SELECT o_orderkey,
               CAST(round(CAST(o_totalprice AS DECIMAL(18,2))
                          * CAST(1.1 AS DECIMAL(2,1)), 2) AS DOUBLE)
               AS o_totalprice,
               'REPRICED' AS o_orderpriority
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 100000000, round(o_totalprice, 2), 'NEW'
        FROM orders WHERE o_orderkey % 1000 = 0
    )
    SELECT o_orderkey, o_totalprice, o_orderpriority FROM updates
    UNION ALL
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
           o_orderpriority
    FROM orders WHERE o_orderkey % 10 <> 0
""")
def upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE (operators/cdc.py:upsert): a change batch of repriced +
    brand-new orders applied over the base table — updates win, new keys
    append, untouched rows pass through. One anti-join on the key."""
    from etl_mark1_spark.operators.cdc import upsert

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderpriority")
    repriced = (orders.filter(F.col("o_orderkey") % 10 == 0)
                .select("o_orderkey",
                        F.round(F.col("o_totalprice").cast("decimal(18,2)")
                                * F.expr("CAST(1.1 AS DECIMAL(2,1))"), 2)
                        .cast("double").alias("o_totalprice"),
                        F.lit("REPRICED").alias("o_orderpriority")))
    fresh = (orders.filter(F.col("o_orderkey") % 1000 == 0)
             .select((F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                     "o_totalprice", F.lit("NEW").alias("o_orderpriority")))
    return upsert(orders, repriced.unionByName(fresh), ["o_orderkey"])


@query("pii_scan_docs", r"""
    WITH d AS (
        SELECT CASE WHEN doc_id % 7 = 0
                    THEN text || ' contact: user' || doc_id
                         || '@example.com'
                    WHEN doc_id % 11 = 0
                    THEN text || ' call +1 (555) 010-' || doc_id
                    ELSE text END AS text,
               source
        FROM documents),
    t AS (SELECT count(*) AS n FROM d)
    SELECT scanned_col, pattern, n_hits,
           round(n_hits * 1.0 / greatest(n, 1), 6) AS hit_rate
    FROM (
        SELECT 'text' AS scanned_col, 'EMAIL' AS pattern,
               count(CASE WHEN regexp_matches(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
                 THEN 1 END) AS n_hits FROM d
        UNION ALL
        SELECT 'text', 'PHONE',
               count(CASE WHEN regexp_matches(text,
                 '\+?[0-9][0-9()\- ]{7,}[0-9]') THEN 1 END) FROM d
        UNION ALL
        SELECT 'source', 'EMAIL',
               count(CASE WHEN regexp_matches(source,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
                 THEN 1 END) FROM d
        UNION ALL
        SELECT 'source', 'PHONE',
               count(CASE WHEN regexp_matches(source,
                 '\+?[0-9][0-9()\- ]{7,}[0-9]') THEN 1 END) FROM d
    ), t
""")
def pii_scan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII exposure audit (plans/quality.py:pii_scan) over a corpus with
    deliberately planted emails/phones (the synthetic text contains
    none, which would make the scan inert): per (column, pattern) hit
    counts and rates from ONE aggregation pass — the audit that decides
    where redact_pii must run."""
    from etl_mark1_spark.plans.quality import pii_scan

    docs = t(spark, sf_dir, "documents").select(
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" contact: user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com")))
        .when(F.col("doc_id") % 11 == 0,
              F.concat(F.col("text"), F.lit(" call +1 (555) 010-"),
                       F.col("doc_id").cast("string")))
        .otherwise(F.col("text")).alias("text"),
        "source")
    return (pii_scan(docs, columns=["text", "source"])
            .select(F.col("column").alias("scanned_col"), "pattern",
                    "n_hits", "hit_rate"))


@query("pit_scd2_orders", """
    WITH dim AS (
        SELECT c_custkey, c_mktsegment AS segment,
               TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
               CASE WHEN c_custkey % 5 = 0
                    THEN TIMESTAMP '1995-06-01 00:00:00' END AS valid_to
        FROM customer
        UNION ALL
        SELECT c_custkey, 'PROMO',
               TIMESTAMP '1995-06-01 00:00:00', NULL
        FROM customer WHERE c_custkey % 5 = 0
    )
    SELECT o_orderkey, o_custkey, segment
    FROM orders LEFT JOIN dim
      ON o_custkey = c_custkey
     AND o_orderdate >= valid_from
     AND (valid_to IS NULL OR o_orderdate < valid_to)
""")
def pit_scd2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against an SCD2 dimension
    (operators/cdc.py:pit_lookup): every order joins the customer-segment
    VERSION valid at its order date (promo segments only after their
    effective date) — the query side of SCD2, planned as an equality
    join with the validity window as a residual predicate, never a
    range-only cross product."""
    from etl_mark1_spark.operators.cdc import pit_lookup

    cust = t(spark, sf_dir, "customer")
    v1 = cust.select(
        "c_custkey", F.col("c_mktsegment").alias("segment"),
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.when(F.col("c_custkey") % 5 == 0,
               F.lit("1995-06-01 00:00:00").cast("timestamp"))
        .alias("valid_to"))
    v2 = (cust.filter(F.col("c_custkey") % 5 == 0)
          .select("c_custkey", F.lit("PROMO").alias("segment"),
                  F.lit("1995-06-01 00:00:00").cast("timestamp")
                  .alias("valid_from"),
                  F.lit(None).cast("timestamp").alias("valid_to")))
    dim = v1.unionByName(v2)
    orders = (t(spark, sf_dir, "orders")
              .select("o_orderkey",
                      F.col("o_custkey").alias("c_custkey"),
                      "o_orderdate"))
    out = pit_lookup(orders, dim, ["c_custkey"], fact_ts="o_orderdate")
    return out.select("o_orderkey", F.col("c_custkey").alias("o_custkey"),
                      "segment")


@query("scd2_customers", """
    SELECT c_custkey, c_name, c_mktsegment,
           TIMESTAMP '2020-01-01 00:00:00' AS valid_from,
           CASE WHEN c_custkey % 5 = 0
                THEN TIMESTAMP '2024-06-01 00:00:00' END AS valid_to,
           (c_custkey % 5 <> 0) AS is_current
    FROM customer
    UNION ALL
    SELECT c_custkey, c_name, 'PROMO',
           TIMESTAMP '2024-06-01 00:00:00', NULL, TRUE
    FROM customer WHERE c_custkey % 5 = 0
    UNION ALL
    SELECT c_custkey + 1000000, c_name, 'NEWSEG',
           TIMESTAMP '2024-06-01 00:00:00', NULL, TRUE
    FROM customer WHERE c_custkey % 100 = 0
""")
def scd2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 (operators/cdc.py:scd2_apply): a segment-change batch
    versions the customer dimension — changed keys get their open row
    closed at the effective timestamp and a new open row; new keys open
    their first version. The oracle states the expected end state
    directly; the operator must reconstruct it from (current, incoming)."""
    from etl_mark1_spark.operators.cdc import scd2_apply

    cust = t(spark, sf_dir, "customer")
    current = cust.select(
        "c_custkey", "c_name", "c_mktsegment",
        F.lit("2020-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"))
    incoming = (cust.filter(F.col("c_custkey") % 5 == 0)
                .select("c_custkey", "c_name",
                        F.lit("PROMO").alias("c_mktsegment"))
                .unionByName(
                    cust.filter(F.col("c_custkey") % 100 == 0)
                    .select((F.col("c_custkey") + 1000000).alias("c_custkey"),
                            "c_name", F.lit("NEWSEG").alias("c_mktsegment"))))
    return scd2_apply(current, incoming, ["c_custkey"], ["c_mktsegment"],
                      "2024-06-01 00:00:00")


def _spread_sql(x: str) -> str:
    """The spread_bits magic-mask sequence as portable SQL text (oracle
    mirror of operators/layout.py:spread_bits)."""
    s = f"(({x}) & 65535)"
    for sh, m in ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
                  (2, 0x33333333), (1, 0x55555555)):
        s = f"((({s}) | (({s}) << {sh})) & {m})"
    return s


_ZORDER_SQL = f"""
    SELECT l_orderkey, l_linenumber,
           CAST({_spread_sql('l_partkey % 65536')} |
                ({_spread_sql('l_suppkey % 65536')} << 1) AS BIGINT) AS z
    FROM lineitem
"""


@query("zorder_values", _ZORDER_SQL)
def zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-values (operators/layout.py) — the interleaved sort key
    behind multi-dimensional data skipping. Pure shift/mask expressions,
    whole-stage codegen; zorder_write range-partitions on this key so each
    output file covers a tight (dim1, dim2) rectangle and min-max pruning
    works on BOTH dimensions (test_cdc_layout asserts the pruning)."""
    from etl_mark1_spark.operators.layout import zvalue

    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        zvalue(F.col("l_partkey") % 65536, F.col("l_suppkey") % 65536)
        .cast("bigint").alias("z"))




@query("compact_versioned_docs", """
SELECT doc_id, lang, n_chars FROM documents
""")
def compact_versioned_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE round-trip (sources/versioned.py:compact_table): the
    documents table lands as three small-filed rewrite-free appends, the
    compactor collapses the chain into one right-sized version, and the
    post-compaction snapshot must still be EXACTLY the corpus — the
    oracle is the table itself. File-count/clustering/concurrency
    behavior is pinned by tests/test_versioned.py; this entry pins that
    maintenance never changes data."""
    import hashlib
    import os
    import shutil
    import tempfile

    from etl_mark1_spark.sources.versioned import (
        compact_table,
        read_table,
        write_version,
    )

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tdir = os.path.join(tempfile.gettempdir(), f"etl_mark1_compact_{key}")
    shutil.rmtree(tdir, ignore_errors=True)
    d = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    for k in range(3):
        write_version(d.where(F.col("doc_id") % 3 == k).repartition(4),
                      tdir, mode="append")
    compact_table(spark, tdir, target_file_mb=128)
    return read_table(spark, tdir).select("doc_id", "lang", "n_chars")
