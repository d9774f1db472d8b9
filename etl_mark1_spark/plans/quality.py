"""Data profiling / quality score — A4-A7 in SURVEY.md §2.4.

The reference runs 2 queries per column (null count, distinct count) plus a
total count (reference: backend/services/duckdb_engine.py:197-244). Here the
same numbers come from ONE aggregation pass — at 100 TB the difference is
2·N_cols full scans vs one. Formula preserved exactly:
``score = mean over columns of (1 - null_rate) * 100``; empty input scores 0.0
(duckdb_engine.py:212-213).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def profile_aggregate(df: DataFrame, columns: list[str] | None = None,
                      approx_distinct: bool = False) -> DataFrame:
    """Single-pass profiling aggregate: total rows + per-column null and
    distinct counts, as one wide row.

    ``approx_distinct=True`` swaps exact COUNT(DISTINCT) for HyperLogLog
    (approx_count_distinct) — the right call at 100 TB, where N exact
    distinct counts in one pass force a huge expand-and-shuffle. Flagged
    divergence: approximate counts (SURVEY.md §4.2 custom-work item 3).
    """
    cols = columns or df.columns
    distinct_fn = F.approx_count_distinct if approx_distinct else F.countDistinct
    aggs = [F.count(F.lit(1)).alias("_total_rows")]
    for c in cols:
        aggs.append(_null_count(c))
        aggs.append(distinct_fn(F.col(c)).alias(f"_distinct_{c}"))
    return df.agg(*aggs)


def _null_count(c: str):
    return F.count(F.when(F.col(c).isNull(), 1)).alias(f"_nulls_{c}")


def _score(total: int, null_counts: list[int]) -> float:
    """The quality score: mean over columns of (1 - null_rate) * 100;
    empty input scores 0.0."""
    if total == 0:
        return 0.0
    return (sum((1.0 - n / total) * 100.0 for n in null_counts)
            / len(null_counts))


def quality_score(df: DataFrame) -> float:
    """:func:`quality_report`'s score alone, from one aggregate of the
    row count and a null count per column (no distinct counts)."""
    row = df.agg(F.count(F.lit(1)), *map(_null_count, df.columns)).first()
    return _score(row[0], list(row[1:]))


def quality_report(df: DataFrame, columns: list[str] | None = None,
                   approx_distinct: bool = False) -> dict:
    """The reference's quality-report shape (duckdb_engine.py:197-244):
    overall score, row/column counts, per-column null_rate / unique_ratio /
    column score."""
    cols = columns or df.columns
    row = profile_aggregate(df, cols, approx_distinct=approx_distinct).collect()[0]
    total = row["_total_rows"]
    if total == 0:
        return {"score": 0.0, "row_count": 0, "column_count": len(cols), "details": {}}

    nulls = {c: row[f"_nulls_{c}"] for c in cols}
    details = {c: {
        "null_count": nulls[c],
        "null_rate": nulls[c] / total,
        "distinct_count": row[f"_distinct_{c}"],
        "unique_ratio": row[f"_distinct_{c}"] / total,
        "score": _score(total, [nulls[c]]),
    } for c in cols}

    return {
        "score": _score(total, list(nulls.values())),
        "row_count": total,
        "column_count": len(cols),
        "details": details,
    }


def check_expectations(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Declarative data-quality expectations, ALL evaluated in one
    aggregation pass — rows of (rule, passed, actual). The extension of the
    reference's single quality score (A7) into per-rule gates a validation
    node can act on.

    Rule kinds (each a dict with ``name``, ``kind`` and kind-specific keys):
    - ``row_count_min``: {"min": n} — actual = row count
    - ``not_null``:      {"column", "max_null_frac": f} — actual = null frac
    - ``unique``:        {"column"} — actual = duplicate row count
    - ``in_range``:      {"column", "lo", "hi"} — actual = out-of-range count
    - ``accepted_values``: {"column", "values": [...]} — actual = off-list
      count (NULLs don't count against the list; add a not_null rule)
    """
    aggs = []
    for r in rules:
        kind, col = r["kind"], r.get("column")
        if kind == "row_count_min":
            actual = F.count(F.lit(1)).cast("double")
            passed = actual >= float(r["min"])
        elif kind == "not_null":
            actual = F.avg(F.col(col).isNull().cast("double"))
            passed = actual <= float(r.get("max_null_frac", 0.0))
        elif kind == "unique":
            actual = (F.count(col) - F.countDistinct(col)).cast("double")
            passed = actual == 0.0
        elif kind == "in_range":
            actual = F.count(F.when(
                ~F.col(col).between(r["lo"], r["hi"]), 1)).cast("double")
            passed = actual == 0.0
        elif kind == "accepted_values":
            actual = F.count(F.when(
                ~F.col(col).isin(*r["values"]) & F.col(col).isNotNull(), 1)
            ).cast("double")
            passed = actual == 0.0
        else:
            raise ValueError(f"unknown expectation kind: {kind}")
        aggs.append(F.struct(
            F.lit(r["name"]).alias("rule"),
            passed.alias("passed"),
            F.round(actual, 6).alias("actual"),
        ).alias(f"_r{len(aggs)}"))

    wide = df.agg(*aggs)
    stacked = wide.select(F.explode(F.array(
        *[F.col(f"_r{i}") for i in range(len(aggs))])).alias("r"))
    return stacked.select("r.rule", "r.passed", "r.actual")


def psi_drift(df_a: DataFrame, df_b: DataFrame, value_col: str,
              bin_width: float, smoothing: float = 0.5) -> DataFrame:
    """Population Stability Index between two slices of a numeric column —
    the standard drift monitor between a reference window and a current
    window (PSI < 0.1 stable, 0.1-0.25 drifting, > 0.25 shifted).

    Each side bins to ``floor(value / bin_width)``, proportions are
    add-``smoothing`` smoothed over the union of observed bins, and
    PSI = sum((p_a - p_b) * ln(p_a / p_b)). Returns one row:
    (psi, n_bins, n_a, n_b).

    Shape at scale: each side is one map-side binning + a bin-cardinality
    aggregate; the join is bin-count-sized. Nothing about the raw rows
    survives the first aggregation, so the monitor runs cheaply per
    pipeline run (plans/dag.py validation nodes can gate on it).
    """
    def binned(df: DataFrame, side: str) -> DataFrame:
        return (df.select(
            F.floor(F.col(value_col) / F.lit(bin_width)).alias("_bin"))
            .groupBy("_bin")
            .agg(F.count(F.lit(1)).cast("double").alias(f"_c_{side}")))

    a, b = binned(df_a, "a"), binned(df_b, "b")
    joined = a.join(b, "_bin", "full_outer").select(
        "_bin",
        F.coalesce("_c_a", F.lit(0.0)).alias("_c_a"),
        F.coalesce("_c_b", F.lit(0.0)).alias("_c_b"))
    tot = joined.agg(F.sum("_c_a").alias("_n_a"),
                     F.sum("_c_b").alias("_n_b"),
                     F.count(F.lit(1)).alias("_k"))
    with_p = joined.crossJoin(F.broadcast(tot)).select(
        ((F.col("_c_a") + F.lit(smoothing))
         / (F.col("_n_a") + F.lit(smoothing) * F.col("_k"))).alias("_p_a"),
        ((F.col("_c_b") + F.lit(smoothing))
         / (F.col("_n_b") + F.lit(smoothing) * F.col("_k"))).alias("_p_b"),
        "_n_a", "_n_b", "_k")
    return with_p.groupBy().agg(
        F.round(F.sum((F.col("_p_a") - F.col("_p_b"))
                      * F.log(F.col("_p_a") / F.col("_p_b"))), 6).alias("psi"),
        F.max("_k").cast("bigint").alias("n_bins"),
        F.max("_n_a").cast("bigint").alias("n_a"),
        F.max("_n_b").cast("bigint").alias("n_b"))


def winsorize(df: DataFrame, value_col: str, lo: float = 0.01,
              hi: float = 0.99, out_col: str | None = None,
              exact: bool = True, accuracy: int = 10000) -> DataFrame:
    """Clip ``value_col`` to its [lo, hi] percentile range — the standard
    outlier-taming normalization before scaling/featurization (gentler
    than dropping rows: tails are pinned to the cutoffs, bulk unchanged).

    ``exact=True`` computes interpolated percentiles with one
    ``percentile`` aggregate (sort-based — fine up to memory-per-group);
    ``exact=False`` swaps in the ``percentile_approx`` sketch (rank error
    <= rows/accuracy), the 100 TB default. Either way the two cutoffs are
    a one-row broadcast and the clip itself is a pure map-side
    expression.
    """
    out = out_col or value_col
    pcts = F.array(F.lit(float(lo)), F.lit(float(hi)))
    agg = (F.percentile(value_col, pcts) if exact
           else F.percentile_approx(value_col, pcts, F.lit(accuracy)))
    cuts = df.agg(agg.alias("_cuts"))
    clipped = F.least(F.greatest(F.col(value_col), F.col("_cuts")[0]),
                      F.col("_cuts")[1])
    return (df.crossJoin(F.broadcast(cuts))
            .withColumn(out, clipped).drop("_cuts"))


def ks_drift(df_a: DataFrame, df_b: DataFrame, value_col: str,
             round_digits: int = 6, num_shards: int = 32) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between two slices of a
    numeric column: D = sup_x |F_a(x) - F_b(x)| over the empirical CDFs —
    the binning-free sibling of :func:`psi_drift` (no bin-width parameter
    to tune, sensitive to location/shape shifts anywhere in the range).
    Returns one row (ks_stat, n_a, n_b).

    For empirical CDFs the sup is attained at an observed value, so
    evaluating both cumulative distributions at every distinct value is
    exact. Shape at scale: one conditional aggregate collapses both sides
    to per-distinct-value counts, and the cumulative sums run on the
    shared two-phase prefix-sum primitive (sketches.py:
    two_phase_prefix_sum), so no single-partition ORDER BY window ever
    materializes. Everything after the first aggregate is
    distinct-value sized.
    """
    from etl_mark1_spark.operators.sketches import two_phase_prefix_sum

    u = df_a.select(F.col(value_col).cast("double").alias("_v"),
                    F.lit(1).alias("_ia"), F.lit(0).alias("_ib")) \
        .unionByName(
            df_b.select(F.col(value_col).cast("double").alias("_v"),
                        F.lit(0).alias("_ia"), F.lit(1).alias("_ib")))
    counts = u.groupBy("_v").agg(F.sum("_ia").alias("_ca"),
                                 F.sum("_ib").alias("_cb"))
    grand = counts.agg(F.sum("_ca").alias("_na"), F.sum("_cb").alias("_nb"))
    cum = (two_phase_prefix_sum(counts, "_v", ["_ca", "_cb"],
                                num_shards=num_shards)
           .crossJoin(F.broadcast(grand)))
    gap = F.abs(F.col("_ca_cum") / F.col("_na")
                - F.col("_cb_cum") / F.col("_nb"))
    return cum.agg(
        F.round(F.max(gap), round_digits).alias("ks_stat"),
        F.max("_na").cast("bigint").alias("n_a"),
        F.max("_nb").cast("bigint").alias("n_b"))


def spearman_corr(df: DataFrame, col_a: str, col_b: str,
                  round_digits: int = 6, num_shards: int = 32) -> DataFrame:
    """Spearman rank correlation: Pearson correlation of average ranks
    (standard tie handling) — the robust, monotonic-association sibling
    of ``corr`` for quality-signal screening (does doc length track
    quality score anywhere, not just linearly?). Returns one row
    (spearman, n).

    Ranking never sorts globally: each column's average ranks come from
    per-distinct-value counts + the shared two-phase prefix sum
    (avg rank of value v = rows_before_v + (ties_v + 1)/2), joined back
    on the value key; the correlation itself is one co-moment aggregate.
    """
    from etl_mark1_spark.operators.sketches import two_phase_prefix_sum

    def avg_ranks(col: str, out: str) -> DataFrame:
        counts = df.groupBy(F.col(col).alias("_v")).agg(
            F.count(F.lit(1)).alias("_c"))
        cum = two_phase_prefix_sum(counts, "_v", ["_c"],
                                   num_shards=num_shards)
        return cum.select(
            F.col("_v"),
            (F.col("_c_cum") - F.col("_c")
             + (F.col("_c") + 1) / F.lit(2.0)).alias(out))

    ra, rb = avg_ranks(col_a, "_ra"), avg_ranks(col_b, "_rb")
    pairs = df.select(F.col(col_a).alias("_a"), F.col(col_b).alias("_b"))
    joined = (pairs.join(ra, pairs["_a"] == ra["_v"]).drop("_v")
              .join(rb, F.col("_b") == rb["_v"]).drop("_v"))
    return joined.agg(
        F.round(F.corr("_ra", "_rb"), round_digits).alias("spearman"),
        F.count(F.lit(1)).cast("bigint").alias("n"))


def _contingency(df: DataFrame, col_a: str, col_b: str):
    joint = df.groupBy(F.col(col_a).alias("_a"),
                       F.col(col_b).alias("_b")).agg(
        F.count(F.lit(1)).alias("_nab"))
    ma = joint.groupBy("_a").agg(F.sum("_nab").alias("_na"))
    mb = joint.groupBy("_b").agg(F.sum("_nab").alias("_nb"))
    tot = joint.agg(F.sum("_nab").alias("_n"),
                    F.count_distinct("_a").alias("_ka"),
                    F.count_distinct("_b").alias("_kb"))
    return (joint.join(F.broadcast(ma), "_a")
            .join(F.broadcast(mb), "_b")
            .crossJoin(F.broadcast(tot)))


def mutual_information(df: DataFrame, col_a: str, col_b: str,
                       round_digits: int = 6) -> DataFrame:
    """Mutual information (nats) between two categorical columns —
    the feature-selection / redundancy screen (is `source` just `lang`
    in disguise?): MI = sum p(a,b) ln(p(a,b) / (p(a) p(b))). Returns one
    row (mi, n).

    Everything after the joint-count aggregate is contingency-sized:
    marginals re-aggregate the joint counts (never the raw rows) and
    broadcast back onto them. Zero-count cells contribute zero, so
    summing observed cells is exact.
    """
    j = _contingency(df, col_a, col_b)
    term = ((F.col("_nab") / F.col("_n"))
            * F.log((F.col("_nab") * F.col("_n"))
                    / (F.col("_na") * F.col("_nb"))))
    return j.agg(F.round(F.sum(term), round_digits).alias("mi"),
                 F.max("_n").cast("bigint").alias("n"))


def chi_squared(df: DataFrame, col_a: str, col_b: str,
                round_digits: int = 4) -> DataFrame:
    """Pearson chi-squared statistic of independence between two
    categorical columns, plus degrees of freedom — the classical
    association test beside :func:`mutual_information`. Returns one row
    (chi2, dof, n).

    Uses the identity sum_all (o-e)^2/e = n * sum_observed o^2/(ra*cb)
    - n, which needs OBSERVED cells only — unobserved cells of the
    marginal product (whose expected counts a naive formulation must
    materialize) are algebraically folded into the -n term. Same
    contingency-sized shape as MI.
    """
    j = _contingency(df, col_a, col_b)
    term = ((F.col("_nab") * F.col("_nab")).cast("double")
            / (F.col("_na") * F.col("_nb")))
    return j.agg(
        F.round(F.max("_n") * F.sum(term) - F.max("_n"),
                round_digits).alias("chi2"),
        ((F.max("_ka") - 1) * (F.max("_kb") - 1))
        .cast("bigint").alias("dof"),
        F.max("_n").cast("bigint").alias("n"))


def pii_scan(df: DataFrame, columns: list[str] | None = None,
             patterns: list[tuple[str, str]] | None = None) -> DataFrame:
    """PII exposure profile: for every (string column, pattern) pair, the
    count and rate of rows containing a match — the audit that decides
    where redact_pii (operators/corpus.py) must run before data leaves a
    boundary. Returns rows (column, pattern, n_hits, hit_rate).

    ONE aggregation pass over the table regardless of how many
    column x pattern cells are scanned (the check_expectations shape:
    conditional counts stacked from a single wide row) — at 100 TB the
    difference vs a query-per-cell audit is cells-many full scans.
    """
    from etl_mark1_spark.operators.corpus import PII_PATTERNS

    pats = patterns or [(token.strip("<>"), rx)
                        for rx, token in PII_PATTERNS]
    cols = columns or [c for c, t in df.dtypes if t == "string"]
    aggs = [F.count(F.lit(1)).alias("_n")]
    cells = []
    for c in cols:
        for pname, rx in pats:
            key = f"_h_{len(cells)}"
            aggs.append(F.count(F.when(F.col(c).rlike(rx), 1)).alias(key))
            cells.append((c, pname, key))
    wide = df.agg(*aggs)
    stacked = wide.select("_n", F.explode(F.array(*[
        F.struct(F.lit(c).alias("column"), F.lit(p).alias("pattern"),
                 F.col(k).alias("n_hits"))
        for c, p, k in cells])).alias("r"))
    return stacked.select(
        F.col("r.column").alias("column"),
        F.col("r.pattern").alias("pattern"),
        F.col("r.n_hits").cast("bigint").alias("n_hits"),
        F.round(F.col("r.n_hits") / F.greatest(F.col("_n"), F.lit(1)), 6)
        .alias("hit_rate"))


def k_anonymity_audit(df: DataFrame, quasi_cols: list[str],
                      k: int = 5) -> DataFrame:
    """Privacy audit before a dataset release: every quasi-identifier
    combination shared by FEWER than ``k`` rows (Sweeney's k-anonymity
    — groups below k re-identify individuals by joining public data on
    the quasi-identifiers). Returns the under-k combos with their group
    size; an empty result certifies the release at that k.

    One hash aggregate on the quasi-identifier tuple with map-side
    partials — the under-k output is small by construction (it counts
    rare combos), so the audit of a 100 TB table emits KBs. The
    aggregate shuffles only the quasi-identifier columns, never full
    rows."""
    return (df.groupBy(*quasi_cols)
            .agg(F.count(F.lit(1)).cast("bigint").alias("group_size"))
            .filter(F.col("group_size") < k))


def l_diversity_audit(df: DataFrame, quasi_cols: list[str],
                      sensitive_col: str, l: int = 2) -> DataFrame:
    """The follow-up audit k-anonymity alone cannot make (Machanavajjhala
    et al., "l-Diversity: Privacy Beyond k-Anonymity"): a quasi-identifier
    group can be large yet still leak — if every row in it shares ONE
    sensitive value, the join attack learns that value without singling
    anyone out. Flags every group whose sensitive attribute takes fewer
    than ``l`` distinct values. Returns the failing combos with group
    size and distinct-sensitive count; empty certifies the release at
    that l (given the k audit also passes).

    Same shape discipline as :func:`k_anonymity_audit`: one hash
    aggregate with map-side partials, shuffling only the quasi +
    sensitive columns; the failing output is small by construction."""
    return (df.groupBy(*quasi_cols)
            .agg(F.count(F.lit(1)).cast("bigint").alias("group_size"),
                 F.count_distinct(F.col(sensitive_col)).cast("bigint")
                 .alias("n_sensitive"))
            .filter(F.col("n_sensitive") < l))
