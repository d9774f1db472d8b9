"""Benchmark harness: headline queries at SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a noop sink (full computation, no
driver-side result transfer) so the timings measure the engine, not
collect(). Every query runs twice and the SECOND run is timed: the first
run compiles the generated code (whole-stage codegen classes + the JVM C2
queue behind them — measured at 2-7x inflation on the first run, with
multi-second variance, once a session has executed many plans). One-time
compilation amortizes to zero at the 100 TB design point, so steady-state
is the number that predicts cluster behavior. Set SPARK_GRAFT_NO_WARMUP=1
for single-run cold numbers.

ISOLATION: each query runs in its OWN subprocess (fresh JVM + session),
so no entry inherits another's storage blocks or JIT state. Per-query
JVM startup costs wall-clock but never lands in the timings. The one
shared-session cost that was ever measured as large (round 2: minhash
36.4 s shared vs 5.1 s isolated) no longer shows: at sf0.01 on 4 cores,
minhash timed 1.9-2.0 s after the six entries before it in one session
and 2.2-2.4 s alone. A session that runs many plans keeps their
generated code because the codegen cache is sized for it (see the
spark.sql.codegen.cache.maxEntries comment in etl_mark1_spark/session.py);
the spread line's "compiles" map shows any entry that still compiles
during its timed runs.

SPREAD: after the compile warmup, each query is timed SPARK_GRAFT_RUNS
(default 3) times in its subprocess; "queries" carries the MIN (see
_best — this host has minutes-long hypervisor-steal windows that make a
median of 2-3 runs pure noise when a stall lands on them) and the
top-level "spread" map carries every timed run, so a machine-load
transient is visible in the artifact instead of masquerading as a
regression (round-3 artifact: driver minhash 8.26 s vs committed isolated
4.6/5.5 s with nothing recorded to prove which was loaded).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: Headline set: scan+agg, multi-join, window, events, dedup (exact + LSH),
#: similarity, text scoring, streaming, selective-filter agg, big-group
#: having, percentiles. Keep names stable across rounds — BENCH_r{N}.json
#: files are compared line-by-line.
HEADLINE = [
    "q1_pricing_summary",
    "sql_join_q3",
    "sql_q5_region_revenue",
    "window_topk_orders",
    "events_hourly",
    "dedup_exact_documents",
    "minhash_neardup",
    "embedding_cosine_topk",
    "text_quality",
    "streaming_hourly",
    "asof_last_error",
    "sessionize_batch",
    "q6_forecast_revenue",
    "q18_large_orders",
    "percentile_by_status",
    # round-2 additions (new names append; earlier names stay comparable)
    "q8_market_share",
    "q21_sole_late_supplier",
    "distinct_rollup_daily",
    "hll_rollup_merge",
    "upsert_orders",
    "zorder_values",
    # round-3 additions: checkpointed streaming restart drain at bench
    # scale; iterative graph ranking; the 5-stage curation composite
    "streaming_restart_drain",
    "pagerank_parts",
    "curation_chunks",
    # round-4 additions: AQE runtime skew-split under deliberate key skew
    # (plan-asserted in tests/test_plans.py); windowless global packing
    "skewed_join_aqe",
    "pack_sequences_global",
    # round-4 additions (late): span-level exact substring dedup (gram
    # shuffle + per-doc islands); bloom-prefiltered decontamination
    # (map-side screen, exact confirm); the composed gate->strip->budget
    # curation chain
    "duplicate_spans_docs",
    "bloom_contaminated_docs",
    "curation_quality_chain",
    # round-4 additions (later): mergeable quantile-digest rollup+merge
    # (the sketch-family percentile member); BM25 ranked retrieval
    # (query-term filter before any shuffle); triangle counting via
    # degree-ordered orientation + adjacency intersection
    "quantile_digest_merge",
    "bm25_search_docs",
    "triangle_count_parts",
    # round-4 additions (final): seasonal decomposition — the heaviest
    # window workload in the catalog (grid build + two off-center frames
    # per key + phase join), representing the timeseries family
    "seasonal_decompose_events",
    # round-5 addition: strict-order conversion funnel — a chain of
    # user-keyed min-aggregates + equi-joins (the multi-stage same-key
    # join shape AQE should co-partition), representing the behavioral
    # analytics family
    "funnel_conversion_events",
    # round-7 additions: dedup-on-ingest against a persisted LSH index
    # (batch probe + semi-join-bounded exact verify), representing the
    # incremental family; URL canonicalization + registered-domain
    # rollup, representing web curation (shuffle-free map path)
    "incremental_neardup_docs",
    "domain_stats_docs",
    # round-10 additions: shuffle-free broadcast decontam (the corpus
    # side's whole cost is one scan — the plan test pins zero hash
    # exchanges) and keep-first exact substring dedup (algebraic
    # min-per-gram flagging + per-doc islands), representing the new
    # decontam and span families
    "broadcast_decontam_docs",
    "strip_spans_keep_first_docs",
    # round-10 addition (second tranche): distinct-gram novelty scoring
    # (deduped explode -> gram-level min -> join back), representing the
    # residual-duplication audit family
    "ngram_novelty_docs",
    # round-11 additions: inverted-index segment merge (three shard
    # builds + union re-aggregation — the index-lifecycle family) and
    # the doubling search for the longest duplicated word span (log
    # probes, each a hash-gram aggregation with a limit(1) short-circuit)
    "index_merge_parity_docs",
    "longest_dup_span_docs",
    # round-12 additions: BM25 through the persisted lifecycle index —
    # ingest-time tokenization (two segment writes) + a query that reads
    # only the query terms' token buckets and the segment-count stats;
    # MOSS fingerprint matching (winnowing signatures -> fingerprint
    # equi-join), representing the new fingerprinting family
    "bm25_persisted_search_docs",
    "winnow_match_docs",
    # round-13 additions: tombstone deletion through the persisted index
    # (delete-time dl capture + query-time broadcast anti-join with
    # algebraic stats correction), representing the index-maintenance
    # family; MaxScore early termination (dict-metadata upper bounds,
    # candidate-id pushdown into the non-essential scans) on the
    # rare-term + stopwords query shape it exists for
    "index_delete_query_docs",
    "bm25_maxscore_search_docs",
    # round-13 additions (second tranche): pseudo-relevance feedback —
    # the two-pass query-language shape (retrieve, expand off the
    # feedback docs' postings, weighted re-query) over the SHARED
    # per-process index, so min-of-N measures pure query cost after the
    # first run pays ingest; and the end-to-end curation loop
    # (decontamination hits -> tombstone deletion -> query), which
    # builds + mutates its own index every run by design
    "prf_search_docs",
    "decontam_index_delete_docs",
    # round-14 addition (measurement isolation, VERDICT r13 item 8):
    # the bare three-artifact index ingest into a fresh dir each run —
    # the common denominator the persisted-index entries pay before
    # they can query. Splitting ingest from query cost makes the
    # shared-index (query-only) and re-ingesting entries comparable.
    "index_ingest_docs",
]


def calibration_probe() -> float:
    """Fixed pure-CPU probe: md5 over 256 MiB of constant bytes in the
    bench's own process — no Spark, no I/O, no allocation growth. Its
    wall time moves ONLY with host conditions (CPU clock, hypervisor
    steal), so a run whose probe time is inflated identifies a
    machine-weather window without cross-run archaeology: divide any
    query ratio by the probe ratio to deconvolve host speed from code
    (the round-11 driver record needed six local runs to prove its
    1.29x was environmental — this makes it a one-line check)."""
    import hashlib

    block = b"\x37" * (1 << 20)
    started = time.monotonic()
    h = hashlib.md5()
    for _ in range(256):
        h.update(block)
    assert h.hexdigest()  # keep the loop un-elidable
    return round(time.monotonic() - started, 3)


def calibration_probe_mt(workers: int = 16) -> float:
    """Parallel sibling of :func:`calibration_probe`: ``workers``
    threads each md5 128 MiB concurrently (hashlib releases the GIL on
    large updates, so this genuinely occupies that many cores). The
    round-12 run-2 lesson: a single-thread probe stays FLAT while
    32-thread query work degrades — vCPU contention and wide-load
    clocking hit full-width workloads first — so the pair of probes
    separates three cases: both flat = code; mt inflated, st flat =
    multi-core host contention; both inflated = raw CPU steal."""
    import hashlib
    from concurrent.futures import ThreadPoolExecutor

    block = b"\x5c" * (1 << 20)

    def work(_):
        h = hashlib.md5()
        for _ in range(128):
            h.update(block)
        return h.hexdigest()

    started = time.monotonic()
    with ThreadPoolExecutor(max_workers=workers) as ex:
        assert all(ex.map(work, range(workers)))
    return round(time.monotonic() - started, 3)


def run_query(spark, name: str, sf_dir: str) -> float:
    from etl_mark1_spark.catalog import QUERIES

    started = time.monotonic()
    df = QUERIES[name](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - started


def time_in_session(spark, name: str,
                    sf_dir: str) -> tuple[list[float], int]:
    """Warmup (compile) pass, then SPARK_GRAFT_RUNS timed steady-state
    runs — the spread across them is the in-artifact load-noise record.
    Returns the run times and the classes compiled during them.

    SUB-SECOND entries keep sampling up to SPARK_GRAFT_RUNS_FAST total
    runs (default 8): at 3 timed runs their min still rides scheduler
    jitter worth 10-20% of the entry, which round 12 burned four local
    recordings proving was sampling depth, not regression (entries
    declined monotonically to their prior-round floors by run ~8). The
    extra runs are by definition cheap — an entry pays them only while
    its best time is under a second."""
    from etl_mark1_spark.session import codegen_compiles

    if not os.environ.get("SPARK_GRAFT_NO_WARMUP"):
        run_query(spark, name, sf_dir)  # compile pass; steady-state is timed
    compiled = codegen_compiles(spark)
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_RUNS", "3")))
    n_fast = max(n_runs, int(os.environ.get("SPARK_GRAFT_RUNS_FAST", "8")))
    runs = [round(run_query(spark, name, sf_dir), 3) for _ in range(n_runs)]
    while min(runs) < 1.0 and len(runs) < n_fast:
        runs.append(round(run_query(spark, name, sf_dir), 3))
    return runs, codegen_compiles(spark) - compiled


def _best(runs: list[float]) -> float:
    """MIN of the steady-state runs, not the median: this host shows
    minutes-long external stall windows (hypervisor steal — load wanders
    between entries and runs: one recording had pagerank 22s/17s where
    the runs before and after both measured ~5s/4s) and under one-sided
    interference the minimum is the consistent estimator of engine cost;
    a median of 2-3 runs inside a stall window is pure noise. The full
    run list stays in "spread", so interference remains visible in the
    artifact.
    """
    return round(min(runs), 3)


def child_main(name: str, sf_dir: str) -> None:
    """One query in a fresh session; prints a single JSON line to stdout."""
    from etl_mark1_spark import get_spark

    spark = get_spark(app_name=f"bench-{name}", driver_memory="24g")
    spark.range(1).count()  # absorb JVM startup outside the timings
    runs, compiles = time_in_session(spark, name, sf_dir)
    print(json.dumps({"query": name, "sec": _best(runs), "runs": runs,
                      "compiles": compiles}))
    spark.stop()


def time_isolated(name: str,
                  sf_dir: str) -> tuple[float, list[float], int] | None:
    """(min, timed runs, classes compiled during them) of one entry in
    its own subprocess, or None when it failed."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--one", name],
        capture_output=True, text=True,
        # warmup + SPARK_GRAFT_RUNS live in ONE subprocess; heavyweight
        # entries at the 10x scaling point (multimodal_video_frames:
        # ~9 min/run of pure-Python JPEG decode) legitimately outgrow the
        # default — raise per-call, don't drop runs
        timeout=int(os.environ.get("SPARK_GRAFT_TIMEOUT_SEC", "1800")),
        env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
    )
    for line in reversed(proc.stdout.strip().splitlines()):
        try:
            rec = json.loads(line)
            return rec["sec"], rec["runs"], rec["compiles"]
        except (json.JSONDecodeError, KeyError):
            continue
    sys.stderr.write(f"bench error in {name}:\n{proc.stderr[-2000:]}\n")
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if len(sys.argv) == 3 and sys.argv[1] == "--one":
        child_main(sys.argv[2], sf_dir)
        return

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    timings: dict[str, float | None] = {}
    spread: dict[str, list[float]] = {}
    compiles: dict[str, int] = {}
    calib_start = [calibration_probe() for _ in range(3)]
    calib_mt_start = [calibration_probe_mt() for _ in range(3)]
    for name in HEADLINE:
        got = time_isolated(name, sf_dir)
        if got is None:
            timings[name] = None
        else:
            timings[name], spread[name], compiles[name] = got

    calib_end = [calibration_probe() for _ in range(3)]
    calib_mt_end = [calibration_probe_mt() for _ in range(3)]
    total = round(sum(v for v in timings.values() if v is not None), 3)
    # The spread map (every timed run behind each min) goes on its OWN
    # earlier stdout line: the driver captures only the final ~2000 chars
    # of stdout and parses the last line as the metrics record. With 33
    # entries the combined line outgrew that window (round-4 artifact:
    # "parsed": null), so spread is now a separate line and the FINAL line
    # stays a compact medians-only record, well under the capture window.
    # "compiles" counts the classes each entry compiled during its timed
    # runs: nonzero means a timing includes codegen (see time_in_session).
    print(json.dumps({"spread": spread,
                      "compiles": compiles,
                      "calibration_runs": {"start": calib_start,
                                           "end": calib_end,
                                           "mt_start": calib_mt_start,
                                           "mt_end": calib_mt_end}}))
    print(json.dumps({
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,   # name -> min steady-state sec (driver contract)
        # fixed pure-CPU probe (md5 over 256 MiB constant bytes), min of
        # 3 runs before and 3 after the query sweep: divide a vs-prior
        # query ratio by the probes' ratio to separate machine weather
        # from code (full probe runs on the spread line above)
        "calibration_sec": round(min(calib_start + calib_end), 3),
        # 16-thread sibling probe: catches multi-core contention the
        # single-thread probe is blind to (see calibration_probe_mt)
        "calibration_mt_sec": round(min(calib_mt_start + calib_mt_end), 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # methodology stamp: composition and estimator have both changed
        # across rounds (29->33 queries, median-of-2 -> min-of-3) while the
        # metric name stayed stable; consumers can detect the break here
        # instead of comparing incomparable totals.
        "estimator": "min_of_steady_state_runs",
        "n_queries": len(HEADLINE),
        "n_runs": max(1, int(os.environ.get("SPARK_GRAFT_RUNS", "3"))),
        # sub-second entries sample up to this many runs (round-13
        # methodology change; see time_in_session) so committed records
        # carry their floors without cross-run archaeology
        "n_runs_fast": max(
            max(1, int(os.environ.get("SPARK_GRAFT_RUNS", "3"))),
            int(os.environ.get("SPARK_GRAFT_RUNS_FAST", "8"))),
    }))


if __name__ == "__main__":
    main()
