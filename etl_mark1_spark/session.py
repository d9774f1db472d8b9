"""SparkSession factory.

The reference caps each ephemeral DuckDB connection at 1 GB / 2 threads
(reference: backend/services/duckdb_engine.py:20-25). We instead hold one
long-lived SparkSession; parallelism and memory are cluster-level concerns.
Defaults here target local[] testing but every knob is overridable for a real
cluster (AQE on, sensible shuffle partitioning, Arrow for the pandas boundary).
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark.sql import SparkSession

# Most driver threads one run_jobs call runs at once.
MAX_DRIVER_THREADS = 8


def get_spark(
    app_name: str = "etl_mark1_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    - AQE enabled: runtime shuffle-partition coalescing, skew-join splitting,
      and join-strategy switching — the knobs that matter at 100 TB.
    - ``spark.sql.shuffle.partitions`` sized to the local core count rather
      than the 200 default (on a real cluster, AQE coalescing makes the
      initial number less critical).
    - UTC session timezone so timestamp semantics match the DuckDB oracle.
    - Arrow enabled for every pandas/Pandas-UDF boundary.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus or (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # TIMESTAMP(NANOS) parquet scans distributed as epoch-nanos longs
        # (readers.read_parquet_compat rebuilds the timestamp JVM-side)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Generated-code class cache (static; Spark's default holds 100).
        # It is LRU, and one round of each perfbench workload cycles
        # through more classes than that: 156 for text_curation (five
        # gram entries + one DAG run) and 109 for index_lifecycle (ingest,
        # delete, four persisted query kinds, compact; 148 with the index
        # build). At 100 every class was evicted before its next use, so
        # each round recompiled 106-143 classes, each then re-JITted by
        # C2. At 1000 a repeated op compiles only where a literal changed
        # (text_curation 10 per round, index_lifecycle 14-18); local[4].
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # 512m code cache (JDK default 240m): a session that executes many
        # distinct plans accumulates whole-stage-codegen classes until C2
        # compilation stalls — measured as 2-7x first-run inflation on
        # codegen-heavy queries once the cache fills. Spark's tuning docs
        # recommend raising it for exactly this workload shape.
        # SPARK_GRAFT_EXTRA_JAVA_OPTS: diagnostics hook (e.g. -Xlog:gc*)
        # appended to both JVMs; empty by default so timings are unchanged.
        .config("spark.driver.extraJavaOptions",
                ("-Duser.timezone=UTC -XX:ReservedCodeCacheSize=512m "
                 + os.environ.get("SPARK_GRAFT_EXTRA_JAVA_OPTS", "")).strip())
        .config("spark.executor.extraJavaOptions",
                ("-Duser.timezone=UTC -XX:ReservedCodeCacheSize=512m "
                 + os.environ.get("SPARK_GRAFT_EXTRA_JAVA_OPTS", "")).strip())
    )
    if driver_memory:
        builder = builder.config("spark.driver.memory", driver_memory)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the session's JVM has compiled from generated code so far
    (Spark's CodegenMetrics; a codegen-cache hit compiles nothing)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def run_jobs(spark: SparkSession, jobs: list[Callable[[], Any]]) -> list:
    """Run independent no-argument ``jobs`` from driver threads and return
    their results in submission order, re-raising the first failure once
    every job has finished. Spark interleaves the jobs' tasks, so one
    job's straggler tail back-fills with another's work. Each job runs
    in the caller's job group and description. A single job runs
    inline."""
    if len(jobs) <= 1:
        return [job() for job in jobs]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(min(MAX_DRIVER_THREADS, len(jobs))) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(job))
                   for job in jobs]
    return [f.result() for f in futures]
