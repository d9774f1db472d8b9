"""Structured Streaming veneer over event tables.

The reference has no streaming at all (Kafka is feature-flagged off —
reference: backend/core/config.py:51), so this is extension surface
(SURVEY.md §2.8): event-time tumbling/sliding windows with watermarked late-
data handling, plus a custom stateful sessionizer. ``Trigger.AvailableNow``
processes the existing files like a batch job but through the streaming
engine — the same code then runs unchanged against a live Kafka/file source.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType(), True),
    # TIMESTAMP (ltz), not NTZ: event-time watermarks require it. NTZ event
    # data is cast at ingest (wall times preserved in the session timezone).
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("user_id", T.LongType(), True),
    T.StructField("event_type", T.StringType(), True),
    T.StructField("value", T.DoubleType(), True),
    T.StructField("props", T.StringType(), True),
])


def events_source_dir(path: str) -> str:
    """Resolve ``path`` to a directory a file-stream source can list.

    Spark's file source requires a directory; a single-file path gets a
    cached temp directory holding a SYMLINK to it — zero-copy staging, keyed
    by (realpath, mtime) so a rewritten source file gets a fresh dir while
    repeated invocations reuse the old one (no per-call write amplification).
    """
    if os.path.isdir(path):
        return path
    real = os.path.realpath(path)
    mtime_ns = os.stat(real).st_mtime_ns
    key = hashlib.md5(f"{real}:{mtime_ns}".encode()).hexdigest()[:16]
    staged = os.path.join(tempfile.gettempdir(), f"etl_mark1_evsrc_{key}")
    link = os.path.join(staged, os.path.basename(path))
    if not os.path.islink(link):
        os.makedirs(staged, exist_ok=True)
        try:
            os.symlink(real, link)
        except FileExistsError:  # concurrent caller won the race
            pass
    return staged


def read_events_stream(spark: SparkSession, path: str,
                       schema: T.StructType = EVENTS_SCHEMA) -> DataFrame:
    """File-source stream over an events directory/file. Streaming readers
    need an explicit schema — no inference race at scale.

    TIMESTAMP(NANOS) parquet (which the file source would otherwise reject)
    streams through the same nanosAsLong path as the batch reader
    (sources/readers.py): the ns columns are read as epoch-nanos longs and
    rebuilt JVM-side to the schema's declared timestamp type — fully
    distributed, no staging copy of the data.
    """
    from etl_mark1_spark.sources.readers import (
        NANOS_AS_LONG_CONF, _parquet_nanos_fields, nanos_long_to_ntz)

    src = events_source_dir(path)
    ts_fields = {f.name for f in schema.fields
                 if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))}
    ns_fields = set(_parquet_nanos_fields(src)) & ts_fields
    if not ns_fields:
        return spark.readStream.schema(schema).format("parquet").load(src)

    spark.conf.set(NANOS_AS_LONG_CONF, "true")
    read_schema = T.StructType([
        T.StructField(f.name,
                      T.LongType() if f.name in ns_fields else f.dataType,
                      f.nullable)
        for f in schema.fields
    ])
    df = spark.readStream.schema(read_schema).format("parquet").load(src)
    for f in schema.fields:
        if f.name in ns_fields:
            if isinstance(f.dataType, T.TimestampNTZType):
                col = nanos_long_to_ntz(f.name)
            else:  # LTZ — what watermarks want; epoch micros bind directly
                col = F.timestamp_micros(F.expr(f"`{f.name}` div 1000"))
            df = df.withColumn(f.name, col)
    return df


def staged_time_halves(spark: SparkSession, events_path: str) -> list[str]:
    """Materialize an events parquet as two TIME-ordered halves (first/second
    half of the ts range) under a cached temp dir, for restart-drain tests
    and benches: a checkpointed stream drains half 0, then resumes and
    drains half 1 as newly-arrived files.

    Time-ordered (not id-hashed) halves matter: the second drain's rows are
    all >= the restored watermark, so none are dropped as late and the one
    window straddling the split merges from restored state — the drained
    total must equal the batch aggregate exactly. Cached by (path, mtime),
    built atomically (tmp dir + rename) so concurrent callers share it.
    """
    import shutil
    import uuid

    from pyspark.sql import functions as F

    real = os.path.realpath(events_path)
    key = hashlib.md5(
        f"{real}:{os.stat(real).st_mtime_ns}".encode()).hexdigest()[:16]
    stage = os.path.join(tempfile.gettempdir(), f"etl_mark1_evhalves_{key}")
    halves = [os.path.join(stage, "half0"), os.path.join(stage, "half1")]
    if not os.path.isdir(stage):
        from etl_mark1_spark.sources.readers import read_parquet_compat

        events = read_parquet_compat(spark, events_path).withColumn(
            "ts", F.col("ts").cast("timestamp"))
        lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
        mid = lo + (hi - lo) / 2
        build = f"{stage}.build_{uuid.uuid4().hex[:8]}"
        events.filter(F.col("ts") < F.lit(mid)) \
            .write.parquet(os.path.join(build, "half0"))
        events.filter(F.col("ts") >= F.lit(mid)) \
            .write.parquet(os.path.join(build, "half1"))
        try:
            os.rename(build, stage)
        except OSError:  # concurrent builder won; use theirs
            shutil.rmtree(build, ignore_errors=True)
    return halves


def restart_drain(spark: SparkSession, events_path: str,
                  table_name: str = "stream_restart_out") -> DataFrame:
    """Two-phase checkpointed AvailableNow drain: the events table arrives
    as two file batches; drain 1 aggregates the first, drain 2 resumes from
    the SAME checkpoint, sees only the new file, and merges into restored
    state. The complete-mode result after drain 2 equals the batch hourly
    aggregate over ALL events — which is exactly how the oracle checks it.
    This is the streaming save/restore path at data scale, not fixture
    scale: state size and restore cost ride the bench round-over-round.
    """
    halves = staged_time_halves(spark, events_path)
    work = tempfile.mkdtemp(prefix="etl_mark1_restart_")
    srcdir = os.path.join(work, "src")
    os.makedirs(srcdir)
    ckpt = os.path.join(work, "ckpt")

    def arrive(half_dir: str) -> None:
        tag = os.path.basename(half_dir)
        for fname in os.listdir(half_dir):
            if fname.endswith(".parquet"):
                os.symlink(os.path.join(half_dir, fname),
                           os.path.join(srcdir, f"{tag}_{fname}"))

    out = None
    for half in halves:
        arrive(half)
        agg = hourly_event_aggregate(read_events_stream(spark, srcdir))
        out = run_available_now(agg, table_name=table_name,
                                output_mode="complete", checkpoint=ckpt)
    return out


def hourly_event_aggregate(events: DataFrame, watermark: str = "1 hour",
                           slide: str | None = None,
                           size: str = "1 hour") -> DataFrame:
    """Tumbling (or sliding, if ``slide`` given) ``size`` event-time windows:
    count + sum(value) per (window, event_type). The watermark bounds state:
    windows older than max(event time) - watermark are finalized and evicted
    — without it, state grows unboundedly at stream scale."""
    window = (
        F.window("ts", size, slide) if slide else F.window("ts", size)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(window.alias("window"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            # cast back to NTZ: symmetric with the ingest cast, so window
            # starts keep the events' original wall times under any session
            # timezone (watermarks force LTZ internally)
            F.col("window").start.cast("timestamp_ntz").alias("window_start"),
            F.col("event_type"),
            F.col("n_events"),
            F.col("value_sum"),
        )
    )


def dedup_stream(events: DataFrame, id_col: str = "event_id",
                 watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: one state entry per id, with the event-time
    watermark bounding state retention — ids older than
    max(event time) - watermark are evicted, so state stays proportional to
    the watermark horizon, not the stream's lifetime. The batch analogue is
    plain DISTINCT, which is exactly how the catalog oracle checks it."""
    return events.withWatermark("ts", watermark).dropDuplicates([id_col])


def enrich_stream(events: DataFrame, dim: DataFrame,
                  join_expr, how: str = "inner") -> DataFrame:
    """Stream-static enrichment join: the static side is planned per
    micro-batch (broadcast when small — the dimension-join shape); no
    watermark is needed because the static side never ages. Use for
    attaching dimensions to a stream before windowing/aggregation."""
    return events.join(dim, join_expr, how)


def run_available_now(result: DataFrame, table_name: str = "stream_out",
                      output_mode: str = "append",
                      checkpoint: str | None = None) -> DataFrame:
    """Drain all currently-available input through the streaming plan and
    return the materialized result as a DataFrame (memory sink — bounded
    aggregate results only; real deployments write parquet/Delta).

    Pass a stable ``checkpoint`` to resume: watermark and state carry across
    restarts, so successive drains process only new files."""
    checkpoint = checkpoint or tempfile.mkdtemp(prefix="etl_mark1_ckpt_")
    query = (
        result.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return result.sparkSession.table(table_name)


def session_window_agg(events: DataFrame, gap: str = "30 minutes",
                       user_col: str = "user_id", ts_col: str = "ts",
                       value_col: str = "value",
                       watermark_delay: str = "0 seconds") -> DataFrame:
    """NATIVE session windows (``F.session_window``): per-user gap-based
    sessions as a built-in streaming aggregation — the engine merges
    windows whose events fall within ``gap`` of each other and manages
    the state store, watermark eviction, and restart recovery that the
    ``applyInPandasWithState`` sessionizer (:func:`sessionize`) does by
    hand. Use this form when plain per-session aggregates suffice; the
    stateful form remains for custom per-session logic.

    Emits (user, session_window, n_events, value_sum) in APPEND mode
    once the watermark passes a session's end. Window semantics:
    ``start`` = first event ts, ``end`` = last event ts + gap
    (half-open, so a successor exactly ``gap`` later starts a NEW
    session — mirror with ``>=`` in gaps-and-islands SQL)."""
    return (events.withWatermark(ts_col, watermark_delay)
            .groupBy(F.col(user_col),
                     F.session_window(F.col(ts_col), gap))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 F.round(F.sum(value_col), 2).alias("value_sum")))


def punctuated_events_dir(spark: SparkSession, events_path: str,
                          pad: str = "61 minutes") -> str:
    """Stage an events parquet next to one FLUSH-PUNCTUATION file: a
    single sentinel row stamped ``pad`` past the last real event.

    Append-mode session aggregation only emits a session once the
    watermark passes its END (last event + gap) — but a static drain's
    watermark stops at the last real event's time, which would withhold
    every session whose last event lies within one gap of the global
    maximum — silently missing rows vs the batch answer. The punctuation
    row
    pushes the final watermark past every real session end without
    touching any real session: it is further than the gap from every
    real event so it can't merge, and its own still-open session is
    precisely the one the watermark never passes, so it never emits.
    This is the standard flush-marker idiom for draining session state
    in tests, backfills, and end-of-day batch closes. Cached by
    (path, mtime, pad); built atomically (tmp dir + rename)."""
    import shutil
    import uuid

    real = os.path.realpath(events_path)
    mtime = os.stat(real).st_mtime_ns
    key = hashlib.md5(f"punct:{real}:{mtime}:{pad}".encode()).hexdigest()[:16]
    staged = os.path.join(tempfile.gettempdir(), f"etl_mark1_punct_{key}")
    if os.path.isdir(staged):
        return staged
    batch = spark.read.parquet(events_path)
    sentinel = batch.agg(F.max("ts").alias("_mx")).select(
        F.lit(-1).cast("long").alias("event_id"),
        (F.col("_mx") + F.expr(f"INTERVAL {pad}")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("__flush__").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"))
    tmp = f"{staged}.tmp_{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp, exist_ok=True)
    sdir = f"{tmp}_sentinel"
    sentinel.coalesce(1).write.parquet(sdir)
    part = next(n for n in os.listdir(sdir) if n.endswith(".parquet"))
    shutil.copy(os.path.join(sdir, part),
                os.path.join(tmp, "zz_flush_sentinel.parquet"))
    shutil.rmtree(sdir, ignore_errors=True)
    os.symlink(real, os.path.join(tmp, os.path.basename(events_path)))
    try:
        os.rename(tmp, staged)
    except OSError:            # concurrent caller won the race
        shutil.rmtree(tmp, ignore_errors=True)
    return staged


def sessionize(events: DataFrame, gap_minutes: int = 30,
               watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator: gap-based sessions per user via
    ``applyInPandasWithState`` — the pattern for semantics the built-in
    windows can't express. State per user is O(1): current session bounds +
    running aggregates. Sessions close either inline (a later event in the
    same batch exceeds the gap) or via EVENT-time timeout when the watermark
    passes session_end + gap. Event-time (not processing-time) timeouts
    matter operationally: with wall-clock timeouts an AvailableNow drain
    would block for the full gap duration waiting on real time."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = gap_minutes * 60 * 1000
    out_schema = T.StructType([
        T.StructField("user_id", T.LongType(), False),
        T.StructField("session_start", T.TimestampType(), True),
        T.StructField("session_end", T.TimestampType(), True),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("value_sum", T.DoubleType(), True),
    ])
    state_schema = "start long, end long, n long, vsum double"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            start, end, n, vsum = state.get
            state.remove()
            yield pd.DataFrame([{
                "user_id": user_id,
                "session_start": pd.Timestamp(start, unit="ms"),
                "session_end": pd.Timestamp(end, unit="ms"),
                "n_events": n,
                "value_sum": vsum,
            }])
            return

        rows = pd.concat(list(pdfs)).sort_values("ts")
        ts_ms = (rows["ts"].astype("int64") // 1_000_000).tolist()
        vals = rows["value"].fillna(0.0).tolist()

        sessions = []
        if state.exists:
            start, end, n, vsum = state.get
        else:
            start = end = None
            n, vsum = 0, 0.0
        for t, v in zip(ts_ms, vals):
            if start is None:
                start = end = t
                n, vsum = 1, v
            elif t - end > gap_ms:
                sessions.append((start, end, n, vsum))
                start = end = t
                n, vsum = 1, v
            else:
                end = max(end, t)
                n += 1
                vsum += v
        state.update((start, end, n, vsum))
        # close via event time: fire when the watermark passes end + gap
        state.setTimeoutTimestamp(
            max(end + gap_ms, state.getCurrentWatermarkMs() + 1))
        if sessions:
            yield pd.DataFrame([{
                "user_id": user_id,
                "session_start": pd.Timestamp(s, unit="ms"),
                "session_end": pd.Timestamp(e, unit="ms"),
                "n_events": cnt,
                "value_sum": vs,
            } for s, e, cnt, vs in sessions])

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def _drain(stream_df: DataFrame, checkpoint: str | None,
           apply_batch) -> None:
    """Drain everything currently available in ``stream_df``
    (AvailableNow) through ``apply_batch(batch, tag, epoch_id)`` and
    return — the one foreachBatch driver of the sinks below.
    ``checkpoint`` defaults to a fresh temp directory. ``tag`` is the
    first 12 hex digits of the sha256 of the checkpoint's absolute
    path: epoch ids restart at 0 with every new checkpoint, so a sink
    that keys a commit on the epoch keys it on (tag, epoch) to keep
    distinct lineages from colliding while a true same-checkpoint
    replay still matches."""
    checkpoint = checkpoint or tempfile.mkdtemp(prefix="etl_mark1_ckpt_")
    tag = hashlib.sha256(
        os.path.abspath(checkpoint).encode()).hexdigest()[:12]
    (stream_df.writeStream
     .foreachBatch(lambda batch, epoch_id: apply_batch(batch, tag, epoch_id))
     .option("checkpointLocation", checkpoint)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())


def _commit_once(df: DataFrame, table_dir: str, note: str) -> None:
    """Commit ``df`` as the next version of the versioned table at
    ``table_dir`` (sources/versioned.py) under ``note`` — or skip it
    when a version with that note already exists: the batch is a
    replay of an epoch committed before the checkpoint advanced."""
    from etl_mark1_spark.sources.versioned import history, write_version

    if not os.path.exists(os.path.join(table_dir, "_MANIFEST.json")):
        write_version(df, table_dir, mode="overwrite", note=note)
    elif not any(v.get("note") == note for v in history(table_dir)):
        write_version(df, table_dir, mode="append", note=note)


def upsert_sink(stream_df: DataFrame, path: str, key_cols: list[str],
                checkpoint: str | None = None) -> None:
    """Stream into a keyed parquet table with MERGE semantics: each
    micro-batch upserts (operators/cdc.py:upsert) into the table instead
    of appending, so the sink holds one current row per key.

    ``foreachBatch`` gives the batch-DataFrame hook; the rewritten table
    swaps in atomically (write a sibling version dir, rename over the
    current one) so concurrent readers never observe a half-merged table.
    This is copy-on-write: each batch rewrites the table, which is right
    for dimension-sized sinks. For a 100 TB fact sink, partition the
    table by a key bucket and rewrite only the partitions the batch
    touches (the module docstring pattern in operators/cdc.py) — or use a
    table format with transactional MERGE (Delta/Iceberg) when available.
    Exactly-once: replaying a failed batch re-applies the same upsert,
    which is idempotent by key.
    """
    import uuid

    from etl_mark1_spark.operators.cdc import upsert

    def apply_batch(batch: DataFrame, tag: str, epoch_id: int) -> None:
        spark = batch.sparkSession
        jvm = spark._jvm
        fs_path = jvm.org.apache.hadoop.fs.Path(path)
        fs = fs_path.getFileSystem(spark._jsc.hadoopConfiguration())
        # one row per key within the batch: latest by event time when the
        # batch carries ts, else an arbitrary representative
        if "ts" in batch.columns:
            w = Window.partitionBy(*key_cols).orderBy(F.col("ts").desc())
            batch = (batch.withColumn("_rn", F.row_number().over(w))
                     .filter(F.col("_rn") == 1).drop("_rn"))
        else:
            batch = batch.dropDuplicates(key_cols)
        if fs.exists(fs_path):
            current = spark.read.parquet(path)
            merged = upsert(current, batch, key_cols)
        else:
            merged = batch
        tmp = f"{path.rstrip('/')}_v{epoch_id}_{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").parquet(tmp)
        trash = jvm.org.apache.hadoop.fs.Path(tmp + "_old")
        if fs.exists(fs_path):
            fs.rename(fs_path, trash)
        fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), fs_path)
        fs.delete(trash, True)

    _drain(stream_df, checkpoint, apply_batch)


def correlate_streams(left: DataFrame, right: DataFrame,
                      key_col: str = "user_id",
                      within: str = "10 minutes",
                      watermark: str = "1 hour") -> DataFrame:
    """Stream-stream interval join: pair each left event with the right
    events of the same key that happen within ``within`` AFTER it —
    click-to-conversion attribution as a streaming operator.

    Both sides carry watermarks and the join condition bounds the time
    range, which is what lets Spark evict buffered state: a left row can
    stop waiting once the right watermark passes its ``ts + within``
    horizon, so state is proportional to key-rate x window, not stream
    lifetime. Without the range condition a stream-stream join must
    buffer forever. Batch parity: the same join on static frames (the
    test's oracle).

    Returns (key, left event id/ts, right event id/ts, lag seconds); the
    inner join emits only matched pairs, in append mode.
    """
    lw = left.withWatermark("ts", watermark).select(
        F.col(key_col).alias("k"),
        F.col("event_id").alias("left_id"), F.col("ts").alias("left_ts"))
    rw = right.withWatermark("ts", watermark).select(
        F.col(key_col).alias("rk"),
        F.col("event_id").alias("right_id"), F.col("ts").alias("right_ts"))
    cond = ((F.col("k") == F.col("rk"))
            & (F.col("right_ts") >= F.col("left_ts"))
            & (F.col("right_ts") <= F.col("left_ts")
               + F.expr(f"INTERVAL {within}")))
    return (lw.join(rw, cond)
            .select(F.col("k").alias(key_col), "left_id", "left_ts",
                    "right_id", "right_ts",
                    (F.unix_timestamp("right_ts")
                     - F.unix_timestamp("left_ts")).alias("lag_s")))


def versioned_sink(stream_df: DataFrame, table_dir: str,
                   checkpoint: str | None = None,
                   note_prefix: str = "stream_epoch") -> None:
    """Stream into a VERSIONED table (sources/versioned.py): every
    micro-batch commits as a new snapshot version via the atomic
    manifest, so downstream consumers time-travel / tag / diff the
    stream's history exactly like a batch table — the lakehouse
    ingestion shape without Delta jars.

    Exactly-once by construction: the commit note carries BOTH the epoch
    id and the checkpoint tag (:func:`_drain`), so a replayed batch
    (restart from the SAME checkpoint between version-commit and
    checkpoint advance) is skipped rather than double-appended
    (:func:`_commit_once`), while a drain with a fresh checkpoint, whose
    epochs restart at 0, or a second stream sharing the table never
    matches another lineage's notes. Drains everything currently
    available (AvailableNow) and returns.
    """
    def apply_batch(batch: DataFrame, tag: str, epoch_id: int) -> None:
        _commit_once(batch, table_dir, f"{note_prefix}:{tag}:{epoch_id}")

    _drain(stream_df, checkpoint, apply_batch)


def dedup_ingest_sink(stream_df: DataFrame, corpus_dir: str,
                      index_dir: str, checkpoint: str | None = None, *,
                      text_col: str = "text", id_col: str = "doc_id",
                      threshold: float = 0.8,
                      note_prefix: str = "dedup_ingest") -> None:
    """Streaming dedup-on-ingest: each document micro-batch is screened
    against the persisted MinHash-LSH index
    (operators/incremental.py:incremental_neardup — batch probes the
    index, exact-Jaccard verify on semi-join-bounded candidates,
    keep-first within the batch), then ACCEPTED documents append to the
    versioned corpus table and their index rows to the versioned index
    table. The next batch — in this drain or any later one — sees the
    grown index, so near-duplicates are caught across the stream's whole
    lifetime without ever re-clustering the corpus.

    Exactly-once on BOTH tables via checkpoint-tagged epoch notes
    (:func:`_commit_once`; a replayed batch between version-commit and
    checkpoint advance is detected per-table, so a crash after the
    corpus commit but before the index commit heals on replay: the
    corpus append skips, the index append lands). Drains with
    AvailableNow and returns."""
    from etl_mark1_spark.operators.dedup import release_checkpoint
    from etl_mark1_spark.operators.incremental import (incremental_neardup,
                                                       minhash_index)
    from etl_mark1_spark.sources.versioned import read_table

    def apply_batch(batch: DataFrame, tag: str, epoch_id: int) -> None:
        docs = batch.select(id_col, text_col)
        spark = docs.sparkSession

        # Each table's manifest is checked INDEPENDENTLY: a crash between
        # the first batch's corpus commit and index commit leaves the
        # corpus table existing but no index table, and gating both reads
        # on the corpus manifest would make the replay crash on
        # read_table(index_dir) instead of healing (round-8 ADVICE).
        def _load(table_dir: str, empty: DataFrame) -> DataFrame:
            if os.path.exists(os.path.join(table_dir, "_MANIFEST.json")):
                return read_table(spark, table_dir)
            return empty

        corpus = _load(corpus_dir, docs.limit(0))
        index = _load(index_dir, minhash_index(docs.limit(0), text_col,
                                               id_col))
        verdicts = incremental_neardup(docs, index, corpus, text_col,
                                       id_col, threshold=threshold)
        accepted = docs.join(
            verdicts.filter(F.col("dup_of").isNull()).select(id_col),
            id_col, "left_semi")
        note = f"{note_prefix}:{tag}:{epoch_id}"
        _commit_once(accepted, corpus_dir, note)
        _commit_once(minhash_index(accepted, text_col, id_col), index_dir,
                     note)
        # both commits have consumed the verdicts: free the candidate
        # checkpoints behind them so storage stays flat across batches
        release_checkpoint(verdicts, deep=True)

    _drain(stream_df, checkpoint, apply_batch)


def index_ingest_sink(stream_df: DataFrame, index_dir: str,
                      checkpoint: str | None = None, *,
                      text_col: str = "text", id_col: str = "doc_id",
                      num_buckets: int | None = None) -> None:
    """Streaming ingest INTO the persisted search index: each document
    micro-batch appends a BM25-queryable segment (postings + stats +
    dict, operators/indexing.py:write_search_index_segment) — the
    crawl-to-searchable-corpus composition: a drained stream's index
    answers bm25_search_persisted / bm25_maxscore_search immediately,
    equal to a batch-built index over the same documents (pinned by the
    ``streaming_index_ingest_docs`` oracle).

    Replay-idempotent WITHOUT an epoch-note table: every artifact is
    partitioned by a segment id derived from (checkpoint tag, epoch id)
    and written with DYNAMIC partition overwrite, so a replayed epoch
    (crash between data write and checkpoint advance) REWRITES exactly
    its own partitions instead of double-appending — f(batch) twice ==
    once, structurally. The checkpoint tag (:func:`_drain`) keeps two
    drains with fresh checkpoints from overwriting each other's
    segments. Drains AvailableNow and returns. Batches
    must be document-disjoint across the stream's lifetime (standard
    segment discipline; re-ingest belongs to compact_index)."""
    from etl_mark1_spark.operators.indexing import (DEFAULT_BUCKETS,
                                                    write_search_index_segment)

    nb = DEFAULT_BUCKETS if num_buckets is None else num_buckets

    def apply_batch(batch: DataFrame, tag: str, epoch_id: int) -> None:
        write_search_index_segment(
            batch.select(id_col, text_col), index_dir,
            seg=f"{tag}-{epoch_id}", text_col=text_col,
            id_col=id_col, num_buckets=nb)

    _drain(stream_df, checkpoint, apply_batch)


def interval_join_streams(left: DataFrame, right: DataFrame,
                          on_col: str = "user_id",
                          upper: str = "2 hours",
                          watermark: str = "1 hour") -> DataFrame:
    """Stream-stream INNER interval join: right-side rows matched to
    left-side rows of the same key whose timestamp falls in
    ``[left.ts, left.ts + upper]`` — the view->click attribution shape.
    Both sides carry watermarks and the join condition is time-bounded,
    which is exactly what lets Structured Streaming BOUND THE STATE
    STORE: a buffered left row is dropped once the right watermark
    passes ``left.ts + upper``, so state is O(events within the
    interval window), not O(stream). Returns the joined frame with the
    right side's columns suffixed ``_r``; callers project."""
    lw = left.withWatermark("ts", watermark)
    rw = right.withWatermark("ts", watermark).select(
        *[F.col(c).alias(f"{c}_r") for c in right.columns])
    cond = ((F.col(on_col) == F.col(f"{on_col}_r"))
            & (F.col("ts_r") >= F.col("ts"))
            & (F.col("ts_r") <= F.col("ts")
               + F.expr(f"INTERVAL {upper}")))
    return lw.join(rw, cond, "inner")


def ivf_ingest_sink(stream_df: DataFrame, index_dir: str,
                    checkpoint: str | None = None, *,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> None:
    """Streaming ingest INTO the persisted VECTOR index, the
    crawl-to-searchable-corpus path for embeddings: each
    micro-batch is assigned map-side against the index's FIXED
    centroids (seeded once by operators/similarity.py:ivf_init — fit on
    a representative sample, never refit per batch, so assignment is a
    broadcast argmin with no shuffle) and written as an idempotent
    (``_centroid``, ``seg``) segment. A drained stream's index answers
    ivf_topk_persisted / hybrid_text_vector_search immediately, equal
    to a batch-built index over the same vectors (full-probe exactness
    pinned by the ``streaming_ivf_ingest_topk`` oracle).

    Replay idempotence is structural: the segment id derives from
    (checkpoint tag, epoch id) and the write uses dynamic partition
    overwrite (operators/segments.py), so a replayed epoch
    rewrites exactly its own partitions. Batches must be id-disjoint
    across the stream's lifetime; deletions compose via
    operators/similarity.py:ivf_delete unchanged."""
    from etl_mark1_spark.operators.similarity import (_read_centroids,
                                                      ivf_assign,
                                                      ivf_write_segment)

    # centroid table only, read once per drain — NOT ivf_index_read:
    # before the first drain the index has centroids but no vectors
    # directory yet
    centroids = _read_centroids(stream_df.sparkSession, index_dir)

    def apply_batch(batch: DataFrame, tag: str, epoch_id: int) -> None:
        ivf_write_segment(
            ivf_assign(batch.select(id_col, vec_col), centroids,
                       vec_col=vec_col),
            index_dir, seg=f"{tag}-{epoch_id}")

    _drain(stream_df, checkpoint, apply_batch)
