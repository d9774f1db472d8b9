"""The segment layout shared by the persisted indexes.

The BM25 text index (operators/indexing.py) and the IVF / IVF-PQ vector
index (operators/similarity.py) make the same on-disk decisions: each
artifact lives under ``<base>/<part>``, partitioned on one layout column
(the text index's md5 ``bucket``, the vector index's ``_centroid``);
a streaming batch adds a ``seg`` partition column and overwrites only
its own partitions; a delete appends tombstone ids under
``<base>/deletes`` that every live read anti-joins away. This module
makes those decisions once. What an artifact holds (its columns, how
its layout column is computed, what a delete must correct) stays with
its index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_mark1_spark.session import run_jobs


def _exists(spark, path: str) -> bool:
    """Whether ``path`` exists, by one Hadoop ``FileSystem`` call."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath)


def _write_parts(parts: dict[str, DataFrame], base: str, mode: str,
                 key: str | None = None, seg: str | None = None) -> None:
    """Persist each frame of ``parts`` under ``<base>/<part>`` — the one
    writer of both indexes' on-disk layout.

    * A frame that carries the ``key`` column is partitioned on it and
      rebalances on it before the write (AQE sizes the output files: a
      handful at fixture scale, split-sized at production, never
      tasks x partitions).
    * ``seg`` adds a ``seg`` partition column written with DYNAMIC
      partition overwrite, so re-running the same (batch, seg)
      replaces exactly its own partitions.
    * The writes are independent jobs and run through
      ``session.run_jobs``, which keeps the caller's job group."""
    def job(part: str, df: DataFrame):
        def run() -> None:
            out, keys = df, [key] if key in df.columns else []
            if seg is not None:
                out, keys = out.withColumn("seg", F.lit(seg)), keys + ["seg"]
            if key in df.columns:
                out = out.hint("rebalance", key)
            writer = out.write.mode(mode)
            if seg is not None:
                writer = writer.option("partitionOverwriteMode", "dynamic")
            if keys:
                writer = writer.partitionBy(*keys)
            writer.parquet(f"{base.rstrip('/')}/{part}")
        return run

    spark = next(iter(parts.values())).sparkSession
    run_jobs(spark, [job(part, df) for part, df in parts.items()])


def _read_tombstones(spark, base: str, schema: str) -> DataFrame | None:
    """The raw tombstone rows under ``<base>/deletes``, read with the
    declared ``schema`` (so opening them launches no job), or None when
    no delete was ever issued (the deletes path does not exist)."""
    path = f"{base.rstrip('/')}/deletes"
    if not _exists(spark, path):
        return None
    return spark.read.schema(schema).parquet(path)


def _live(spark, base: str, frame: DataFrame, id_col: str) -> DataFrame:
    """``frame`` without the rows whose ``id_col`` is tombstoned under
    ``<base>/deletes`` — the one tombstone anti-join. Tombstone ids are
    ``bigint``. A double delete leaves a duplicate id, which the left
    anti-join ignores. The tombstone set is takedown-sized and
    broadcasts."""
    tomb = _read_tombstones(spark, base, f"{id_col} bigint")
    if tomb is None:
        return frame
    return frame.join(F.broadcast(tomb), id_col, "left_anti")
