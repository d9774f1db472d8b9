"""Similarity search over an embedding column (``array<float>``).

Three tiers (SURVEY.md §7.2 step 8):

- ``cosine_topk``      : exact brute-force top-k — the correctness baseline.
                         One scan, no shuffle except the final top-k.
- ``lsh_topk``         : banded random-hyperplane LSH (OR of independent
                         hash tables) — prunes the scan to candidate
                         buckets; approximate with tunable recall.
- ``ivf_topk``         : IVF via KMeans centroids — scan only the ``nprobe``
                         nearest inverted lists; the scale path (at 100 TB the
                         table is bucketed/partitioned by centroid id so a
                         probe is partition pruning, not a filter).

Dot products run JVM-side (``zip_with`` + ``aggregate`` over doubles) —
deterministic sequential accumulation, reproducible in any engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_mark1_spark.operators.segments import _live, _write_parts


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product of two numeric arrays."""
    return F.aggregate(F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(col: Column) -> Column:
    return F.sqrt(F.aggregate(_as_double(col), F.lit(0.0),
                              lambda acc, x: acc + x * x))


def cosine_similarity(col: Column, query: list[float]) -> Column:
    """Cosine similarity of a vector column against a constant query vector."""
    q = F.array(*[F.lit(float(x)) for x in query])
    import math

    qn = math.sqrt(sum(float(x) * float(x) for x in query))
    return dot(col, q) / (l2_norm(col) * F.lit(qn))


def cosine_topk(df: DataFrame, query: list[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id",
                round_digits: int | None = 6) -> DataFrame:
    """Exact brute-force top-k by cosine similarity (descending, id
    tie-break). Returns (id_col, similarity). ``orderBy().limit(k)`` compiles
    to TakeOrderedAndProject — per-partition heaps then a k-row merge on the
    driver, no full sort, no full shuffle."""
    sim = cosine_similarity(F.col(vec_col), query)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        df.select(F.col(id_col), sim.alias("similarity"))
        .orderBy(F.desc("similarity"), F.col(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, num_planes: int, seed: int):
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_planes, dim))


def _rhp_signature(col: Column, planes) -> Column:
    """Sign-pattern bucket signature under random hyperplanes."""
    v = _as_double(col)
    return F.concat_ws("", *[
        F.when(
            F.aggregate(
                F.zip_with(v, F.array(*[F.lit(float(p)) for p in plane]),
                           lambda x, y: x * y),
                F.lit(0.0), lambda a, x: a + x,
            ) >= 0, F.lit("1"),
        ).otherwise(F.lit("0"))
        for plane in planes
    ])


def lsh_topk(df: DataFrame, query: list[float], k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             num_tables: int = 16, planes_per_table: int = 4,
             seed: int = 42) -> DataFrame:
    """Approximate top-k via BANDED random-hyperplane LSH: ``num_tables``
    independent hash tables of ``planes_per_table`` planes each; a vector is
    a candidate if it matches the query's signature in ANY table, then the
    exact cosine ranks candidates.

    The OR-of-tables shape is what makes recall tunable: per-table match
    probability is p^b (p = 1 - angle/pi per plane), overall
    1 - (1 - p^b)^L — more tables raise recall, more planes per table raise
    selectivity. A single deep signature (the naive formulation) has recall
    p^bits, which collapses unless neighbors are near-identical. At scale,
    persist the L bucket columns and turn each table probe into a bucket
    equi-join / partition prune instead of this filter-scan.
    """
    import numpy as np

    dim = len(query)
    q = np.asarray(query, dtype=float)
    keep = None
    for table in range(num_tables):
        planes = _hyperplanes(dim, planes_per_table, seed + table)
        qsig = "".join(map(str, (planes @ q >= 0).astype(int)))
        match = _rhp_signature(F.col(vec_col), planes) == qsig
        keep = match if keep is None else keep | match
    return cosine_topk(df.filter(keep), query, k, vec_col, id_col)


def ivf_build(df: DataFrame, vec_col: str = "embedding",
              num_centroids: int = 16, seed: int = 42,
              sample_fraction: float | None = None):
    """Fit IVF centroids (KMeans) and return (assigned_df, centroids).

    ``assigned_df`` carries a ``_centroid`` id column — at scale, persist it
    partitioned/bucketed by ``_centroid`` so probes prune partitions.
    Fitting on a sample (``sample_fraction``) keeps training cost flat as the
    table grows.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = df if sample_fraction is None else df.sample(sample_fraction, seed)
    features = train.select(array_to_vector(_as_double(F.col(vec_col))).alias("features"))
    model = KMeans(k=num_centroids, seed=seed).fit(features)
    assigned = model.transform(
        df.withColumn("features", array_to_vector(_as_double(F.col(vec_col))))
    ).withColumnRenamed("prediction", "_centroid").drop("features")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def semantic_dedup(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id", threshold: float = 0.9,
                   num_centroids: int = 16, seed: int = 42,
                   sample_fraction: float | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster embeddings (KMeans),
    then within each cluster connect pairs with cosine >= threshold and
    keep the minimum id per connected component. Returns
    (id_col, cluster_id) like the other dedup families — filter to
    ``id == cluster_id`` for the kept representatives.

    The candidate pairs come from a WITHIN-CENTROID self-join: quadratic
    only in cluster size, never corpus size — the standard SemDeDup
    approximation (cross-centroid near-dups are missed by design; raise
    ``num_centroids`` proportionally to corpus size to keep clusters
    bounded, or run :func:`embedding_neardup`'s hyperplane-LSH variant
    when candidate recall matters more than cluster locality). At scale,
    persist ``assigned`` bucketed by ``_centroid`` so the self-join is
    co-partitioned and shuffle-free.
    """
    from etl_mark1_spark.operators.dedup import _cluster_min_label

    assigned, _ = ivf_build(df, vec_col, num_centroids, seed,
                            sample_fraction=sample_fraction)
    norm = l2_norm(F.col(vec_col))
    base = assigned.select(F.col(id_col), F.col(vec_col), "_centroid",
                           norm.alias("_norm"))
    left = base.select(F.col(id_col).alias("src"),
                       F.col(vec_col).alias("_va"),
                       F.col("_norm").alias("_na"), "_centroid")
    right = base.select(F.col(id_col).alias("dst"),
                        F.col(vec_col).alias("_vb"),
                        F.col("_norm").alias("_nb"), "_centroid")
    pairs = (
        left.join(right, "_centroid")
        .filter(F.col("src") < F.col("dst"))
        .filter(dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb")) >= threshold)
        .select("src", "dst")
    )
    return _cluster_min_label(df.select(id_col), pairs, id_col)


def ivf_topk(assigned_df: DataFrame, centroids: list[list[float]],
             query: list[float], k: int = 10, nprobe: int = 4,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Probe the ``nprobe`` centroids nearest to the query; exact top-k within
    the probed inverted lists."""
    probe = _nearest_centroids(centroids, query, nprobe)
    pruned = assigned_df.filter(F.col("_centroid").isin(probe))
    return cosine_topk(pruned, query, k, vec_col, id_col)


def _nearest_centroids(centroids: list[list[float]], query: list[float],
                       nprobe: int) -> list[int]:
    """The ids of the ``nprobe`` centroids nearest (L2) to ``query``,
    ascending — the probe list of every IVF search (driver-side, over
    the k-row centroid table)."""
    import numpy as np

    q = np.asarray(query, dtype=float)
    dists = [float(np.linalg.norm(np.asarray(c) - q)) for c in centroids]
    return sorted(np.argsort(dists)[:nprobe].tolist())


# -- IVF index lifecycle: persist / reopen / incremental add ----------------

def ivf_index_write(assigned: DataFrame, centroids: list[list[float]],
                    path: str, mode: str = "overwrite") -> None:
    """Persist an IVF index: the assigned vectors land partitioned by
    ``_centroid`` (a probe then reads nprobe DIRECTORIES — partition
    pruning, no corpus scan; tests/test_indexing.py asserts the pruned
    plan), and the centroid table rides alongside as a k-row parquet.
    ``mode="append"`` adds a batch that was assigned with
    :func:`ivf_assign` against the SAME centroids — partition layout
    aligns automatically because the centroid id is the partition key."""
    _write_parts({"vectors": assigned}, path, mode, key="_centroid")
    if mode == "overwrite":
        ivf_init(assigned.sparkSession, path, centroids)


def ivf_index_read(spark, path: str):
    """Reopen a persisted IVF index -> (assigned_df, centroids). The
    vectors keep the caller's columns, so their schema is inferred; the
    centroid table is k rows — one bounded collect."""
    return spark.read.parquet(f"{path}/vectors"), _read_centroids(spark, path)


#: the declared schemas of the vector index's small tables; each row's
#: leading columns are its unique key
_TABLES = {"centroids": "_centroid int, center array<double>",
           "codebooks": "subspace int, code int, center array<double>"}


def _write_table(spark, path: str, table: str, rows: list) -> None:
    """Overwrite the small ``table`` of the vector index at ``path``
    with ``rows``, as one file."""
    df = spark.createDataFrame(rows, _TABLES[table]).coalesce(1)
    _write_parts({table: df}, path, "overwrite")


def _read_table(spark, path: str, table: str) -> list:
    """The rows of the small ``table`` of the vector index at ``path``
    in key order: read with its declared schema and sorted on the
    driver, so the read is one single-stage job."""
    return sorted(spark.read.schema(_TABLES[table])
                  .parquet(f"{path.rstrip('/')}/{table}").collect())


def _read_centroids(spark, path: str) -> list[list[float]]:
    """The centroids of the vector index at ``path``, in id order."""
    return [list(r["center"]) for r in _read_table(spark, path, "centroids")]


#: centroid count above which ivf_assign switches from per-centroid
#: codegen expressions to one Arrow-batched numpy argmin: k literal
#: zip_with aggregates inline the whole centroid table into the plan,
#: and past a few dozen centroids the expression tree crosses the JIT
#: method-size cliff this repo documents in SCALE.md (round 8) — while a
#: (batch x dim) @ (dim x k) matmul is one BLAS call.
_IVF_EXPR_MAX_K = 32


def ivf_assign(df: DataFrame, centroids: list[list[float]],
               vec_col: str = "embedding") -> DataFrame:
    """Assign vectors to their nearest EXISTING centroid (squared-L2
    argmin, lowest-id tie-break) without refitting — the incremental-add
    half of the IVF lifecycle: a daily embedding batch joins a persisted
    index at O(batch * k) map-side work, no shuffle, no MLlib model
    object needed at ingest time.

    Two physical strategies, same result (parity pinned in
    tests/test_indexing.py): small k stays pure codegen (k literal
    zip_with distance aggregates inside the scan); past
    ``_IVF_EXPR_MAX_K`` the centroid matrix rides an Arrow batch instead
    — ``argmin(|x|^2 - 2 x C^T + |c|^2)`` as one numpy matmul per batch,
    because a thousand-centroid production index inlined as expressions
    would cross the codegen-size cliff (SCALE.md round 8) and run
    interpreted.

    Re-clustering cadence is the caller's policy; the standard operating
    point (FAISS-style IVF) tolerates drift until mean within-list
    distance degrades, then rebuilds with :func:`ivf_build`."""
    if not centroids:
        raise ValueError("ivf_assign needs at least one centroid")
    if len(centroids) > _IVF_EXPR_MAX_K:
        return _ivf_assign_numpy(df, centroids, vec_col)
    v = _as_double(F.col(vec_col))

    def dist2(c: list[float]) -> Column:
        lit = F.array(*[F.lit(float(x)) for x in c])
        return F.aggregate(F.zip_with(v, lit, lambda a, b: (a - b) * (a - b)),
                           F.lit(0.0), lambda acc, x: acc + x)

    darr = F.array(*[dist2(c) for c in centroids])
    nearest = (F.array_position(darr, F.array_min(darr)) - 1).cast("int")
    return df.withColumn("_centroid", nearest)


def _ivf_assign_numpy(df: DataFrame, centroids: list[list[float]],
                      vec_col: str) -> DataFrame:
    """Large-k assignment: one numpy matmul per Arrow batch. Ties break
    to the lowest centroid id (np.argmin), matching the expression
    path's array_position semantics."""
    import numpy as np

    from pyspark.sql import types as T

    c = np.asarray(centroids, dtype=np.float64)            # (k, d)
    bc = df.sparkSession.sparkContext.broadcast(c)
    schema = T.StructType(df.schema.fields
                          + [T.StructField("_centroid", T.IntegerType())])

    def assign(batches):
        cents = bc.value
        cn = (cents * cents).sum(axis=1)                   # |c|^2, (k,)
        for pdf in batches:
            if len(pdf):
                x = np.stack([np.asarray(v, dtype=np.float64)
                              for v in pdf[vec_col]])      # (n, d)
                # |x|^2 is constant per row for the argmin — skip it
                d2 = cn[None, :] - 2.0 * (x @ cents.T)     # (n, k)
                pdf = pdf.assign(_centroid=d2.argmin(axis=1).astype("int32"))
            else:
                pdf = pdf.assign(_centroid=np.array([], dtype="int32"))
            yield pdf

    return df.mapInPandas(assign, schema)


def ivf_index_append(spark, path: str, new_vecs: DataFrame,
                     vec_col: str = "embedding") -> None:
    """Incremental add: assign ``new_vecs`` against the index's OWN
    persisted centroids and append — O(batch), history untouched."""
    centroids = _read_centroids(spark, path)
    ivf_index_write(ivf_assign(new_vecs, centroids, vec_col), centroids,
                    path, mode="append")


# -- int8 quantization ------------------------------------------------------

def _int8_scale(col: Column) -> Column:
    """Symmetric per-vector quantization scale: max|x| / 127."""
    return F.array_max(F.transform(_as_double(col), F.abs)) / F.lit(127.0)


def quantize_int8(df: DataFrame, vec_col: str = "embedding",
                  qvec_col: str = "qvec",
                  scale_col: str = "qscale") -> DataFrame:
    """Symmetric per-vector int8 quantization: q_i = round(x_i / scale)
    with scale = max|x|/127, stored as ``array<tinyint>`` + one float —
    a 4x memory/IO cut over float32 that makes a 100 TB embedding table
    scan-, cache-, and shuffle-cheap. Cosine between quantized vectors
    needs no scale at all (per-vector scales cancel); dot-product
    reconstruction multiplies the two stored scales back on.

    The arithmetic (divide by the precomputed scale, round half away
    from zero) is engine-reproducible: Spark's ROUND and DuckDB's round
    agree, which is what lets ann_int8_topk carry an exact SQL oracle.
    An all-zero vector quantizes to zeros (scale would be 0/127)."""
    scale = _int8_scale(F.col(vec_col))
    q = F.when(
        scale == 0,
        F.transform(F.col(vec_col), lambda x: F.lit(0).cast("tinyint"))
    ).otherwise(
        F.transform(_as_double(F.col(vec_col)),
                    lambda x: F.round(x / scale, 0).cast("tinyint")))
    return df.withColumn(qvec_col, q) \
             .withColumn(scale_col, scale.cast("float"))


def _int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product (longs; int8 x int8 x dim<=2^15 cannot
    overflow)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)


def _quantize_py(vec: list[float]) -> list[int]:
    """Driver-side mirror of quantize_int8 for a constant query vector —
    identical formula and half-away-from-zero rounding (Python's round()
    is banker's and would diverge)."""
    import math

    max_abs = max(abs(float(x)) for x in vec)
    if max_abs == 0:
        return [0] * len(vec)
    scale = max_abs / 127.0
    out = []
    for x in vec:
        v = float(x) / scale
        out.append(int(math.floor(v + 0.5)) if v >= 0
                   else int(math.ceil(v - 0.5)))
    return out


def int8_cosine_topk(df: DataFrame, query: list[float], k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     round_digits: int | None = 6) -> DataFrame:
    """Top-k by cosine similarity computed entirely in int8-quantized
    space: integer dot products and integer norms (exact in doubles up to
    dim 2^15), one final division. Same TakeOrderedAndProject shape as
    cosine_topk; the scan reads 1/4 the bytes once the table stores qvec.
    Per-vector scales cancel in cosine, so none are needed here."""
    qq = _quantize_py(query)
    qcol = F.array(*[F.lit(int(v)).cast("long") for v in qq])
    # IEEE sqrt via the engine (not Python pow) so the oracle's
    # sqrt(list_dot_product(qv, qv)) is bitwise-identical
    qnorm = F.sqrt(F.lit(float(sum(v * v for v in qq))))

    scale = _int8_scale(F.col(vec_col))
    ev = F.when(
        scale == 0,
        F.transform(F.col(vec_col), lambda x: F.lit(0).cast("long"))
    ).otherwise(
        F.transform(_as_double(F.col(vec_col)),
                    lambda x: F.round(x / scale, 0).cast("long")))
    tmp = df.select(F.col(id_col), ev.alias("_ev"))
    denom = F.sqrt(_int_dot(F.col("_ev"), F.col("_ev")).cast("double")) \
        * qnorm
    sim = F.when(denom == 0, F.lit(None).cast("double")).otherwise(
        _int_dot(F.col("_ev"), qcol).cast("double") / denom)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (tmp.select(F.col(id_col), sim.alias("similarity"))
            .orderBy(F.desc("similarity"), F.col(id_col))
            .limit(k))


def knn_join(queries: DataFrame, table: DataFrame, k: int = 3,
             vec_col: str = "embedding", id_col: str = "vec_id",
             query_id_col: str = "query_id",
             round_digits: int | None = 6) -> DataFrame:
    """k-nearest-neighbor JOIN: for every query vector, its top-k cosine
    neighbors from ``table`` — the batch form of similarity search (one
    query per row instead of one constant query).

    Returns (query_id, neighbor_id, similarity, rank). The query set is
    the small side by definition, so it BROADCASTS onto one scan of the
    table (never a shuffled cartesian); ranking shuffles only the
    (n_queries x k-bounded survivors... strictly n_queries x n_table)
    similarity rows on the query id. At 100 TB cut that shuffle with
    candidate pruning first — IVF-assign the table once and knn_join per
    probed inverted list (ivf_topk's pruning generalizes per query), or
    pre-reduce per partition with a groupBy(query).agg(collect top-k)
    before the global window. Ties break on neighbor id.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qvec"))
    pairs = table.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col)) \
        .crossJoin(F.broadcast(q))
    sim = dot(F.col(vec_col), F.col("_qvec")) \
        / (l2_norm(F.col(vec_col)) * l2_norm(F.col("_qvec")))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("similarity"), F.col("neighbor_id"))
    return (pairs.withColumn("similarity", sim)
            .withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k)
            .select(query_id_col, "neighbor_id", "similarity", "rank"))


# -- PCA: embedding whitening / dimensionality reduction --------------------

_PCA_PARTIAL_SCHEMA = "n long, s array<double>, g array<double>"


def _pca_partials(df: DataFrame, vec_col: str = "embedding",
                  fanin: int = 32) -> DataFrame:
    """Distributed (n, sum, Gram) accumulation for :func:`pca_fit`,
    reduced IN-CLUSTER to a single row before anything reaches the
    driver:

    - stage 1 (``mapInPandas`` over the data): each input partition
      streams its Arrow batches through a numpy accumulator and yields
      ONE ``(n, s[d], g[d*d])`` row — one row per partition, never one
      per batch, and never the vectors themselves;
    - stage 2: those rows shuffle into ``fanin`` merge tasks, each
      stream-summing its share into one row (memory O(d^2) per task
      regardless of row count — mapInPandas iterates Arrow batches, it
      does not materialize the group);
    - stage 3: the <= ``fanin`` survivors merge into the final single
      row the same way.

    The driver therefore collects exactly ONE O(d^2) row however many
    partitions the scan had (the round-4 version collected one row per
    Arrow batch — 8*d^2 bytes x rows/batch_size at the driver, a real
    bottleneck at 100 TB with d=768-class embeddings).
    """
    import numpy as np
    import pandas as pd

    def partials(batches):
        n, s, g = 0, None, None
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n += x.shape[0]
            bs, bg = x.sum(axis=0), x.T @ x
            s = bs if s is None else s + bs
            g = bg if g is None else g + bg
        if n:
            yield pd.DataFrame({"n": [n], "s": [s.tolist()],
                                "g": [g.reshape(-1).tolist()]})

    def merge(batches):
        n, s, g = 0, None, None
        for pdf in batches:
            for i in range(len(pdf)):
                n += int(pdf["n"].iloc[i])
                rs = np.asarray(pdf["s"].iloc[i], dtype=np.float64)
                rg = np.asarray(pdf["g"].iloc[i], dtype=np.float64)
                s = rs if s is None else s + rs
                g = rg if g is None else g + rg
        if n:
            yield pd.DataFrame({"n": [n], "s": [s.tolist()],
                                "g": [g.tolist()]})

    part = df.select(vec_col).mapInPandas(partials,
                                          schema=_PCA_PARTIAL_SCHEMA)
    return (part.repartition(fanin)
            .mapInPandas(merge, schema=_PCA_PARTIAL_SCHEMA)
            .repartition(1)
            .mapInPandas(merge, schema=_PCA_PARTIAL_SCHEMA))


def pca_fit(df: DataFrame, vec_col: str = "embedding",
            k: int = 8) -> dict:
    """Fit a PCA model over an embedding column: mean vector + top-``k``
    principal components + eigenvalues — the standard embedding
    post-processing (decorrelate, compress, or whiten before clustering
    / ANN / dedup; "all-but-the-top" cleanup drops the first component).

    Scale shape: per-partition numpy accumulation of the d x d Gram
    partial and d-vector sum, then an in-cluster two-level tree merge
    (:func:`_pca_partials`) — the driver receives exactly ONE row of
    d^2 + d doubles and eigendecomposes the d x d covariance
    (d = embedding width, tiny). The vectors themselves are read once
    and never shuffled or collected. Component signs are canonicalized
    (largest-magnitude coordinate positive) so the model is
    reproducible across runs.

    Returns {"mean", "components" (k x d), "eigvals" (descending, full
    spectrum), "n"} with plain lists — broadcast-friendly and
    JSON-serializable.
    """
    import numpy as np

    rows = _pca_partials(df, vec_col).collect()
    if not rows:
        raise ValueError("pca_fit: empty input")
    assert len(rows) == 1, f"tree merge must yield one row, got {len(rows)}"
    n = rows[0].n
    s = np.asarray(rows[0].s)
    g = np.asarray(rows[0].g)
    d = s.shape[0]
    mean = s / n
    cov = g.reshape(d, d) / n - np.outer(mean, mean)
    eigvals, eigvecs = np.linalg.eigh(cov)          # ascending
    order = np.argsort(eigvals)[::-1]
    eigvals, eigvecs = eigvals[order], eigvecs[:, order]
    comps = eigvecs[:, :k].T
    # canonical sign: the largest-|coordinate| of each component positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return {"mean": mean.tolist(), "components": comps.tolist(),
            "eigvals": eigvals.tolist(), "n": int(n)}


def pca_project(df: DataFrame, model: dict, vec_col: str = "embedding",
                out_col: str = "pca") -> DataFrame:
    """Project vectors onto the fitted components:
    ``out = components @ (vec - mean)`` — a numpy matmul per Arrow batch
    (the model rides the closure; Spark broadcasts it with the task),
    partition-preserving, no shuffle."""
    import numpy as np
    import pandas as pd

    mean = np.asarray(model["mean"])
    comps = np.asarray(model["components"])
    other = [c for c in df.columns if c != vec_col]

    def proj(batches):
        for pdf in batches:
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            out = (x - mean) @ comps.T
            res = pdf[other].copy()
            res[out_col] = list(out)
            yield res

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields if f.name != vec_col)
    return df.mapInPandas(proj, schema=f"{schema}, {out_col} array<double>")


# -- Product quantization: IVF-PQ (Jégou, Douze & Schmid 2011) ---------------
#
# "Product quantization for nearest neighbor search", TPAMI 2011 — public
# algorithm. The vector splits into m subspaces; each subspace gets its own
# ksub-entry codebook (KMeans), and a vector stores as m 8-bit codes —
# 16-32x smaller than the float vector (beyond int8's 4x), which is what
# lets a 100 TB embedding corpus keep its index in scan-speed storage.
# Queries score codes against a per-query (m x ksub) lookup table of
# subspace distances (ADC — asymmetric distance computation): one numpy
# gather per Arrow batch, no decode. The reference has no vector surface
# at all (its search is SQL LIKE, backend/services/duckdb_engine.py);
# this extends the repo's own IVF lifecycle.

def pq_train(df: DataFrame, vec_col: str = "embedding", m: int = 8,
             ksub: int = 16, seed: int = 42,
             sample_fraction: float | None = None) -> list:
    """Train per-subspace PQ codebooks: returns ``codebooks[m][ksub]``
    (each entry a dsub-float center). Deterministic for a fixed seed —
    subspace j fits KMeans(k=ksub, seed=seed+j) on the j-th vector
    slice, the same fixed-seed machinery as :func:`ivf_build`. Training
    cost stays flat as the corpus grows via ``sample_fraction`` (the
    FAISS operating point: codebooks come from a sample, codes from
    everything)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = df if sample_fraction is None else df.sample(sample_fraction,
                                                         seed)
    first = train.select(vec_col).head()
    if first is None:
        raise ValueError("pq_train needs a non-empty frame")
    dim = len(first[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = []
    for j in range(m):
        sub = train.select(array_to_vector(
            F.slice(_as_double(F.col(vec_col)), j * dsub + 1, dsub))
            .alias("features"))
        model = KMeans(k=ksub, seed=seed + j).fit(sub)
        books.append([[float(x) for x in c] for c in model.clusterCenters()])
    return books


def pq_encode(df: DataFrame, codebooks: list,
              vec_col: str = "embedding",
              code_col: str = "pq_code") -> DataFrame:
    """Encode vectors as m uint8 codes in a BINARY column (m bytes per
    vector — honest 8-bit storage, not an int array dressed up).
    Nearest-code assignment per subspace is one numpy matmul per
    (subspace, Arrow batch) — ``argmin(|c|^2 - 2 sub @ C^T)``, lowest
    code id on ties, the same strategy (and tie-break) as
    :func:`_ivf_assign_numpy`. Map-side only; the codebooks ride the
    broadcast."""
    import numpy as np

    from pyspark.sql import types as T

    cb = [np.asarray(b, dtype=np.float64) for b in codebooks]
    if any(len(b) > 256 for b in cb):
        raise ValueError("ksub > 256 does not fit 8-bit codes")
    m, dsub = len(cb), cb[0].shape[1]
    bc = df.sparkSession.sparkContext.broadcast(cb)
    schema = T.StructType(df.schema.fields
                          + [T.StructField(code_col, T.BinaryType())])

    def enc(batches):
        books = bc.value
        cn = [(b * b).sum(axis=1) for b in books]
        for pdf in batches:
            if not len(pdf):
                yield pdf.assign(**{code_col: []})
                continue
            x = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            codes = np.empty((len(pdf), m), dtype=np.uint8)
            for j in range(m):
                sub = x[:, j * dsub:(j + 1) * dsub]
                d2 = cn[j][None, :] - 2.0 * (sub @ books[j].T)
                codes[:, j] = d2.argmin(axis=1)
            yield pdf.assign(**{code_col: [c.tobytes() for c in codes]})

    return df.mapInPandas(enc, schema)


def pq_adc_lut(codebooks: list, query: list[float]):
    """The per-query ADC table: ``lut[j][c]`` = squared L2 distance from
    the query's j-th slice to codebook entry c. (m x ksub) floats —
    KB-sized, built driver-side, broadcast with the scoring task."""
    import numpy as np

    cb = [np.asarray(b, dtype=np.float64) for b in codebooks]
    dsub = cb[0].shape[1]
    q = np.asarray(query, dtype=np.float64)
    return np.stack([((cb[j] - q[j * dsub:(j + 1) * dsub]) ** 2).sum(axis=1)
                     for j in range(len(cb))])


def pq_adc_topk(codes_df: DataFrame, codebooks: list, query: list[float],
                k: int = 10, id_col: str = "vec_id",
                code_col: str = "pq_code") -> DataFrame:
    """Approximate top-k by ADC over a codes frame: per Arrow batch, one
    numpy gather of the (m x ksub) lookup table at each row's codes and
    a row-sum — no vector decode, no shuffle before the final ordered
    limit (TakeOrderedAndProject: per-partition heaps, k-row driver
    merge). Returns (id_col, adc_dist) ascending."""
    import numpy as np

    from pyspark.sql import types as T

    lut = pq_adc_lut(codebooks, query)
    bc = codes_df.sparkSession.sparkContext.broadcast(lut)
    m = lut.shape[0]
    id_type = codes_df.schema[id_col].dataType.simpleString()
    schema = T._parse_datatype_string(
        f"{id_col} {id_type}, adc_dist double")

    def score(batches):
        import pandas as pd

        t = bc.value
        rows_j = np.arange(m)
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({id_col: [], "adc_dist": []})
                continue
            codes = np.stack([np.frombuffer(b, dtype=np.uint8)
                              for b in pdf[code_col]])
            d = t[rows_j[None, :], codes].sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(),
                                "adc_dist": np.round(d, 6)})

    return (codes_df.select(id_col, code_col).mapInPandas(score, schema)
            .orderBy(F.col("adc_dist").asc(), F.col(id_col))
            .limit(k))


def _residuals(assigned: DataFrame, centroids: list[list[float]],
               vec_col: str, out_col: str = "_resid") -> DataFrame:
    """Per-row residual (vec - assigned centroid), the quantity IVF-PQ
    encodes (coarse quantizer absorbs the vector's location; PQ spends
    its bits on the remainder). Broadcast join on the k-row centroid
    table + one zip_with — map-side."""
    spark = assigned.sparkSession
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "_centroid int, _center array<double>")
    return (assigned.join(F.broadcast(cents), "_centroid")
            .withColumn(out_col,
                        F.zip_with(_as_double(F.col(vec_col)),
                                   F.col("_center"),
                                   lambda a, b: a - b))
            .drop("_center"))


def ivfpq_index_write(df: DataFrame, path: str,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      num_centroids: int = 8, m: int = 8, ksub: int = 16,
                      seed: int = 42,
                      sample_fraction: float | None = None) -> None:
    """Build and persist an IVF-PQ index (IVFADC, Jégou et al. 2011):
    coarse KMeans centroids (:func:`ivf_build`), per-subspace codebooks
    trained on RESIDUALS, and each vector stored as (id, m-byte code)
    partitioned by ``_centroid`` — so a probe is partition pruning and
    the stored bytes are 8 bits per subspace instead of 32 per
    dimension. Layout: ``<path>/codes`` (bucketed rows),
    ``<path>/centroids`` (k rows), ``<path>/codebooks``
    (m*ksub rows: subspace, code, center)."""
    assigned, centroids = ivf_build(df, vec_col=vec_col,
                                    num_centroids=num_centroids, seed=seed,
                                    sample_fraction=sample_fraction)
    resid = _residuals(assigned, centroids, vec_col)
    books = pq_train(resid, vec_col="_resid", m=m, ksub=ksub, seed=seed,
                     sample_fraction=sample_fraction)
    codes = pq_encode(resid, books, vec_col="_resid")
    _write_parts({"codes": codes.select(id_col, "_centroid", "pq_code")},
                 path, "overwrite", key="_centroid")
    ivf_init(df.sparkSession, path, centroids)
    _write_table(df.sparkSession, path, "codebooks",
                 [(j, c, books[j][c]) for j in range(m)
                  for c in range(len(books[j]))])


def ivfpq_index_append(spark, path: str, new_vecs: DataFrame,
                       vec_col: str = "embedding",
                       id_col: str = "vec_id") -> None:
    """Incremental add, composing with the IVF lifecycle's append
    discipline: assign the batch to the EXISTING centroids
    (:func:`ivf_assign`, no refit), encode residuals against the
    EXISTING codebooks, append to the codes partitions — O(batch),
    history untouched."""
    centroids = _read_centroids(spark, path)
    books = _read_codebooks(spark, path)
    assigned = ivf_assign(new_vecs, centroids, vec_col)
    resid = _residuals(assigned, centroids, vec_col)
    codes = pq_encode(resid, books, vec_col="_resid")
    _write_parts({"codes": codes.select(id_col, "_centroid", "pq_code")},
                 path, "append", key="_centroid")


def ivfpq_index_read(spark, path: str):
    """Reopen -> (codes_df, centroids, codebooks). The codes keep the
    caller's id column, so their schema is inferred; centroid and
    codebook tables are k and m*ksub rows — bounded collects."""
    return (spark.read.parquet(f"{path}/codes"),
            _read_centroids(spark, path), _read_codebooks(spark, path))


def _read_codebooks(spark, path: str) -> list[list[list[float]]]:
    """The per-subspace codebooks of the IVF-PQ index at ``path``."""
    rows = _read_table(spark, path, "codebooks")
    books: list[list[list[float]]] = [
        [] for _ in range(1 + max(r["subspace"] for r in rows))]
    for r in rows:
        books[r["subspace"]].append([float(x) for x in r["center"]])
    return books


def ivfpq_topk(codes_df: DataFrame, centroids: list[list[float]],
               codebooks: list, query: list[float], k: int = 10,
               nprobe: int = 4, id_col: str = "vec_id",
               code_col: str = "pq_code") -> DataFrame:
    """ADC search over an IVF-PQ index: probe the ``nprobe`` centroids
    nearest the query (driver-side, k-row table), prune the codes scan
    to those partitions, and score each row against ITS centroid's
    residual lookup table — ``lut_c[j][code_j]`` summed, one numpy
    gather per Arrow batch (approximates |query - x|^2 since
    x ≈ centroid + codeword). nprobe KB-sized tables broadcast; no
    decode, no shuffle before the final ordered limit. Returns
    (id_col, adc_dist) ascending — feed to :func:`ivfpq_refine` for
    exact re-ranking (IVFADC+R)."""
    import numpy as np

    from pyspark.sql import types as T

    q = np.asarray(query, dtype=np.float64)
    probe = _nearest_centroids(centroids, query, nprobe)
    luts = {c: pq_adc_lut(codebooks, (q - np.asarray(centroids[c])).tolist())
            for c in probe}
    bc = codes_df.sparkSession.sparkContext.broadcast(luts)
    m = len(codebooks)
    id_type = codes_df.schema[id_col].dataType.simpleString()
    schema = T._parse_datatype_string(
        f"{id_col} {id_type}, adc_dist double")

    def score(batches):
        import pandas as pd

        tabs = bc.value
        rows_j = np.arange(m)
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({id_col: [], "adc_dist": []})
                continue
            out = np.empty(len(pdf), dtype=np.float64)
            codes = np.stack([np.frombuffer(b, dtype=np.uint8)
                              for b in pdf[code_col]])
            cents = pdf["_centroid"].to_numpy()
            for c in np.unique(cents):
                mask = cents == c
                out[mask] = tabs[int(c)][rows_j[None, :],
                                         codes[mask]].sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(),
                                "adc_dist": np.round(out, 6)})

    return (codes_df.filter(F.col("_centroid").isin(probe))
            .select(id_col, "_centroid", code_col)
            .mapInPandas(score, schema)
            .orderBy(F.col("adc_dist").asc(), F.col(id_col))
            .limit(k))


def ivfpq_refine(shortlist: DataFrame, vectors: DataFrame,
                 query: list[float], k: int = 10,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 round_digits: int = 6) -> DataFrame:
    """Exact re-ranking of an ADC shortlist (the +R of IVFADC+R): join
    the shortlist ids back to the ORIGINAL vectors (shortlist-sized
    broadcast semi-join — the only time full floats are touched) and
    return the exact-L2 top-k. Approximation can then only MISS a
    neighbor, never mis-score one — the contract the recall-band
    correctness check holds this family to. Returns (id_col, l2_dist)
    ascending, exact."""
    qarr = F.array(*[F.lit(float(x)) for x in query])
    cand = vectors.join(F.broadcast(shortlist.select(id_col)), id_col,
                        "left_semi")
    d2 = F.aggregate(F.zip_with(_as_double(F.col(vec_col)), qarr,
                                lambda a, b: (a - b) * (a - b)),
                     F.lit(0.0), lambda acc, x: acc + x)
    return (cand.select(F.col(id_col),
                        F.round(F.sqrt(d2), round_digits).alias("l2_dist"))
            .orderBy(F.col("l2_dist").asc(), F.col(id_col))
            .limit(k))


# -- IVF index maintenance: tombstone deletion + compaction -----------------
# Takedowns and decontamination hits carry embeddings too, and they must
# come out of an already-built ANN index without a refit. The tombstones
# and the live anti-join are the shared segment layout's
# (operators/segments.py). Unlike BM25 there are no corpus statistics to
# correct — cosine/L2 score one vector at a time — so a tombstone here is
# just the id.

def ivf_delete(spark, path: str, vec_ids) -> None:
    """Tombstone deletion for a persisted IVF index: appends vec_id
    rows under ``<path>/deletes`` (append-only, same segment discipline
    as the text index's tombstones). Every live reader
    (:func:`ivf_read_live` / :func:`ivf_topk_persisted`) anti-joins the
    broadcast takedown-sized set, so delete-then-probe equals
    build-from-surviving-vectors exactly — a full-probe query returns
    the exact top-k over survivors with no rebuild. A double delete
    leaves a duplicate id, which the anti-join ignores; re-ingesting a
    deleted id is UNDEFINED until :func:`ivf_compact`. ``vec_ids`` is a
    DataFrame with a ``vec_id`` column or a list of ids."""
    if isinstance(vec_ids, DataFrame):
        rows = vec_ids.select(F.col("vec_id").cast("bigint")).distinct()
    else:
        ids = sorted({int(i) for i in vec_ids})
        if not ids:
            raise ValueError("ivf_delete needs at least one vec_id")
        rows = spark.createDataFrame([(i,) for i in ids],
                                     "vec_id bigint")
    _write_parts({"deletes": rows}, path, "append")


def ivf_read_live(spark, path: str):
    """Reopen a persisted IVF index with tombstones applied ->
    (assigned_df, centroids). The anti-join broadcasts the
    takedown-sized tombstone set; centroid partition pruning on the
    probe path is untouched (the filter composes with the partition
    filter — pinned in tests)."""
    assigned, centroids = ivf_index_read(spark, path)
    return _live(spark, path, assigned, "vec_id"), centroids


def ivf_topk_persisted(spark, path: str, query: list[float], k: int = 10,
                       nprobe: int | None = None) -> DataFrame:
    """Top-k cosine probe of a persisted IVF index, tombstone-aware.
    ``nprobe=None`` probes EVERY centroid — the exact-search mode a
    deletion oracle or a re-rank stage wants; otherwise the standard
    nprobe-pruned approximate probe."""
    assigned, centroids = ivf_read_live(spark, path)
    return ivf_topk(assigned, centroids, query, k=k,
                    nprobe=len(centroids) if nprobe is None else nprobe)


def ivf_compact(spark, path: str, dest: str) -> None:
    """Apply an IVF index's tombstones permanently: surviving vectors
    rewrite to ``dest`` under the SAME centroids (no refit — centroid
    geometry is unchanged by deletion; recall characteristics are
    preserved and appends keep composing), with no deletes directory,
    so probes at ``dest`` take the anti-join-free fast path. ``dest``
    must be a NEW path (immutable-segment discipline)."""
    live, centroids = ivf_read_live(spark, path)
    ivf_index_write(live, centroids, dest, mode="overwrite")


def ivf_write_segment(assigned: DataFrame, path: str, seg: str) -> None:
    """IDEMPOTENT vector-segment write for streaming ingest
    (streaming/events.py:ivf_ingest_sink): the assigned batch lands
    partitioned by (``_centroid``, ``seg``) with DYNAMIC partition
    overwrite, so re-running the same (batch, seg) replaces exactly its
    own partitions instead of double-appending. The ``seg`` column
    rides harmlessly at probe time (probes filter on ``_centroid``,
    which stays the leading partition key, so centroid pruning is
    unchanged — pinned in tests). Do not mix this layout with plain
    :func:`ivf_index_write` appends under one path (partition
    discovery needs consistent partition columns); the centroid table
    must already exist at ``path`` (seed it with :func:`ivf_init`)."""
    _write_parts({"vectors": assigned}, path, "overwrite", "_centroid", seg)


def ivf_init(spark, path: str, centroids: list[list[float]]) -> None:
    """Write the centroid table (k rows) of the IVF index at ``path`` —
    its one writer. Seeding a streaming-ingested index writes ONLY this
    table; batches then stream in via :func:`ivf_write_segment` /
    streaming/events.py:ivf_ingest_sink, each assigned map-side against
    these fixed centroids — the bootstrap-then-stream shape (fit
    centroids once on a representative sample; never refit per
    batch)."""
    _write_table(spark, path, "centroids",
                 [(i, [float(x) for x in c]) for i, c in enumerate(centroids)])
