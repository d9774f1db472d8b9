"""Incremental near-duplicate detection against a persisted LSH index.

A growing corpus cannot re-cluster 100 TB of history every time a batch
of new documents arrives. The standard shape (MinHash-LSH dedup-on-
ingest): keep an INDEX of per-document MinHash signatures + band buckets;
for each incoming batch, generate candidates by joining the batch's band
buckets against the index (plus within-batch self-candidates), verify
candidates with EXACT shingle Jaccard against the stored corpus text, and
accept only non-duplicates — whose index rows are then appended for the
next batch. History is never re-shingled wholesale: only the candidate
docs' text is touched, via a semi-join.

Scale shapes:

- The index row is (doc_id, sig: 48 longs, buckets: 12 longs) — ~0.5 KB
  per document, independent of document size. Candidate generation
  explodes buckets on BOTH sides and equi-joins on the bucket id; a
  daily batch is small relative to the index, so Catalyst/AQE broadcasts
  the batch side and the index is probed map-side without shuffling.
- Exact verification re-shingles ONLY candidate documents (semi-join
  pushdown into the corpus scan), so its cost scales with the candidate
  count, not the corpus.
- Appending accepted rows to the index is an O(batch) versioned-table
  append (``sources/versioned.py``), not a rewrite.

Index build and query must use the same parameters and the same
signature scheme: ``operators/dedup.py:_minhash_signatures``, the one
MinHash signature every near-dup operator shares, so changing it changes
the persisted index rows. Both default to ``minhash_dedup``'s 5-char
shingles, 48 hashes, 12 bands (s-curve ~0.54), exact-verify threshold 0.8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_mark1_spark.functions.grams import char_shingles
from etl_mark1_spark.operators.dedup import (_agreement_prefilter,
                                             _minhash_signatures,
                                             _verify_jaccard,
                                             ensure_parallelism,
                                             lsh_band_buckets,
                                             release_checkpoint)

__all__ = ["minhash_index", "incremental_neardup"]


def _materialize(df: DataFrame) -> DataFrame:
    """Plan-truncation point for the bounded intermediates below
    (``localCheckpoint``). A seam rather than an inline call so the
    plan-shape tests can bypass it (identity) and assert on the full
    un-truncated plan — the executed plan of a checkpointed frame no
    longer shows the subtree that produced it."""
    return df.localCheckpoint()


def minhash_index(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", *, shingle_k: int = 5,
                  num_hashes: int = 48, bands: int = 12) -> DataFrame:
    """The persistable LSH index: one row per document —
    (id_col, sig: array<long>, buckets: array<long>). Write it with
    ``sources/versioned.py`` (or plain parquet) and append accepted
    batches; ~0.5 KB/doc at the defaults."""
    rows_per_band = num_hashes // bands
    # ensure_parallelism first: a compact parquet corpus is ONE split, and
    # without the fan-out the whole shingling stage runs on one core
    # (measured 16s -> 2s at sf0.1 on local[32])
    base = ensure_parallelism(df).select(
        F.col(id_col), char_shingles(F.col(text_col), shingle_k).alias("_sh"))
    sig = _minhash_signatures(base, id_col, num_hashes)
    return sig.select(
        F.col(id_col), F.col("_sig").alias("sig"),
        lsh_band_buckets("_sig", bands, rows_per_band).alias("buckets"))


def incremental_neardup(new_docs: DataFrame, index: DataFrame,
                        history: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", *, shingle_k: int = 5,
                        num_hashes: int = 48, bands: int = 12,
                        threshold: float = 0.8) -> DataFrame:
    """Dedup-on-ingest: for every document in ``new_docs``, find whether
    it near-duplicates an already-indexed document or an earlier (smaller
    id) document of the same batch.

    Returns one row per new document — INCLUDING documents whose text is
    NULL or too short to shingle, which carry no signature and therefore
    surface as unique (``dup_of`` NULL); the verdicts are left-joined
    onto ``new_docs``' id universe, not the signature table, so an ingest
    sink always sees an explicit accept/reject for every input row.
    Output: (id_col, dup_of, jaccard_sim) with ``dup_of`` the smallest
    matching prior id and NULL when the document is unique (accept it;
    its ``minhash_index`` row joins the index). Membership is decided by
    EXACT shingle Jaccard >= ``threshold`` — LSH banding and the
    signature-agreement prefilter only narrow the candidate set
    (false-drop p <= ~2e-3 per qualifying pair at 12x4 banding; the
    sketches never ADD a false duplicate).

    Design point: the batch is assumed SMALL relative to the index (a
    daily ingest against a corpus) — the within-batch self-join pairs
    batch docs by bucket before the keep-first filter, so a one-shot
    "ingest the whole corpus as one batch" call degenerates to plain
    ``minhash_dedup`` cost with none of its clustering; bulk-load a
    corpus with ``operators/dedup.py:minhash_dedup`` instead and build
    the index from the survivors.

    CALLER-OWNED STORAGE: the verdicts lean on two O(batch) candidate
    checkpoints; consume them, then call ``release_checkpoint(result,
    deep=True)`` (``streaming/events.py:dedup_ingest_sink`` does so after
    each micro-batch's commits)."""
    # batch signatures fan out to the history probe and both sides of the
    # within-batch join; tiny (48 longs/doc) -> checkpoint once, and free
    # it once ``plausible``, its only consumer, is materialized
    new_idx = _materialize(minhash_index(new_docs, text_col, id_col,
                                         shingle_k=shingle_k,
                                         num_hashes=num_hashes, bands=bands))

    nb = new_idx.select(F.col(id_col).alias("_nid"),
                        F.col("sig").alias("_nsig"),
                        F.explode("buckets").alias("_bucket"))
    # vs history: batch buckets probe the index (AQE broadcasts the
    # small batch side; the index never shuffles)
    ib = index.select(F.col(id_col).alias("_oid"),
                      F.col("sig").alias("_osig"),
                      F.explode("buckets").alias("_bucket"))
    cand_h = (nb.join(ib, "_bucket")
              .select("_nid", "_oid", "_nsig", "_osig"))
    # within batch: earlier (smaller id) docs of the same batch count as
    # already-accepted — the deterministic keep-first policy
    cand_n = (nb.join(nb.select(F.col("_nid").alias("_oid"),
                                F.col("_nsig").alias("_osig"), "_bucket"),
                      "_bucket")
              .filter(F.col("_oid") < F.col("_nid"))
              .select("_nid", "_oid", "_nsig", "_osig"))
    cand = cand_h.unionByName(cand_n).dropDuplicates(["_nid", "_oid"])

    # ``plausible`` feeds THREE consumers below (the verify semi-join's id
    # list twice via the union, and the pair frame itself); without
    # materialization Catalyst plans the whole candidate subtree — index
    # probe, band explodes, union, dropDuplicates — once PER consumer with
    # zero exchange reuse (the executed plan carried 28 parquet scans / 50
    # joins, and ~3.5 s of driver planning gaps against ~1.8 s of real
    # compute at sf0.1). The frame is two id columns, bounded by the
    # banding's candidate count — O(batch), not O(corpus) — so the
    # checkpoint is cheap at any scale and the index is probed once.
    plausible = _materialize(
        cand.filter(_agreement_prefilter("_nsig", "_osig", num_hashes,
                                         threshold))
        .select("_nid", "_oid"))
    release_checkpoint(new_idx)

    # exact verify: re-shingle ONLY candidate docs (semi-join-bounded)
    all_docs = history.select(id_col, text_col).unionByName(
        new_docs.select(id_col, text_col))
    cand_ids = (plausible.select(F.col("_nid").alias(id_col))
                .union(plausible.select(F.col("_oid").alias(id_col)))
                .distinct())
    # same rationale: ``sh`` is joined twice (the _nid and _oid sides),
    # and un-materialized each join re-runs the semi-join AND re-shingles
    # every candidate document; rows are O(candidate docs) with one
    # shingle set each, so the checkpoint holds exactly what the verify
    # needs and the corpus text is read once.
    sh = _materialize(
        all_docs.join(cand_ids, id_col, "left_semi")
        .select(F.col(id_col),
                F.array_distinct(char_shingles(F.col(text_col),
                                               shingle_k)).alias("_sh")))
    verified = _verify_jaccard(
        plausible, "_nid", "_oid", sh.withColumnRenamed(id_col, "_nid"),
        sh.withColumnRenamed(id_col, "_oid"), threshold)

    best = (verified.groupBy("_nid")
            .agg(F.min_by(F.struct(F.col("_oid"), F.col("_j")),
                          F.col("_oid")).alias("_m"))
            .select(F.col("_nid"),
                    F.col("_m._oid").alias("dup_of"),
                    F.col("_m._j").alias("jaccard_sim")))
    # Verdicts join back onto new_docs' OWN id universe (not new_idx):
    # a NULL-text document produces no shingles, hence no signature row,
    # and joining on new_idx would silently drop it from the output
    # (round-8 ADVICE) — an ingest sink would neither accept nor reject.
    return (new_docs.select(F.col(id_col).alias("_nid"))
            .join(best, "_nid", "left")
            .select(F.col("_nid").alias(id_col), "dup_of", "jaccard_sim"))
