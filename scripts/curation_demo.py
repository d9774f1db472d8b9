"""End-to-end pretraining-data curation demo — the whole engine in one run.

Chains the real operators over the driver-provided corpus exactly the way
a production run would, starting from RAW CRAWL BYTES:

  synthesize a .warc.gz crawl (mixed utf-8/cp1252 encodings, a third of
  the pages mojibake-corrupted, every page wrapped in nav/footer/banner
  boilerplate) -> WARC ingest -> encoding detection-decode -> mojibake
  repair -> main-content extraction -> corpus-common line removal
  [INVARIANT: the recovered corpus equals the original, byte for byte]
  -> quality gate (Gopher rules) -> exact keep-best dedup ->
  MinHash near-dup dedup -> Bloom-prefiltered decontamination ->
  temperature mixture flattening -> BPE segmentation -> sequence packing
  -> versioned training-shard write (+ snapshot tag + compaction) ->
  audit report (per-stage survivor counts, PII scan, drift check).

Run:  python scripts/curation_demo.py [sf_dir] [out_dir]
Prints one JSON report line; exits non-zero if any pipeline invariant
fails (a stage losing everything, lossy ingest, PII leaking past
redaction).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


#: Non-ASCII banner planted on EVERY page: exercises cp1252 encoding and
#: mojibake repair, then dies as corpus-common boilerplate in line removal.
_BANNER = "café news — subscribe to “the € daily” now"


def _web_ingest(spark, docs, crawl_dir: str):
    """documents -> .warc.gz crawl -> recovered (doc_id, clean_text).

    Write side: each doc becomes a full HTML page (nav/header boilerplate,
    the banner paragraph, the text paragraph, footer) wrapped in a WARC
    response record; a third of the pages are cp1252-encoded, a third are
    mojibake (the page text corrupted through the classic
    utf-8-read-as-cp1252 round trip, then re-encoded utf-8), a third are
    clean utf-8. Records are written as per-record gzip members, one
    segment file per partition, from the EXECUTORS (foreachPartition) —
    the driver never sees a page.

    Read side is the production chain: read_warc -> decode_text ->
    fix_mojibake -> extract_main_content -> remove_common_lines."""
    from etl_mark1_spark.operators.encoding import decode_text, fix_mojibake
    from etl_mark1_spark.operators.html import extract_main_content
    from etl_mark1_spark.operators.lines import remove_common_lines
    from etl_mark1_spark.sources.warc import read_warc

    os.makedirs(crawl_dir, exist_ok=True)
    n_docs = docs.count()
    banner = _BANNER

    def write_segment(rows) -> None:
        import gzip
        import uuid as _uuid

        from etl_mark1_spark.operators.encoding import _w1252_decode
        from etl_mark1_spark.sources.warc import make_warc

        chunks = []
        for r in rows:
            page = (
                "<html><head><title>doc</title></head><body>"
                '<nav><a href="/">Home</a> <a href="/all">All docs</a></nav>'
                f"<p>{banner}</p><p>{r['text']}</p>"
                "<footer>© corpus mirror</footer></body></html>")
            if r["doc_id"] % 3 == 1:
                body = page.encode("cp1252")
            elif r["doc_id"] % 3 == 2:
                body = _w1252_decode(page.encode("utf-8")).encode("utf-8")
            else:
                body = page.encode("utf-8")
            chunks.append(make_warc(
                [{"url": f"https://corpus.example/doc/{r['doc_id']}",
                  "body": body}],
                gzip_per_record=True, with_warcinfo=False))
        if chunks:
            path = os.path.join(crawl_dir,
                                f"seg-{_uuid.uuid4().hex[:12]}.warc.gz")
            with open(path, "wb") as f:
                f.write(b"".join(chunks))

    docs.select("doc_id", "text").repartition(8).foreachPartition(
        write_segment)

    recs = read_warc(spark, crawl_dir).select("url", "body")
    decoded = decode_text(recs, id_col="url")
    repaired = fix_mojibake(decoded, id_col="url")
    main = extract_main_content(repaired, html_col="fixed_text",
                                id_col="url")
    cleaned = remove_common_lines(
        main.select(F.regexp_extract("url", r"doc/(\d+)$", 1)
                     .cast("bigint").alias("doc_id"),
                    F.col("main_text").alias("text")),
        min_docs=max(2, n_docs // 10))
    return cleaned.select("doc_id", "clean_text")


def run(spark, sf_dir: str, out_dir: str) -> dict:
    from etl_mark1_spark.functions.grams import tokens, word_ngram_rows
    from etl_mark1_spark.functions.text import (gopher_quality_flags,
                                                normalized_text)
    from etl_mark1_spark.operators.bloom import bloom_semi_filter
    from etl_mark1_spark.operators.bpe import bpe_segment, bpe_train
    from etl_mark1_spark.operators.corpus import (pack_sequences, redact_pii,
                                                  temperature_mixture)
    from etl_mark1_spark.operators.dedup import dedup_keep_best, minhash_dedup
    from etl_mark1_spark.plans.quality import ks_drift, pii_scan
    from etl_mark1_spark.sources.versioned import (tag_version, write_version)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stages = {"raw": docs.count()}

    # 0. web ingest: write the corpus out as a real .warc.gz crawl (mixed
    # encodings, mojibake, boilerplate), then recover it through the
    # ingest chain — losslessness is a hard invariant
    recovered = _web_ingest(spark, docs, os.path.join(out_dir, "crawl"))
    joined = docs.alias("a").join(recovered.alias("b"), "doc_id")
    lossless = joined.filter(F.col("a.text") == F.col("b.clean_text")) \
        .count()
    stages["web_ingest_recovered"] = recovered.count()
    ingest_lossless = lossless == stages["raw"]
    # materialize the ingested corpus: every downstream stage would
    # otherwise re-execute the whole WARC->decode->repair->extract chain
    # per action (a production run snapshots after ingest for the same
    # reason)
    ingested = os.path.join(out_dir, "ingested.parquet")
    (joined.select("doc_id", F.col("b.clean_text").alias("text"),
                   "lang", "source", "n_chars")
     .write.mode("overwrite").parquet(ingested))
    docs = spark.read.parquet(ingested)

    # 1. rule-based quality gate — the non-length Gopher rules plus a
    # corpus-scaled word-count floor (the synthetic docs run ~30 words,
    # under Gopher's web-scale 50-word minimum; a real corpus would gate
    # on the full battery's `keep`)
    flags = gopher_quality_flags(docs)
    passed = flags.filter(
        "ok_mean_word_len AND ok_symbol_ratio AND ok_alpha_words "
        "AND n_words >= 20").select("doc_id")
    gated = docs.join(passed, "doc_id", "left_semi")
    stages["quality_gate"] = gated.count()

    # 2. exact dedup, keeping the longest copy per normalized text
    keyed = gated.withColumn("_k", normalized_text("text"))
    exact = dedup_keep_best(keyed, key_col="_k", score_col="n_chars",
                            id_col="doc_id").drop("_k")
    stages["exact_dedup"] = exact.count()

    # 3. near-dup dedup: keep each MinHash cluster's representative
    clusters = minhash_dedup(exact, threshold=0.8)
    reps = clusters.filter(F.col("doc_id") == F.col("cluster_id")) \
        .select("doc_id")
    near = exact.join(reps, "doc_id", "left_semi")
    stages["near_dedup"] = near.count()

    # 4. decontamination vs the src0 'benchmark' slice (Bloom prescreen)
    grams = word_ngram_rows(near, tokens("text"), 6, ("doc_id", "source"))
    ref = grams.filter(F.col("source") == "src0").select("gram").distinct()
    corpus_grams = grams.filter(F.col("source") != "src0")
    hits = bloom_semi_filter(corpus_grams, ref, "gram") \
        .select("doc_id").distinct()
    clean = (near.filter(F.col("source") != "src0")
             .join(hits, "doc_id", "left_anti"))
    stages["decontaminated"] = clean.count()

    # 5. PII redaction, then flatten the source mixture (alpha=0.7)
    redacted = redact_pii(clean).drop("text") \
        .withColumnRenamed("clean_text", "text")
    mixed = temperature_mixture(redacted, alpha=0.7)
    stages["mixture"] = mixed.count()

    # 6. learn a BPE vocabulary on the survivors, segment, pack
    merges = bpe_train(mixed, num_merges=30)
    segmented = bpe_segment(mixed, merges).withColumn(
        "n_tokens", F.size("bpe_tokens"))
    packed = pack_sequences(segmented, budget=512, size_col="n_tokens",
                            shard_col="lang")
    stages["packed_sequences"] = packed.select("lang", "seq_id") \
        .distinct().count()

    # 7. versioned shard write (appended per language, the streaming
    # shape) + tag + OPTIMIZE compaction of the append chain
    from etl_mark1_spark.sources.versioned import compact_table

    table = os.path.join(out_dir, "train_shards")
    out_cols = packed.select("doc_id", "lang", "source", "seq_id",
                             "n_tokens", "bpe_tokens")
    langs = [r.lang for r in out_cols.select("lang").distinct().collect()]
    for lg in sorted(langs):
        version = write_version(out_cols.filter(F.col("lang") == lg),
                                table, mode="append", note=f"lang={lg}")
    tag_version(table, "demo", version)
    compacted = compact_table(spark, table, target_file_mb=128,
                              note="demo compact")
    version = compacted if compacted is not None else version

    # 8. audits: PII must be gone; length distribution drift vs raw
    leaks = (pii_scan(mixed, columns=["text"])
             .agg(F.sum("n_hits")).first()[0]) or 0
    drift = ks_drift(docs.select(F.length("text").alias("v")),
                     mixed.select(F.length("text").alias("v")),
                     "v").first()

    report = {
        "stages": stages,
        "web_ingest_lossless": bool(ingest_lossless),
        "bpe_merges": len(merges),
        "version": version,
        "pii_hits_after_redaction": int(leaks),
        "length_ks_vs_raw": float(drift.ks_stat),
        "ok": bool(stages["packed_sequences"] > 0 and leaks == 0
                   and ingest_lossless
                   and all(v > 0 for v in stages.values())),
    }
    return report


def main() -> int:
    import tempfile

    from etl_mark1_spark import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(
        prefix="curation_demo_")
    spark = get_spark(app_name="curation_demo")
    try:
        report = run(spark, sf_dir, out_dir)
    finally:
        spark.stop()
    print(json.dumps(report))
    return 0 if report["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
