"""Generated code stays cached across ops: the session's codegen cache
(session.py) holds the working set of a text-curation round plus a
persisted BM25 query, so repeating them compiles no new class."""

from etl_mark1_spark.catalog import QUERIES
from etl_mark1_spark.operators.indexing import (bm25_search_persisted,
                                                write_search_index)
from etl_mark1_spark.session import codegen_compiles

#: the benchmark's text entries, one per gram builder
TEXT_ENTRIES = ("minhash_neardup", "broadcast_decontam_docs",
                "ngram_novelty_docs", "duplicate_spans_docs",
                "winnow_match_docs")


def test_repeated_ops_compile_nothing(spark, sf_dir, tmp_path):
    path = str(tmp_path / "idx")
    write_search_index(spark.read.parquet(f"{sf_dir}/documents.parquet"),
                       path)

    def one_pass():
        for name in TEXT_ENTRIES:
            QUERIES[name](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
        bm25_search_persisted(spark, path, ["dup", "the", "join"]).collect()

    one_pass()
    before = codegen_compiles(spark)
    one_pass()
    assert codegen_compiles(spark) - before == 0
