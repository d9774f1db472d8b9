"""Readers/writers, SQL passthrough, schema reporting, quality scoring."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_mark1_spark.dtypes import schema_to_dicts, to_spark_type_name
from etl_mark1_spark.plans.quality import quality_report, quality_score
from etl_mark1_spark.plans.sql import execute_sql, infer_schema, preview
from etl_mark1_spark.sources.readers import detect_format, read_file
from etl_mark1_spark.sources.writers import write_file


def test_type_alias_map():
    assert to_spark_type_name("VARCHAR") == "string"
    assert to_spark_type_name("BIGINT") == "long"
    assert to_spark_type_name("DOUBLE") == "double"
    assert to_spark_type_name("DECIMAL(10,2)") == "decimal(10,2)"
    assert to_spark_type_name("varchar[]") == "array<string>"
    assert to_spark_type_name("TIMESTAMP") == "timestamp"


def test_detect_format():
    assert detect_format("/a/b.csv") == "csv"
    assert detect_format("/a/b.PARQUET") == "parquet"
    assert detect_format("/a/b.unknown") == "csv"  # default (duckdb_engine.py:269)
    assert detect_format("/a/b.txt") == "txt"


@pytest.fixture(scope="module")
def small(spark):
    return spark.createDataFrame(
        [Row(id=1, v=1.5, s="x"), Row(id=2, v=2.5, s="y"),
         Row(id=3, v=None, s="z")])


@pytest.mark.parametrize("fmt", ["csv", "json", "parquet"])
def test_write_read_roundtrip(spark, small, tmp_path, fmt):
    path = str(tmp_path / f"out_{fmt}")
    write_file(small, path, fmt)
    back = read_file(spark, path, fmt)
    assert back.count() == 3
    assert set(back.columns) == {"id", "v", "s"}


def test_single_file_write(spark, small, tmp_path):
    path = str(tmp_path / "single.csv")
    write_file(small, path, "csv", single_file=True)
    assert os.path.isfile(path)
    header = open(path).readline().strip().split(",")
    assert set(header) == {"id", "v", "s"}


def test_single_file_write_honors_mode(spark, small, tmp_path):
    """single_file must respect the caller's mode against the destination
    file: error raises, ignore leaves it untouched, append is rejected."""
    import pytest as _pytest

    path = str(tmp_path / "modes.csv")
    write_file(small, path, "csv", single_file=True)
    before = open(path).read()

    with _pytest.raises(FileExistsError):
        write_file(small, path, "csv", mode="error", single_file=True)
    with _pytest.raises(ValueError, match="append"):
        write_file(small.limit(1), path, "csv", mode="append", single_file=True)
    write_file(small.limit(1), path, "csv", mode="ignore", single_file=True)
    assert open(path).read() == before  # ignore: untouched
    write_file(small.limit(1), path, "csv", mode="overwrite", single_file=True)
    assert open(path).read() != before  # overwrite: replaced


def test_xml_reads_typed_rows(spark, tmp_path):
    """Real XML parses into typed columns via Spark 4's native source.
    DIVERGENCE from the reference, which reads XML through read_csv_auto
    (duckdb_engine.py:260-261) and yields garbage rows."""
    path = str(tmp_path / "data.xml")
    with open(path, "w") as fh:
        fh.write("<rows>"
                 "<row><id>1</id><name>alpha</name><score>3.5</score></row>"
                 "<row><id>2</id><name>beta</name><score>4.25</score></row>"
                 "</rows>")
    out = read_file(spark, path)
    rows = {(r.id, r.name, r.score) for r in out.collect()}
    assert rows == {(1, "alpha", 3.5), (2, "beta", 4.25)}
    assert dict(out.dtypes)["id"] == "bigint"  # typed, not strings

    # custom row tag
    path2 = str(tmp_path / "items.xml")
    with open(path2, "w") as fh:
        fh.write("<r><item><k>7</k></item><item><k>8</k></item></r>")
    assert {r.k for r in read_file(spark, path2, rowTag="item").collect()} \
        == {7, 8}

    # bug-for-bug reference behavior stays available behind compat
    ref = read_file(spark, path, compat="reference")
    assert "id" not in ref.columns  # csv parse of xml: garbage, as shipped


def test_txt_reads_as_csv(spark, small, tmp_path):
    path = str(tmp_path / "data.txt")
    write_file(small, path, "csv")
    assert read_file(spark, path).count() == 3  # autodetect txt -> csv


def test_execute_sql_sources_and_input(spark, small):
    out = execute_sql(spark, "SELECT count(*) AS n FROM {{input}} WHERE v > 1",
                      input_df=small)
    assert out.collect()[0].n == 2
    out2 = execute_sql(spark, "SELECT max(id) AS m FROM t1", sources={"t1": small})
    assert out2.collect()[0].m == 3


def test_execute_sql_limit_wrapper(spark, sf_dir):
    df = read_file(spark, f"{sf_dir}/lineitem.parquet")
    out = execute_sql(spark, "SELECT * FROM {{input}}", input_df=df, limit=7)
    assert out.count() == 7


def test_preview_shape(small):
    p = preview(small, limit=2)
    assert p["total_rows"] == 3 and p["preview_rows"] == 2
    assert p["columns"] == ["id", "v", "s"]
    assert isinstance(p["rows"][0], dict)


def test_infer_schema_duckdb_names(small):
    s = {d["name"]: d["type"] for d in infer_schema(small)}
    assert s == {"id": "BIGINT", "v": "DOUBLE", "s": "VARCHAR"}


def test_schema_to_dicts_nested(spark):
    df = spark.createDataFrame([Row(a=[1, 2], m={"k": 1.0})])
    types = {d["name"]: d["type"] for d in schema_to_dicts(df.schema)}
    assert types["a"] == "BIGINT[]"
    assert types["m"].startswith("MAP(")


def test_quality_report_formula(spark):
    df = spark.createDataFrame(
        [(1, None), (2, None), (None, None), (4, None)], "a int, b string")
    q = quality_report(df)
    # a: 25% null -> 75; b: 100% null -> 0; mean = 37.5
    assert q["score"] == pytest.approx(37.5)
    assert q["details"]["a"]["null_count"] == 1
    assert q["details"]["a"]["distinct_count"] == 3
    assert q["details"]["b"]["score"] == 0.0
    assert quality_score(df) == q["score"]


def test_quality_report_empty(spark):
    df = spark.createDataFrame([], "a int, b string")
    q = quality_report(df)
    assert q == {"score": 0.0, "row_count": 0, "column_count": 2, "details": {}}
    assert quality_score(df) == 0.0


def test_quality_report_approx(spark, sf_dir):
    df = read_file(spark, f"{sf_dir}/customer.parquet")
    q = quality_report(df, approx_distinct=True)
    assert q["score"] == 100.0
    exact = quality_report(df)
    # HLL estimate within 10% of exact
    for c in df.columns:
        a = q["details"][c]["distinct_count"]
        e = exact["details"][c]["distinct_count"]
        assert abs(a - e) <= max(2, 0.1 * e)


# -- DuckDB dialect shim ---------------------------------------------------

def test_dialect_translate_safe_constructs():
    from etl_mark1_spark.plans.dialect import translate

    assert translate("SELECT string_split(c, '.')[1] AS head FROM t") == \
        "SELECT element_at(split(c, '\\\\.'), 1) AS head FROM t"
    assert translate("SELECT string_split(c, ',') FROM t") == \
        "SELECT split(c, ',') FROM t"
    assert "monotonically_increasing_id()" in translate(
        "SELECT ROWID FROM t")
    assert translate("SELECT list_contains(a, 'x') FROM t") == \
        "SELECT array_contains(a, 'x') FROM t"
    # 'length(' must not trip the len( refusal
    assert translate("SELECT length(c) FROM t") == "SELECT length(c) FROM t"


def test_dialect_refuses_unsafe():
    import pytest as _pytest

    from etl_mark1_spark.plans.dialect import DialectError, translate

    with _pytest.raises(DialectError, match="REPLACE/EXCLUDE"):
        translate("SELECT * EXCLUDE (a) FROM t")
    with _pytest.raises(DialectError, match="table functions"):
        translate("SELECT * FROM read_csv_auto('f.csv')")
    # len() is string-length AND list-cardinality in DuckDB; a blind rewrite
    # to cardinality() fails Spark analysis on varchar args — refuse instead
    with _pytest.raises(DialectError, match="ambiguous"):
        translate("SELECT len(c) FROM t")


def test_dialect_end_to_end(spark):
    from etl_mark1_spark.plans.sql import execute_sql

    df = spark.createDataFrame([("a.b.c",)], "path string")
    out = execute_sql(
        spark,
        "SELECT string_split(path, '.')[2] AS mid, "
        "cardinality(string_split(path, '.')) AS parts FROM {{input}}",
        input_df=df, dialect="duckdb")
    row = out.first()
    assert row.mid == "b" and row.parts == 3


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """Partitioned writes enable partition pruning: a filter on the
    partition column must prune directories, not scan them."""
    out = str(tmp_path / "orders_by_status")
    df = read_file(spark, f"{sf_dir}/orders.parquet")
    write_file(df, out, "parquet", partition_by="o_orderstatus")

    with pytest.raises(ValueError, match="exclusive"):
        write_file(df, out, "parquet", partition_by="o_orderstatus",
                   single_file=True)

    back = spark.read.parquet(out).filter("o_orderstatus = 'F'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "o_orderstatus" in plan
    expected = df.filter("o_orderstatus = 'F'").count()
    assert back.count() == expected
    # physical layout: one directory per status value
    import os
    dirs = [d for d in os.listdir(out) if d.startswith("o_orderstatus=")]
    assert len(dirs) >= 2


def test_expectations_pass_and_fail(spark):
    """check_expectations: passing and failing rules report correctly, all
    from one aggregation pass (no joins, single Aggregate pair)."""
    from pyspark.sql import Row

    from etl_mark1_spark.plans.quality import check_expectations

    df = spark.createDataFrame([
        Row(id=1, seg="A", bal=10.0),
        Row(id=2, seg=None, bal=50.0),
        Row(id=2, seg="B", bal=999.0),   # dup id; out-of-range bal
    ])
    out = check_expectations(df, [
        {"name": "rows", "kind": "row_count_min", "min": 2},
        {"name": "id_unique", "kind": "unique", "column": "id"},
        {"name": "seg_filled", "kind": "not_null", "column": "seg"},
        {"name": "bal_range", "kind": "in_range", "column": "bal",
         "lo": 0, "hi": 100},
        {"name": "seg_vals", "kind": "accepted_values", "column": "seg",
         "values": ["A", "B"]},
    ])
    got = {r.rule: (r.passed, r.actual) for r in out.collect()}
    assert got["rows"] == (True, 3.0)
    assert got["id_unique"] == (False, 1.0)       # one duplicate
    assert got["seg_filled"][0] is False          # 1/3 null
    assert got["bal_range"] == (False, 1.0)       # 999 out of range
    assert got["seg_vals"] == (True, 0.0)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # one pass, no self-joins


def test_backfill_partitions_overwrites_only_touched(spark, tmp_path):
    from etl_mark1_spark.sources.writers import backfill_partitions

    path = str(tmp_path / "table")
    full = spark.createDataFrame(
        [("2024-01-01", 1, 10.0), ("2024-01-01", 2, 20.0),
         ("2024-01-02", 3, 30.0)], "day string, id int, v double")
    backfill_partitions(full, path, "day")
    assert spark.read.parquet(path).count() == 3

    # rerun day 2 with corrected data: day 1 must be untouched, day 2
    # replaced (not appended)
    rerun = spark.createDataFrame(
        [("2024-01-02", 3, 99.0), ("2024-01-02", 4, 44.0)],
        "day string, id int, v double")
    backfill_partitions(rerun, path, "day")
    # NB: hive partition values read back type-inferred (string -> date)
    got = {(str(r.day), r.id): r.v
           for r in spark.read.parquet(path).collect()}
    assert got == {("2024-01-01", 1): 10.0, ("2024-01-01", 2): 20.0,
                   ("2024-01-02", 3): 99.0, ("2024-01-02", 4): 44.0}
    # the conf didn't leak
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                          "static") == "static"


def test_training_shards_deterministic_and_manifested(spark, sf_dir,
                                                      tmp_path):
    """Shard membership must be a pure function of the row (two writes,
    identical shard contents), the manifest must reconcile with the
    data, and within-shard order must be reproducible."""
    import json

    from etl_mark1_spark.sources.writers import write_training_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "lang", "source")
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    m1 = write_training_shards(docs, p1, num_shards=8)
    m2 = write_training_shards(docs, p2, num_shards=8)
    assert m1 == m2
    assert m1["total_rows"] == docs.count()
    assert sum(m1["shard_rows"].values()) == m1["total_rows"]
    assert json.load(open(f"{p1}/_manifest.json")) == m1

    # same rows land in the same shard across runs, in the same order
    a = spark.read.parquet(p1).select("shard", "doc_id").collect()
    b = spark.read.parquet(p2).select("shard", "doc_id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    back = spark.read.parquet(p1)
    assert back.count() == m1["total_rows"]
    assert back.select("doc_id").distinct().count() == m1["total_rows"]


def test_training_shards_epoch_layout(spark, sf_dir, tmp_path):
    """epoch=N lays shards out as epoch_shuffle's (shard, pos): the
    shard map differs between epochs, re-runs of the same epoch are
    byte-stable, and each shard file's row order equals the operator's
    within-shard ranking."""
    from etl_mark1_spark.operators.corpus import epoch_shuffle
    from etl_mark1_spark.sources.writers import write_training_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")
    e1, e1b, e2 = (str(tmp_path / n) for n in ("e1", "e1b", "e2"))
    m1 = write_training_shards(docs, e1, num_shards=8, epoch=1)
    assert m1["epoch"] == 1
    assert write_training_shards(docs, e1b, num_shards=8, epoch=1) == m1
    m2 = write_training_shards(docs, e2, num_shards=8, epoch=2)
    shards1 = {(r.shard, r.doc_id)
               for r in spark.read.parquet(e1).collect()}
    shards2 = {(r.shard, r.doc_id)
               for r in spark.read.parquet(e2).collect()}
    assert shards1 != shards2                   # epochs re-deal the corpus
    assert m1["total_rows"] == m2["total_rows"] == docs.count()
    # within one shard file, row order == epoch_shuffle's pos order
    want = (epoch_shuffle(docs, num_shards=8, epoch=1)
            .filter(F.col("shard") == 3).orderBy("pos")
            .select("doc_id").collect())
    got = spark.read.parquet(f"{e1}/shard=3").select("doc_id").collect()
    assert [r.doc_id for r in got] == [r.doc_id for r in want]


def test_orc_round_trip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC is a first-class self-describing format: write/read round-trips
    values, and filters reach the ORC scan as pushed predicates."""
    from etl_mark1_spark.sources.readers import read_file
    from etl_mark1_spark.sources.writers import write_file

    df = read_file(spark, f"{sf_dir}/nation.parquet")
    path = str(tmp_path / "nation.orc")
    write_file(df, path, "orc")
    back = read_file(spark, path)
    assert sorted(back.columns) == sorted(df.columns)
    assert back.count() == df.count()
    want = {(r.n_nationkey, r.n_name) for r in df.collect()}
    assert {(r.n_nationkey, r.n_name) for r in back.collect()} == want
    plan = (back.filter(F.col("n_nationkey") == 3).select("n_name")
            ._jdf.queryExecution().executedPlan().toString())
    assert "pushed" in plan.lower() and "n_nationkey" in plan


def test_spearman_known_values(spark):
    """Perfectly monotone (nonlinear) -> 1.0; reversed -> -1.0;
    independent-ish small case matches the scipy-style hand value."""
    from etl_mark1_spark.plans.quality import spearman_corr

    mono = spark.createDataFrame(
        [(float(i), float(i ** 3)) for i in range(1, 20)], ["a", "b"])
    assert spearman_corr(mono, "a", "b").first().spearman == 1.0
    rev = spark.createDataFrame(
        [(float(i), float(-i)) for i in range(1, 20)], ["a", "b"])
    assert spearman_corr(rev, "a", "b").first().spearman == -1.0
    # ties on both sides: [1,1,2] vs [3,4,4] -> ranks [1.5,1.5,3],[1,2.5,2.5]
    # corr = 0.5 (hand-computed)
    ties = spark.createDataFrame(
        [(1.0, 3.0), (1.0, 4.0), (2.0, 4.0)], ["a", "b"])
    assert abs(spearman_corr(ties, "a", "b").first().spearman - 0.5) < 1e-9


def test_mutual_information_and_chi2_known_values(spark):
    """Independent uniform 2x2 -> MI 0, chi2 0; perfectly dependent 2x2
    -> MI = ln 2, chi2 = n; dof = 1 for both."""
    import math

    from etl_mark1_spark.plans.quality import chi_squared, mutual_information

    indep = spark.createDataFrame(
        [(a, b) for a in ("x", "y") for b in ("u", "v") for _ in range(5)],
        ["a", "b"])
    assert mutual_information(indep, "a", "b").first().mi == 0.0
    c = chi_squared(indep, "a", "b").first()
    assert c.chi2 == 0.0 and c.dof == 1 and c.n == 20
    dep = spark.createDataFrame(
        [("x", "u")] * 10 + [("y", "v")] * 10, ["a", "b"])
    got = mutual_information(dep, "a", "b").first()
    assert abs(got.mi - round(math.log(2), 6)) < 1e-9
    c = chi_squared(dep, "a", "b").first()
    assert c.chi2 == 20.0 and c.dof == 1


def test_corrupt_col_captures_bad_rows(spark, tmp_path):
    """corrupt_col= turns malformed lines into dead-letter rows instead
    of crashed or silently-nulled scans, for both csv and json."""
    csv = tmp_path / "messy.csv"
    csv.write_text("id,score\n1,10.5\nnot_an_id,oops,extra\n3,7.25\n")
    from etl_mark1_spark.sources.readers import read_file

    out = read_file(spark, str(csv), corrupt_col="_bad").cache()
    good = {r.id: r.score for r in out.filter("_bad IS NULL").collect()}
    assert good == {1: 10.5, 3: 7.25}
    bad = [r._bad for r in out.filter("_bad IS NOT NULL").collect()]
    assert bad == ["not_an_id,oops,extra"]

    js = tmp_path / "messy.json"
    js.write_text('{"k": 1}\n{oops not json\n{"k": 3}\n')
    out = read_file(spark, str(js), corrupt_col="_bad").cache()
    assert {r.k for r in out.filter("_bad IS NULL").collect()} == {1, 3}
    assert out.filter("_bad IS NOT NULL").count() == 1


def test_training_shards_jsonl_gzip(spark, sf_dir, tmp_path):
    """jsonl shard export: same deterministic layout as parquet, valid
    gzipped line-delimited JSON on disk, manifest records the format."""
    import gzip
    import glob
    import json as _json

    from etl_mark1_spark.sources.writers import write_training_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "lang", "text")
    out = str(tmp_path / "jsonl_shards")
    m = write_training_shards(docs, out, num_shards=4,
                              file_format="jsonl", compression="gzip")
    assert m["format"] == "jsonl" and m["total_rows"] == docs.count()

    files = glob.glob(f"{out}/shard=*/*.json.gz")
    assert files, "expected gzipped jsonl shard files"
    with gzip.open(files[0], "rt") as fh:
        first = _json.loads(fh.readline())
    assert {"doc_id", "lang", "text"} <= set(first)

    back = spark.read.json(out)
    assert back.count() == docs.count()

    # byte-identical determinism across re-runs, like the parquet path
    out2 = str(tmp_path / "jsonl_shards2")
    write_training_shards(docs, out2, num_shards=4,
                          file_format="jsonl", compression="gzip")
    a = sorted(glob.glob(f"{out}/shard=*/*.json.gz"))
    b = sorted(glob.glob(f"{out2}/shard=*/*.json.gz"))
    for fa, fb in zip(a, b):
        with gzip.open(fa, "rb") as ha, gzip.open(fb, "rb") as hb:
            assert ha.read() == hb.read()


def test_csv_delimiter_sniffing_read_csv_auto_parity(spark, tmp_path):
    """read_csv_auto parity: tab/semicolon/pipe files parse into real
    columns without an explicit sep; explicit sep always wins; comma
    files are unchanged."""
    from etl_mark1_spark.sources.readers import read_file

    cases = {"t.tsv": "a\tb\n1\tx\n2\ty\n",
             "s.csv": "a;b\n1;x\n2;y\n",
             "p.txt": "a|b\n1|x\n2|y\n",
             "c.csv": "a,b\n1,x\n2,y\n"}
    for name, body in cases.items():
        p = tmp_path / name
        p.write_text(body)
        df = read_file(spark, str(p), file_format="csv")
        assert df.columns == ["a", "b"], (name, df.columns)
        assert df.count() == 2

    # explicit sep overrides the sniff
    q = tmp_path / "explicit.csv"
    q.write_text("a;b\n1;x\n")
    df = read_file(spark, str(q), file_format="csv", sep=",")
    assert df.columns == ["a;b"]

    # single-column file defaults to comma without exploding
    r = tmp_path / "one.csv"
    r.write_text("a\n1\n2\n")
    assert read_file(spark, str(r), file_format="csv").columns == ["a"]


def test_csv_header_sniffing_headerless_numeric(spark, tmp_path):
    from etl_mark1_spark.sources.readers import read_file

    # headerless numeric csv: first row is DATA, must not become names
    p = tmp_path / "nohdr.csv"
    p.write_text("1,alpha\n2,beta\n3,gamma\n")
    df = read_file(spark, str(p), file_format="csv")
    assert df.count() == 3
    assert df.columns == ["_c0", "_c1"]

    # headered file unchanged; explicit header always wins
    q = tmp_path / "hdr.csv"
    q.write_text("id,name\n1,alpha\n")
    assert read_file(spark, str(q), file_format="csv").columns == [
        "id", "name"]
    forced = read_file(spark, str(p), file_format="csv", header=True)
    assert forced.count() == 2


def test_k_anonymity_audit_flags_small_groups(spark):
    from etl_mark1_spark.plans.quality import k_anonymity_audit

    rows = [("us", "a"), ("us", "a"), ("us", "a"),
            ("de", "a"), ("de", "b")]
    df = spark.createDataFrame(rows, ["country", "segment"])
    got = {(r["country"], r["segment"]): r["group_size"]
           for r in k_anonymity_audit(df, ["country", "segment"],
                                      k=3).collect()}
    assert got == {("de", "a"): 1, ("de", "b"): 1}
    assert k_anonymity_audit(df, ["country", "segment"], k=1).count() == 0
