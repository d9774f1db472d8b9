"""FIXTURES.md §B-style integration tests: the messy-CSV cleaning path the
reference's seeded templates exercise (seed_sample_data.py:47-73), format
round-trips, nested JSON inference, and the union-parts merge."""

import json
import os

import pytest

from etl_mark1_spark.operators.steps import apply_steps
from etl_mark1_spark.plans.dag import PipelineExecutor
from etl_mark1_spark.sources.readers import read_file
from etl_mark1_spark.sources.writers import write_file


@pytest.fixture(scope="module")
def products_messy_csv(tmp_path_factory):
    """B1: messy product CSV — spaces in header, whitespace in values,
    N/A prices, duplicated (sku,name) rows, regex-significant chars."""
    path = str(tmp_path_factory.mktemp("b1") / "products_messy.csv")
    rows = [
        'sku,Product Name,category_path,price,cost,description,first_name,last_name',
        'SKU-00001,"  Widget Alpha  ",a/b/c,10.50,4.20,"Great &amp; cheap (TM)",Ann,Lee',
        'SKU-00001,"  Widget Alpha  ",a/b/c,10.50,4.20,"Great &amp; cheap (TM)",Ann,Lee',
        'SKU-00002,Gadget Beta,d/e,N/A,,"Solid (TM) build",Bob,',
        'SKU-00003,THING gamma,f,7.25,3.10,plain,,Cruz',
    ]
    with open(path, "w") as fh:
        fh.write("\n".join(rows))
    return path


def test_cleaning_pipeline_on_messy_csv(spark, products_messy_csv):
    """The reference's seeded template flow: rename -> trim -> cast ->
    dedup, plus split/replace/merge — end to end on CSV input."""
    df = read_file(spark, products_messy_csv)
    out = apply_steps(df, [
        {"operator": "rename_column",
         "params": {"from_name": "Product Name", "to_name": "product_name"}},
        {"operator": "trim_whitespace", "params": {"columns": ["product_name"]}},
        {"operator": "cast_type",
         "params": {"column": "price", "target_type": "DOUBLE"}},
        {"operator": "deduplicate_rows", "params": {"columns": ["sku"]}},
        {"operator": "split_column",
         "params": {"column": "category_path", "delimiter": "/",
                    "new_names": ["cat1", "cat2", "cat3"]}},
        {"operator": "replace_text",
         "params": {"column": "description", "find": "&amp;", "replace": "&"}},
        {"operator": "regex_replace",
         "params": {"column": "description", "pattern": r"\(TM\)",
                    "replacement": "™"}},
        {"operator": "merge_columns",
         "params": {"columns": ["first_name", "last_name"], "separator": " ",
                    "new_name": "owner"}},
    ])
    rows = {r.sku: r for r in out.collect()}
    assert len(rows) == 3  # dedup collapsed the double SKU-00001
    assert rows["SKU-00001"].product_name == "Widget Alpha"
    assert rows["SKU-00001"].description == "Great & cheap ™"
    assert rows["SKU-00002"].price is None  # N/A -> NULL via try_cast
    assert rows["SKU-00003"].price == 7.25
    assert (rows["SKU-00001"].cat1, rows["SKU-00001"].cat2,
            rows["SKU-00001"].cat3) == ("a", "b", "c")
    assert rows["SKU-00002"].cat3 is None  # missing segment -> NULL
    assert rows["SKU-00002"].owner == "Bob "   # NULL last name -> ''
    assert rows["SKU-00003"].owner == " Cruz"  # NULL first name -> ''


def _quality_mix(spark, n=100):
    return spark.createDataFrame(
        [(None, i, 1, i if i < n // 2 else None) for i in range(n)],
        "all_null string, unique long, constant long, half_null long")


def test_quality_mix_columns(spark):
    """B2: quality-score edge cases — all-null, unique, constant, half-null."""
    from etl_mark1_spark.plans.quality import quality_report

    n = 100
    q = quality_report(_quality_mix(spark, n))
    d = q["details"]
    assert d["all_null"]["score"] == 0.0
    assert d["unique"]["score"] == 100.0 and d["unique"]["unique_ratio"] == 1.0
    assert d["constant"]["unique_ratio"] == pytest.approx(1 / n)
    assert d["half_null"]["score"] == 50.0
    assert q["score"] == pytest.approx((0 + 100 + 100 + 50) / 4)


def test_validation_gate_boundary_on_quality_mix(spark):
    """B2's mix scores 62.5: a validation node gating at 62 passes it
    and one gating at 63 fails the run, without a retry."""
    from etl_mark1_spark.plans.quality import quality_score

    df = _quality_mix(spark)
    assert quality_score(df) == 62.5

    def run(min_score):
        ex = PipelineExecutor(spark)
        ex.register_node_type(
            "mix", lambda node_id, config, inputs:
            ex._node_outputs.__setitem__(node_id, df))
        return ex.execute({
            "nodes": [{"id": "mix", "type": "mix", "config": {}},
                      {"id": "val", "type": "validation",
                       "config": {"min_score": min_score}}],
            "edges": [{"source": "mix", "target": "val"}]})

    assert run(62).status == "succeeded"
    failed = run(63)
    assert failed.status == "failed"
    assert failed.node_logs[-1].message == \
        "Quality score 62.5 below minimum 63"
    assert failed.node_logs[-1].attempts == 1


def test_union_parts_merge_node(spark, tmp_path):
    """B3: merge node over same-arity CSV parts + reordered-columns variant."""
    a = spark.createDataFrame([(1, 1.5, "x")], "id long, v double, tag string")
    b = spark.createDataFrame([(2, 2.5, "y")], "id long, v double, tag string")
    reordered = spark.createDataFrame([("z", 3, 3.5)],
                                      "tag string, id long, v double")
    ex = PipelineExecutor(spark)
    ex._exec_merge("m", {}, [a, b])
    assert ex._node_outputs["m"].count() == 2
    # positional union with reordered columns fails on type mismatch — the
    # divergence FIXTURES.md B3 pins down; by-name union handles it
    with pytest.raises(Exception):
        ex._exec_merge("bad", {}, [a, reordered])
        ex._node_outputs["bad"].collect()
    ex._exec_merge("ok", {"by_name": True}, [a, reordered])
    assert {r.id for r in ex._node_outputs["ok"].collect()} == {1, 3}


def test_nested_json_inference(spark, tmp_path):
    """B4: JSON-lines with nested object + array field."""
    path = str(tmp_path / "nested.json")
    with open(path, "w") as fh:
        fh.write(json.dumps({"id": 1, "user": {"name": "a", "age": 3},
                             "tags": ["x", "y"]}) + "\n")
        fh.write(json.dumps({"id": 2, "user": {"name": "b", "age": 4},
                             "tags": []}) + "\n")
    df = read_file(spark, path)
    assert df.count() == 2
    row = df.filter("id = 1").first()
    assert row.user.name == "a" and row.user.age == 3
    assert list(row.tags) == ["x", "y"]
    from etl_mark1_spark.plans.sql import infer_schema
    types = {d["name"]: d["type"] for d in infer_schema(df)}
    assert types["tags"] == "VARCHAR[]"
    assert types["user"].startswith("STRUCT(")


def test_format_roundtrip_set(spark, tmp_path):
    """B5: the same relation through csv/json/parquet/txt."""
    df = spark.createDataFrame([(1, 1.5, "x"), (2, 2.5, "y")],
                               "id long, v double, s string")
    for fmt, ext in [("csv", "csv"), ("json", "json"), ("parquet", "parquet"),
                     ("csv", "txt")]:
        path = str(tmp_path / f"rt.{ext}")
        write_file(df, path, fmt)
        back = read_file(spark, path)  # autodetect from extension
        assert back.count() == 2, (fmt, ext)
        assert set(back.columns) == {"id", "v", "s"}, (fmt, ext)


def test_excel_reader_rejects_non_xlsx(spark, tmp_path):
    """S4: Excel now reads via the built-in stdlib codec when openpyxl is
    absent (tests/test_excel.py covers real workbooks); a file that is not
    an xlsx container fails loudly, not with garbage rows."""
    import zipfile

    path = str(tmp_path / "book.xlsx")
    open(path, "wb").close()
    with pytest.raises((zipfile.BadZipFile, ValueError)):
        read_file(spark, path)


def test_http_connector_roundtrip(spark, tmp_path):
    """S9: HTTP source against a local server — driver-side fetch + read."""
    import http.server
    import threading

    csv_bytes = b"a,b\n1,x\n2,y\n"

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Type", "text/csv")
            self.end_headers()
            self.wfile.write(csv_bytes)

        def log_message(self, *args):
            pass

    server = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        from etl_mark1_spark.sources.connectors import get_connector

        url = f"http://127.0.0.1:{server.server_port}/data.csv"
        df = get_connector("http").read(spark, url=url, token="tok")
        assert df.count() == 2
        assert set(df.columns) == {"a", "b"}
    finally:
        server.shutdown()
