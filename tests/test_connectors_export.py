"""Connector registry, export adapters, and HTTP pipeline nodes against
live local servers (S9/S12, K7/K8/K10, invoke_http)."""

import http.server
import json
import threading

import pytest

from etl_mark1_spark.plans.dag import PipelineExecutor
from etl_mark1_spark.sources.connectors import get_connector, register_connector
from etl_mark1_spark.sources.export import get_export_adapter


@pytest.fixture()
def http_sink():
    """Collecting HTTP server: records every POSTed JSON body."""
    received = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            length = int(self.headers.get("Content-Length", 0))
            received.append(json.loads(self.rfile.read(length)))
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b"ok")

        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(json.dumps({"pong": True}).encode())

        def log_message(self, *args):
            pass

    server = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    yield server, received
    server.shutdown()


def test_webhook_export_batched(spark, http_sink):
    """K7: webhook adapter POSTs partition batches, not one driver blob."""
    server, received = http_sink
    df = spark.createDataFrame([(i, f"r{i}") for i in range(10)],
                               "id long, name string").repartition(3)
    adapter = get_export_adapter("webhook")
    adapter.export(df, {"url": f"http://127.0.0.1:{server.server_port}/hook",
                        "batch_size": 4})
    rows = [r for batch in received for r in batch]
    assert sorted(r["id"] for r in rows) == list(range(10))
    assert len(received) >= 3  # batched per partition, not one giant POST


def test_export_node_dispatch(spark, http_sink, tmp_path):
    """K10: export node routes through the adapter registry."""
    server, received = http_sink
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame([(1, "a")], "id long, s string").write.parquet(src)
    ex = PipelineExecutor(spark)
    report = ex.execute({
        "nodes": [
            {"id": "src", "type": "file_input", "config": {"path": src}},
            {"id": "exp", "type": "export",
             "config": {"type": "webhook",
                        "url": f"http://127.0.0.1:{server.server_port}/x"}},
        ],
        "edges": [{"source": "src", "target": "exp"}],
    })
    assert report.status == "succeeded"
    assert received and received[0][0]["id"] == 1


def test_webhook_send_node_posts_through_webhook_adapter(spark, http_sink,
                                                        tmp_path):
    """webhook_send is the export node with the webhook adapter forced,
    whatever ``type`` its config carries."""
    server, received = http_sink
    src = str(tmp_path / "hook.parquet")
    spark.createDataFrame([(7, "h")], "id long, s string").write.parquet(src)
    report = PipelineExecutor(spark).execute({
        "nodes": [
            {"id": "src", "type": "file_input", "config": {"path": src}},
            {"id": "hook", "type": "webhook_send",
             "config": {"type": "odoo_xmlrpc",
                        "url": f"http://127.0.0.1:{server.server_port}/h"}},
        ],
        "edges": [{"source": "src", "target": "hook"}],
    })
    assert report.status == "succeeded", report.node_logs
    assert received[-1] == [{"id": 7, "s": "h"}]


def test_invoke_http_node(spark, http_sink, tmp_path):
    """invoke_http node: driver-side call, bounded input body."""
    server, received = http_sink
    src = str(tmp_path / "ih.parquet")
    spark.createDataFrame([(1,)], "id long").write.parquet(src)
    ex = PipelineExecutor(spark)
    report = ex.execute({
        "nodes": [
            {"id": "src", "type": "file_input", "config": {"path": src}},
            {"id": "call", "type": "invoke_http",
             "config": {"url": f"http://127.0.0.1:{server.server_port}/api",
                        "send_input": True, "max_rows": 5}},
        ],
        "edges": [{"source": "src", "target": "call"}],
    })
    assert report.status == "succeeded"
    assert ex._node_outputs["call"] == "ok"   # POST response body
    assert received[-1] == [{"id": 1}]        # body carried the input rows


def test_odoo_xmlrpc_adapter(spark):
    """K8: Odoo adapter against a local XML-RPC server — authenticates once
    per partition, creates records in batches."""
    from xmlrpc.server import SimpleXMLRPCRequestHandler, SimpleXMLRPCServer

    created = []
    auth_calls = []

    class OdooPaths(SimpleXMLRPCRequestHandler):
        rpc_paths = ("/xmlrpc/2/common", "/xmlrpc/2/object")

    srv = SimpleXMLRPCServer(("127.0.0.1", 0), requestHandler=OdooPaths,
                             logRequests=False, allow_none=True)

    def authenticate(db, user, pw, ctx):
        auth_calls.append(user)
        return 42

    def execute_kw(db, uid, pw, model, method, args):
        assert uid == 42 and method == "create"
        created.extend(args[0])
        return list(range(len(args[0])))

    srv.register_function(authenticate, "authenticate")
    srv.register_function(execute_kw, "execute_kw")
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        # xmlrpc paths /xmlrpc/2/common and /xmlrpc/2/object hit the same
        # dispatcher on SimpleXMLRPCServer regardless of path
        df = spark.createDataFrame([(i, f"n{i}") for i in range(5)],
                                   "id long, name string").coalesce(1)
        get_export_adapter("odoo_xmlrpc").export(df, {
            "url": url, "db": "db", "username": "u", "password": "p",
            "model": "res.partner", "batch_size": 2,
        })
        assert sorted(r["id"] for r in created) == list(range(5))
        assert auth_calls == ["u"]  # one auth for the single partition
    finally:
        srv.shutdown()


def test_connector_input_node(spark, tmp_path):
    """S12: connector_input node via the csv connector."""
    path = str(tmp_path / "c.csv")
    with open(path, "w") as fh:
        fh.write("x,y\n1,a\n2,b\n")
    ex = PipelineExecutor(spark)
    report = ex.execute({
        "nodes": [{"id": "in", "type": "connector_input",
                   "config": {"type": "csv", "read_params": {"path": path}}}],
        "edges": [],
    })
    assert report.status == "succeeded"
    assert ex._node_outputs["in"].count() == 2


def test_connector_write_and_registry(spark, tmp_path):
    """K6 + custom registration: connector write path and plugin hook."""
    df = spark.createDataFrame([(1,)], "id long")
    path = str(tmp_path / "out.json")
    get_connector("json").write(df, path=path)
    assert spark.read.json(path).count() == 1

    class FakeConnector(get_connector("csv").__class__):
        name = "fake"

    register_connector(FakeConnector())
    assert get_connector("fake").name == "fake"


def test_step_operator_plugin_registry(spark):
    """§2.9: live operator registration (the reference declares a plugin ABC
    with empty packages; here registration works)."""
    from etl_mark1_spark.operators.steps import (STEP_OPERATORS, apply_steps,
                                                 register_operator)

    def op_tag(df, params):
        from pyspark.sql import functions as F

        return df.withColumn(params.get("name", "tag"), F.lit("tagged"))

    register_operator("tag_rows", op_tag)
    try:
        df = spark.createDataFrame([(1,)], "id long")
        out = apply_steps(df, [{"operator": "tag_rows", "params": {}}])
        assert out.first().tag == "tagged"
    finally:
        STEP_OPERATORS.pop("tag_rows", None)
