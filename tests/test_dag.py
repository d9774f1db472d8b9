"""DAG executor: topology, retry, conditional semantics, merge, reports."""

import pytest
from pyspark.sql import Row

from etl_mark1_spark.plans.dag import ExecutionError, PipelineExecutor


def test_end_to_end_pipeline(spark, sf_dir, tmp_path):
    out_path = str(tmp_path / "out.parquet")
    definition = {
        "nodes": [
            {"id": "in", "type": "file_input",
             "config": {"path": f"{sf_dir}/orders.parquet", "format": "parquet"}},
            {"id": "tf", "type": "transform", "config": {"steps": [
                {"operator": "filter_rows",
                 "params": {"expression": "o_totalprice > 100000"}}]}},
            {"id": "val", "type": "validation", "config": {"min_score": 50}},
            {"id": "out", "type": "file_output",
             "config": {"path": out_path, "format": "parquet"}},
        ],
        "edges": [{"source": "in", "target": "tf"},
                  {"source": "tf", "target": "val"},
                  {"source": "val", "target": "out"}],
    }
    report = PipelineExecutor(spark, observe_rows=True).execute(definition)
    assert report.status == "succeeded"
    assert [log.status for log in report.node_logs] == ["succeeded"] * 4
    assert spark.read.parquet(out_path).count() == report.node_logs[1].rows


def test_cycle_detection(spark):
    with pytest.raises(ExecutionError, match="cycle"):
        PipelineExecutor(spark).execute({
            "nodes": [{"id": "a", "type": "transform", "config": {}},
                      {"id": "b", "type": "transform", "config": {}}],
            "edges": [{"source": "a", "target": "b"},
                      {"source": "b", "target": "a"}],
        })


def test_dangling_edge_is_not_a_cycle(spark, sf_dir):
    """An edge whose source node was deleted (routine in React-Flow graphs)
    must be ignored, not strand its target at in-degree > 0 and report a
    spurious cycle."""
    report = PipelineExecutor(spark).execute({
        "nodes": [
            {"id": "in", "type": "file_input",
             "config": {"path": f"{sf_dir}/nation.parquet"}},
            {"id": "tf", "type": "transform", "config": {"steps": []}},
        ],
        "edges": [{"source": "in", "target": "tf"},
                  {"source": "ghost", "target": "tf"},   # deleted source
                  {"source": "tf", "target": "ghost2"}],  # deleted target
    })
    assert report.status == "succeeded"


def test_executor_reuse_resets_outputs(spark, sf_dir):
    """A second execute() on the same instance must not leak prior-run
    outputs into report.outputs or feed stale frames to same-named edges."""
    ex = PipelineExecutor(spark)
    first = ex.execute({
        "nodes": [{"id": "old", "type": "file_input",
                   "config": {"path": f"{sf_dir}/region.parquet"}}],
        "edges": [],
    })
    assert "old" in first.outputs
    second = ex.execute({
        "nodes": [{"id": "tf", "type": "transform", "config": {"steps": []}}],
        "edges": [{"source": "old", "target": "tf"}],  # refers to prior run
    })
    assert "old" not in second.outputs
    # the stale edge supplies no input, so the transform fails cleanly,
    # before any attempt
    assert second.status == "failed"
    assert second.node_logs[-1].message == "transform node has no inputs"
    assert second.node_logs[-1].attempts == 0


def test_validation_gate_fails_run(spark, sf_dir):
    report = PipelineExecutor(spark).execute({
        "nodes": [
            {"id": "in", "type": "file_input",
             "config": {"path": f"{sf_dir}/customer.parquet"}},
            {"id": "val", "type": "validation", "config": {"min_score": 101}},
        ],
        "edges": [{"source": "in", "target": "val"}],
    })
    assert report.status == "failed"
    assert "below minimum" in report.node_logs[-1].message
    # semantic failures must NOT burn retries
    assert report.node_logs[-1].attempts == 1


def test_conditional_branch_filter_and_gate(spark):
    df = spark.createDataFrame([Row(x=1), Row(x=5)])
    ex = PipelineExecutor(spark)
    ex._node_outputs["src"] = df
    ex._exec_conditional("c", {"condition": "x > 2"}, [df])
    assert ex._node_outputs["c"].count() == 1
    ex._exec_conditional("g", {"condition": "x > 100", "mode": "gate"}, [df])
    assert ex._node_outputs["g"].count() == 0
    ex._exec_conditional("g2", {"condition": "x > 2", "mode": "gate"}, [df])
    assert ex._node_outputs["g2"].count() == 2


def test_merge_positional_and_by_name(spark):
    a = spark.createDataFrame([Row(x=1, y="a")])
    b = spark.createDataFrame([Row(x=2, y="b")])
    ex = PipelineExecutor(spark)
    ex._exec_merge("m", {}, [a, b])
    assert ex._node_outputs["m"].count() == 2
    ex._exec_merge("mn", {"by_name": True}, [a, b.select("y", "x")])
    assert {r.x for r in ex._node_outputs["mn"].collect()} == {1, 2}


def test_retry_then_success(spark):
    calls = {"n": 0}

    def flaky(node_id, config, inputs):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        ex._node_outputs[node_id] = "done"

    ex = PipelineExecutor(spark, retry_delay=0.01)
    ex.register_node_type("flaky", flaky)
    report = ex.execute({"nodes": [{"id": "f", "type": "flaky", "config": {}}],
                         "edges": []})
    assert report.status == "succeeded"
    assert report.node_logs[0].attempts == 3


def test_unknown_node_passthrough(spark):
    df = spark.createDataFrame([Row(x=1)])
    ex = PipelineExecutor(spark)
    ex._node_outputs["src"] = df
    report = ex.execute({
        "nodes": [{"id": "src", "type": "noop_src", "config": {}},
                  {"id": "mail", "type": "email_notify", "config": {}}],
        "edges": [{"source": "src", "target": "mail"}],
    })
    assert report.status == "succeeded"


def test_pdf_extract_node(spark, tmp_path):
    from etl_mark1_spark.sources.pdf import make_pdf

    pdf_dir = tmp_path / "pdfs"
    pdf_dir.mkdir()
    (pdf_dir / "a.pdf").write_bytes(make_pdf(["hello world", "page two"]))
    report = PipelineExecutor(spark).execute({
        "nodes": [{"id": "pdf", "type": "pdf_extract",
                   "config": {"path": str(pdf_dir)}}],
        "edges": [],
    })
    assert report.status == "succeeded"
    rows = sorted(report.outputs["pdf"].collect(), key=lambda r: r.page)
    assert [r.text for r in rows] == ["hello world", "page two"]

    missing = PipelineExecutor(spark).execute({
        "nodes": [{"id": "pdf", "type": "pdf_extract", "config": {}}],
        "edges": [],
    })
    assert missing.status == "failed"
    assert "path" in missing.node_logs[-1].message


def test_split_json_node_infers_and_splits(spark, tmp_path):
    src = tmp_path / "j.json"
    df = spark.createDataFrame(
        [(1, '{"a": 5, "b": "x"}'), (2, '{"a": 7, "b": "y"}')],
        "id int, payload string")
    df.write.mode("overwrite").parquet(str(src))
    report = PipelineExecutor(spark).execute({
        "nodes": [
            {"id": "in", "type": "file_input",
             "config": {"path": str(src), "format": "parquet"}},
            {"id": "sj", "type": "split_json",
             "config": {"column": "payload"}},
        ],
        "edges": [{"source": "in", "target": "sj"}],
    })
    assert report.status == "succeeded"
    out = report.outputs["sj"]
    assert set(out.columns) == {"id", "a", "b"}
    got = {r.id: (r.a, r.b) for r in out.collect()}
    assert got == {1: (5, "x"), 2: (7, "y")}


def test_split_json_explicit_schema_and_errors(spark):
    df = spark.createDataFrame([('{"n": 1}',)], "payload string")
    ex = PipelineExecutor(spark)
    ex._node_outputs["src"] = df
    # explicit DDL schema wins over inference
    ex._exec_split_json("sj", {"column": "payload", "schema": "n double"},
                        [df])
    assert ex._node_outputs["sj"].schema["n"].dataType.typeName() == "double"

    with pytest.raises(ExecutionError, match="no column"):
        ex._exec_split_json("sj", {"column": "missing"}, [df])
    empty = spark.createDataFrame([], "payload string")
    with pytest.raises(ExecutionError, match="no non-null rows"):
        ex._exec_split_json("sj", {"column": "payload"}, [empty])


def test_observe_rows_piggybacks_on_sink_action(spark, sf_dir, tmp_path):
    """observe_rows must report per-node row counts from the single sink
    action — no count() jobs — and leave rows=None on nodes no action
    reached."""
    out_path = str(tmp_path / "obs.parquet")
    definition = {
        "nodes": [
            {"id": "in", "type": "file_input",
             "config": {"path": f"{sf_dir}/orders.parquet",
                        "format": "parquet"}},
            {"id": "tf", "type": "transform", "config": {"steps": [
                {"operator": "filter_rows",
                 "params": {"expression": "o_totalprice > 100000"}}]}},
            {"id": "out", "type": "file_output",
             "config": {"path": out_path, "format": "parquet"}},
            # a dead branch: transforms the input but reaches no sink
            {"id": "dead", "type": "transform", "config": {"steps": []}},
        ],
        "edges": [{"source": "in", "target": "tf"},
                  {"source": "tf", "target": "out"},
                  {"source": "in", "target": "dead"}],
    }
    report = PipelineExecutor(spark, observe_rows=True).execute(definition)
    assert report.status == "succeeded"
    rows = {log.node_id: log.rows for log in report.node_logs}
    written = spark.read.parquet(out_path).count()
    assert rows["tf"] == written
    assert rows["in"] is not None and rows["in"] > written  # pre-filter
    assert rows["dead"] is None     # no action on that branch


def _diamond(sf_dir, out_dir):
    """in -> {big, small} -> {out_big, out_small}: two independent sink
    branches over orders, split on o_totalprice."""
    return {
        "nodes": [
            {"id": "in", "type": "file_input",
             "config": {"path": f"{sf_dir}/orders.parquet",
                        "format": "parquet"}},
            {"id": "big", "type": "transform", "config": {"steps": [
                {"operator": "filter_rows",
                 "params": {"expression": "o_totalprice > 100000"}}]}},
            {"id": "small", "type": "transform", "config": {"steps": [
                {"operator": "filter_rows",
                 "params": {"expression": "o_totalprice <= 100000"}}]}},
            {"id": "out_big", "type": "file_output",
             "config": {"path": f"{out_dir}/big.parquet",
                        "format": "parquet"}},
            {"id": "out_small", "type": "file_output",
             "config": {"path": f"{out_dir}/small.parquet",
                        "format": "parquet"}},
        ],
        "edges": [{"source": "in", "target": "big"},
                  {"source": "in", "target": "small"},
                  {"source": "big", "target": "out_big"},
                  {"source": "small", "target": "out_small"}],
    }


def test_parallel_branches_match_direct_filters(spark, sf_dir, tmp_path):
    """A diamond DAG writes both sink branches, each holding exactly the
    rows of the matching filter on orders, with every node log green."""
    definition = _diamond(sf_dir, tmp_path)
    report = PipelineExecutor(spark).execute(definition)
    assert report.status == "succeeded"
    assert {log.status for log in report.node_logs} == {"succeeded"}
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    for side, expr in (("big", "o_totalprice > 100000"),
                       ("small", "o_totalprice <= 100000")):
        written = spark.read.parquet(str(tmp_path / f"{side}.parquet"))
        assert written.count() == orders.filter(expr).count() > 0
    # level structure: source alone, then the two transforms together
    levels = PipelineExecutor._topo_levels(definition["nodes"],
                                           definition["edges"])
    assert [sorted(n["id"] for n in lv) for lv in levels] == [
        ["in"], ["big", "small"], ["out_big", "out_small"]]


def test_pipeline_jobs_keep_the_callers_job_group(spark, sf_dir, tmp_path):
    """The two sinks of one level run from driver threads, and their jobs
    still land in the caller's job group: the group holds every job of
    the run, and none of them runs without a group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("pipeline-run", "diamond")
    try:
        report = PipelineExecutor(spark).execute(_diamond(sf_dir, tmp_path))
    finally:
        sc._jsc.clearJobGroup()
    assert report.status == "succeeded"
    assert len(tracker.getJobIdsForGroup("pipeline-run")) >= 3
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_run_jobs_keeps_order_and_reraises_first_failure(spark):
    """run_jobs returns results in submission order whatever order the
    jobs finish in, runs at most MAX_DRIVER_THREADS at once, runs a lone
    job on the calling thread, and re-raises the first failure only
    after every job has finished."""
    import threading
    import time

    from etl_mark1_spark.session import MAX_DRIVER_THREADS, run_jobs

    lock, active, peak = threading.Lock(), [0], [0]

    def job(i):
        def run():
            with lock:
                active[0] += 1
                peak[0] = max(peak[0], active[0])
            time.sleep(0.01 * (12 - i))  # later jobs finish first
            with lock:
                active[0] -= 1
            return i
        return run

    assert run_jobs(spark, [job(i) for i in range(12)]) == list(range(12))
    assert 1 < peak[0] <= MAX_DRIVER_THREADS
    assert run_jobs(spark, [threading.get_ident]) == [threading.get_ident()]

    finished = []

    def fail(msg, delay):
        def run():
            time.sleep(delay)
            raise RuntimeError(msg)
        return run

    def slow_ok():
        time.sleep(0.2)
        finished.append(True)

    with pytest.raises(RuntimeError, match="first"):
        run_jobs(spark, [fail("first", 0.05), fail("second", 0.0), slow_ok])
    assert finished == [True]


def test_serial_walk_is_refused(spark):
    with pytest.raises(ValueError, match="parallel_branches"):
        PipelineExecutor(spark, parallel_branches=False)


def test_parallel_branches_failure_stops_run(spark, sf_dir):
    definition = {
        "nodes": [
            {"id": "in", "type": "file_input",
             "config": {"path": f"{sf_dir}/orders.parquet",
                        "format": "parquet"}},
            {"id": "ok", "type": "transform", "config": {"steps": []}},
            {"id": "bad", "type": "validation",
             "config": {"min_score": 101}},  # unreachable score: fails
            {"id": "never", "type": "transform", "config": {"steps": []}},
        ],
        "edges": [{"source": "in", "target": "ok"},
                  {"source": "in", "target": "bad"},
                  {"source": "bad", "target": "never"}],
    }
    report = PipelineExecutor(spark).execute(definition)
    assert report.status == "failed"
    statuses = {log.node_id: log.status for log in report.node_logs}
    assert statuses["bad"] == "failed"
    assert "never" not in statuses  # downstream level never scheduled


def test_file_output_versioned_snapshots(spark, sf_dir, tmp_path):
    """Two runs of a versioned file_output accumulate snapshots; the
    first run's data stays readable by version after the second."""
    from etl_mark1_spark.sources.versioned import history, read_table

    table = str(tmp_path / "snap_out")

    def run(expr):
        return PipelineExecutor(spark).execute({
            "nodes": [
                {"id": "in", "type": "file_input",
                 "config": {"path": f"{sf_dir}/orders.parquet",
                            "format": "parquet"}},
                {"id": "tf", "type": "transform", "config": {"steps": [
                    {"operator": "filter_rows",
                     "params": {"expression": expr}}]}},
                {"id": "out", "type": "file_output",
                 "config": {"path": table, "versioned": True}},
            ],
            "edges": [{"source": "in", "target": "tf"},
                      {"source": "tf", "target": "out"}],
        })

    assert run("o_totalprice > 100000").status == "succeeded"
    first = read_table(spark, table).count()
    assert run("o_totalprice > 200000").status == "succeeded"
    assert [h["version"] for h in history(table)] == [0, 1]
    assert read_table(spark, table, version=0).count() == first
    assert read_table(spark, table).count() < first


def test_shard_output_node(spark, sf_dir, tmp_path):
    """The training-shard sink runs as a pipeline node: curate -> shard,
    manifest reconciles with the filtered row count."""
    import json

    from etl_mark1_spark.plans.dag import PipelineExecutor

    out = str(tmp_path / "shards")
    definition = {
        "nodes": [
            {"id": "in", "type": "file_input",
             "config": {"path": f"{sf_dir}/documents.parquet",
                        "format": "parquet"}},
            {"id": "tf", "type": "transform", "config": {"steps": [
                {"operator": "filter_rows",
                 "params": {"expression": "n_chars >= 100"}}]}},
            {"id": "out", "type": "shard_output",
             "config": {"path": out, "num_shards": 4}},
        ],
        "edges": [{"source": "in", "target": "tf"},
                  {"source": "tf", "target": "out"}],
    }
    report = PipelineExecutor(spark).execute(definition)
    assert report.status == "succeeded"
    manifest = json.load(open(f"{out}/_manifest.json"))
    expected = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                .filter("n_chars >= 100").count())
    assert manifest["total_rows"] == expected
    assert spark.read.parquet(out).count() == expected


def test_curation_demo_end_to_end(spark, sf_dir, tmp_path):
    """The showcase pipeline (scripts/curation_demo.py) must run every
    stage against the real corpus, keep rows at every stage, write and
    tag a versioned shard table, and leak zero PII."""
    import sys

    sys.path.insert(0, "/root/repo/scripts")
    from curation_demo import run

    report = run(spark, sf_dir, str(tmp_path))
    assert report["ok"], report
    s = report["stages"]
    assert s["raw"] >= s["quality_gate"] >= s["exact_dedup"] \
        >= s["near_dedup"] >= s["decontaminated"] >= s["mixture"] > 0
    assert report["bpe_merges"] == 30
    assert report["pii_hits_after_redaction"] == 0
    from etl_mark1_spark.sources.versioned import read_tag

    shards = read_tag(spark, str(tmp_path / "train_shards"), "demo")
    assert shards.count() == s["mixture"]
    assert "bpe_tokens" in shards.columns


def test_web_curation_pipeline_through_step_registry(spark, sf_dir,
                                                     tmp_path):
    """The round-7 curation ops compose as plain DAG transform steps —
    one pipeline definition takes raw HTML-wrapped docs through strip,
    mojibake repair, line dedup, and main-content extraction using ONLY
    the registered step DSL (no Python imports in the definition)."""
    from etl_mark1_spark.plans.dag import PipelineExecutor

    out = str(tmp_path / "curated.parquet")
    definition = {
        "nodes": [
            {"id": "in", "type": "file_input",
             "config": {"path": f"{sf_dir}/documents.parquet",
                        "format": "parquet"}},
            {"id": "tx", "type": "transform", "config": {"steps": [
                {"operator": "add_derived_column",
                 "params": {"name": "html",
                            "expression":
                                "concat('<nav><a href=\"/\">Home</a></nav>"
                                "<p>cafÃ© lead</p><p>', text, '</p>"
                                "<p>', text, '</p>"
                                "<footer>terms</footer>')"}},
                {"operator": "html_main_content",
                 "params": {"column": "html"}},
                {"operator": "fix_mojibake",
                 "params": {"column": "main_text"}},
                {"operator": "dedup_lines",
                 "params": {"column": "fixed_text",
                            "target_column": "clean"}},
            ]}},
            {"id": "out", "type": "file_output",
             "config": {"path": out, "format": "parquet"}},
        ],
        "edges": [{"source": "in", "target": "tx"},
                  {"source": "tx", "target": "out"}],
    }
    report = PipelineExecutor(spark).execute(definition)
    assert report.status == "succeeded"
    back = spark.read.parquet(out)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert back.count() == docs.count()
    r = back.orderBy("doc_id").first()
    d0 = docs.orderBy("doc_id").first()
    # nav/footer dropped, mojibake lead repaired, duplicated paragraph
    # deduplicated down to one line + the lead
    assert r["clean"] == f"café lead\n{d0['text']}"
