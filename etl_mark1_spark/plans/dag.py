"""DAG pipeline executor — SURVEY.md §2.6.

The reference walks a React-Flow ``{nodes, edges}`` graph in Kahn order,
running nodes serially and handing data between them as temp CSV files
(reference: backend/executor/engine.py:24-353; node dispatch :145-178; file
hand-off :316-324). That CSV round-trip re-infers schema at every hop and
breaks pipelining — the single biggest anti-pattern for scale.

Here edges carry **DataFrames**: the whole DAG composes into lazy lineages and
nothing materializes until a sink action. Catalyst then optimizes across node
boundaries (filter from a late node can push down into an early scan).

The graph runs one Kahn level at a time. The nodes of a level are
mutually independent (an edge always crosses levels), so a wider level
runs its nodes from driver threads and their sink actions overlap on the
cluster; the reference imports a process pool it never uses
(engine.py:9, :60).

Kept in spirit from the reference: per-node retry (3 attempts, 2·attempt
backoff — engine.py:33-34,77-102) and per-node run logs with duration.
Fixed: cycle detection (the reference silently truncates cyclic graphs),
``conditional_branch`` has real semantics (the reference's is a
pass-through — engine.py:311-314), and ``pdf_extract`` / ``split_json``
are implemented (the reference declares them at engine.py:26-27 and never
handles them; ``email_notify`` stays a logged pass-through — no SMTP here).

Node definition shape::

    {"id": "n1", "type": "transform", "config": {...}}

Edges: ``{"source": "n0", "target": "n1"}``.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import partial
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mark1_spark.operators.steps import apply_steps
from etl_mark1_spark.session import run_jobs

# Attempts per node; an ExecutionError is not retried.
MAX_RETRIES = 3


class ExecutionError(Exception):
    pass


@dataclass
class NodeLog:
    node_id: str
    node_type: str
    status: str = "pending"
    attempts: int = 0
    duration_s: float = 0.0
    rows: int | None = None
    message: str = ""


@dataclass
class RunReport:
    status: str = "pending"
    node_logs: list[NodeLog] = field(default_factory=list)
    outputs: dict[str, Any] = field(default_factory=dict)


class PipelineExecutor:
    """Walks the node DAG level by level, passing DataFrames along edges.

    A built-in node type other than a source (``file_input``,
    ``connector_input``, ``pdf_extract``, ``invoke_http``) fails without
    an attempt when no edge feeds it. ``observe_rows=True`` logs per-node row counts (like the reference's
    per-node row logs, engine.py:104-108) without an action of its own:
    the counts piggy-back on the sink actions the pipeline runs anyway
    (``Observation`` accumulators in the existing plans), so the lineage
    stays lazy end-to-end and the cluster runs one job, not one per node.
    """

    def __init__(self, spark: SparkSession, retry_delay: float = 2.0,
                 observe_rows: bool = False, parallel_branches: bool = True):
        # perfbench/workloads.py passes parallel_branches=True; the level
        # walk is the only walk, so False is refused.
        if not parallel_branches:
            raise ValueError("parallel_branches=False is no longer "
                             "supported: every graph runs level by level")
        self.spark = spark
        self._retry_delay = retry_delay
        self._observe_rows = observe_rows
        self._node_outputs: dict[str, DataFrame | Any] = {}
        self._observations: dict[str, Any] = {}
        self._handlers: dict[str, Callable] = {
            "file_input": self._exec_file_input,
            "connector_input": self._exec_connector_input,
            "transform": self._exec_transform,
            "validation": self._exec_validation,
            "conditional_branch": self._exec_conditional,
            "merge": self._exec_merge,
            "invoke_http": self._exec_invoke_http,
            "webhook_send": lambda node_id, config, inputs: self._exec_export(
                node_id, {**config, "type": "webhook"}, inputs),
            "db_insert": self._exec_db_insert,
            "export": self._exec_export,
            "file_output": self._exec_file_output,
            "shard_output": self._exec_shard_output,
            "pdf_extract": self._exec_pdf_extract,
            "split_json": self._exec_split_json,
        }
        self._needs_input = set(self._handlers) - {
            "file_input", "connector_input", "pdf_extract", "invoke_http"}

    def register_node_type(self, name: str, fn: Callable) -> None:
        self._handlers[name] = fn
        self._needs_input.discard(name)

    # -- execution -----------------------------------------------------

    def execute(self, definition: dict) -> RunReport:
        # fresh run state: a reused executor must not leak prior-run outputs
        # into report.outputs or feed stale frames to same-named edges
        self._node_outputs = {}
        self._observations = {}
        nodes = definition.get("nodes", [])
        edges = definition.get("edges", [])
        report = RunReport(status="running")
        if not self._execute_levels(nodes, edges, report):
            report.status = "failed"
            return report
        report.status = "succeeded"
        report.outputs = dict(self._node_outputs)
        self._fill_observed_rows(report)
        return report

    def _execute_node(self, node: dict, log: NodeLog,
                      edges: list[dict]) -> bool:
        """Run one node (with retry + row accounting) updating its log;
        returns False on failure. Thread-safe: per-node state lands in
        dict slots keyed by node_id, and Spark supports concurrent job
        submission from multiple driver threads."""
        node_id, node_type = node["id"], node.get("type", "")
        config = node.get("config", node.get("data", {})) or {}
        started = time.monotonic()
        try:
            self._run_with_retry(log, node_id, node_type, config, edges)
            log.status = "succeeded"
        except Exception as exc:
            log.status = "failed"
            log.message = str(exc)
            log.duration_s = time.monotonic() - started
            return False
        log.duration_s = time.monotonic() - started
        out = self._node_outputs.get(node_id)
        if self._observe_rows and isinstance(out, DataFrame):
            from pyspark.sql import Observation

            obs = Observation(f"rows_{node_id}")
            self._node_outputs[node_id] = out.observe(
                obs, F.count(F.lit(1)).alias("rows"))
            self._observations[node_id] = obs
        return True

    def _execute_levels(self, nodes: list[dict], edges: list[dict],
                        report: RunReport) -> bool:
        """Run the graph one Kahn level at a time; False once a level has
        a failed node, after every node of that level has finished.

        A level's nodes are mutually independent and run through
        ``session.run_jobs``: a lone node runs inline, a wider level from
        driver threads in the caller's job group, so Spark interleaves
        their jobs. Transformation-only nodes are near-free either way
        (lazy); the overlap is in the ACTIONS — sinks, exports, validation
        scores."""
        for level in self._topo_levels(nodes, edges):
            logs = [NodeLog(node_id=node["id"], node_type=node.get("type", ""))
                    for node in level]
            report.node_logs.extend(logs)
            if not all(run_jobs(self.spark, [
                    partial(self._execute_node, node, log, edges)
                    for node, log in zip(level, logs)])):
                return False
        return True

    def _fill_observed_rows(self, report: RunReport) -> None:
        """Populate log.rows from piggy-backed metrics, zero extra actions.

        ``observe_rows`` attaches an ``Observation`` (an
        ``AggregatingAccumulator`` riding the node's existing plan) instead
        of a per-node ``count()`` action — at 100 TB an extra full pass
        per node is the difference between one job and N.
        Metrics exist only for nodes some sink action actually executed;
        nodes on never-actioned branches keep ``rows=None`` (the probe
        raises / returns empty pre-action, which is the signal itself)."""
        if not self._observations:
            return
        by_id = {log.node_id: log for log in report.node_logs}
        for node_id, obs in self._observations.items():
            try:
                jmap = obs._jo.getOrEmpty()
                if not jmap.isEmpty():
                    by_id[node_id].rows = jmap.apply("rows")
            except Exception:
                pass  # no action reached this node's plan: rows stays None

    def _run_with_retry(self, log: NodeLog, node_id: str, node_type: str,
                        config: dict, edges: list[dict]) -> None:
        handler = self._handlers.get(node_type)
        inputs = self._get_inputs(node_id, edges)
        if not inputs and node_type in self._needs_input:
            raise ExecutionError(f"{node_type} node has no inputs")
        last_exc: Exception | None = None
        for attempt in range(1, MAX_RETRIES + 1):
            log.attempts = attempt
            try:
                if handler is None:
                    # unknown node types pass through (engine.py:177-178)
                    self._node_outputs[node_id] = inputs[0] if inputs else None
                    log.message = f"pass-through node type: {node_type}"
                    return
                handler(node_id, config, inputs)
                return
            except ExecutionError:
                raise  # semantic failures (validation breach etc.) don't retry
            except Exception as exc:  # transient: retry with linear backoff
                last_exc = exc
                if attempt < MAX_RETRIES:
                    time.sleep(self._retry_delay * attempt)
        raise ExecutionError(f"node {node_id} failed after "
                             f"{MAX_RETRIES} attempts: {last_exc}")

    # -- node handlers ---------------------------------------------------

    def _exec_file_input(self, node_id: str, config: dict, inputs: list) -> None:
        """file_input (engine.py:180-192): storage path -> DataFrame.
        No temp-file hop — executors read the storage path directly."""
        from etl_mark1_spark.sources.readers import read_file

        path = config.get("path") or config.get("file_id")
        if not path:
            raise ExecutionError("file_input requires 'path'")
        self._node_outputs[node_id] = read_file(
            self.spark, path, config.get("format"), **config.get("options", {})
        )

    def _exec_connector_input(self, node_id: str, config: dict, inputs: list) -> None:
        """connector_input (engine.py:194-200): registry connector -> DataFrame."""
        from etl_mark1_spark.sources.connectors import get_connector

        connector = get_connector(config.get("type", "csv"))
        self._node_outputs[node_id] = connector.read(
            self.spark, **config.get("read_params", {})
        )

    def _exec_pdf_extract(self, node_id: str, config: dict,
                          inputs: list) -> None:
        """pdf_extract — declared but never implemented in the reference
        (executor/engine.py:26-27); here it is the distributed binaryFile →
        mapInPandas extraction, one row per (path, page, text)."""
        from etl_mark1_spark.sources.pdf import read_pdf

        path = config.get("path")
        if not path:
            raise ExecutionError("pdf_extract requires 'path'")
        self._node_outputs[node_id] = read_pdf(self.spark, path)

    def _exec_split_json(self, node_id: str, config: dict,
                         inputs: list) -> None:
        """split_json — declared but never implemented in the reference
        (executor/engine.py:26-27); here it parses a JSON string column
        into typed top-level columns. Schema comes from config
        ("schema": DDL string) or is inferred from one sampled non-null
        value (bounded driver read); parsing itself is the JVM-side
        ``from_json`` on every row."""
        df = inputs[0]
        column = config.get("column", "json")
        if column not in df.columns:
            raise ExecutionError(f"split_json: no column '{column}'")
        schema = config.get("schema")
        if not schema:
            sample = df.select(column).filter(
                F.col(column).isNotNull()).limit(1).collect()
            if not sample:
                raise ExecutionError(
                    f"split_json: column '{column}' has no non-null rows "
                    "to infer a schema from; pass config['schema']")
            schema = df.sparkSession.range(1).select(
                F.schema_of_json(F.lit(sample[0][0])).alias("s")
            ).first().s
        parsed = df.withColumn("_parsed", F.from_json(F.col(column), schema))
        keep = [c for c in df.columns if c != column]
        self._node_outputs[node_id] = parsed.select(
            *keep, F.col("_parsed.*"))

    def _exec_transform(self, node_id: str, config: dict, inputs: list) -> None:
        """transform (engine.py:202-217): fold the step list — no
        materialization between nodes, unlike the reference's CSV round-trip."""
        self._node_outputs[node_id] = apply_steps(inputs[0], config.get("steps", []))

    def _exec_validation(self, node_id: str, config: dict, inputs: list) -> None:
        """validation (engine.py:219-233): quality gate, raise below
        min_score. Computes only the score (one null-count aggregate)."""
        from etl_mark1_spark.plans.quality import quality_score

        score = quality_score(inputs[0])
        min_score = config.get("min_score", 50)
        if score < min_score:
            raise ExecutionError(
                f"Quality score {score} below minimum {min_score}")
        self._node_outputs[node_id] = inputs[0]

    def _exec_conditional(self, node_id: str, config: dict, inputs: list) -> None:
        """conditional_branch — real semantics (reference pass-through,
        engine.py:311-314): rows matching ``condition`` flow downstream;
        ``mode="gate"`` instead passes everything iff any row matches."""
        df: DataFrame = inputs[0]
        condition = config.get("condition")
        if not condition:
            self._node_outputs[node_id] = df
            return
        if config.get("mode", "filter") == "gate":
            matched = not df.filter(condition).isEmpty()
            self._node_outputs[node_id] = df if matched else df.limit(0)
        else:
            self._node_outputs[node_id] = df.filter(condition)

    def _exec_merge(self, node_id: str, config: dict, inputs: list) -> None:
        """merge (engine.py:286-309): n-ary UNION ALL. DuckDB's UNION ALL is
        positional; ``by_name=True`` opts into the safer by-name union."""
        from functools import reduce

        dfs = [i for i in inputs if isinstance(i, DataFrame)]
        if config.get("by_name"):
            merged = reduce(
                lambda a, b: a.unionByName(
                    b, allowMissingColumns=config.get("allow_missing", False)
                ),
                dfs,
            )
        else:
            merged = reduce(lambda a, b: a.union(b), dfs)
        self._node_outputs[node_id] = merged

    def _exec_invoke_http(self, node_id: str, config: dict, inputs: list) -> None:
        """invoke_http (engine.py:244-263): driver-side control-plane call;
        optional body is a bounded sample of the upstream frame."""
        import json as _json
        import urllib.request

        url = config.get("url")
        if not url:
            raise ExecutionError("invoke_http requires 'url'")
        body = None
        if inputs and isinstance(inputs[0], DataFrame) and config.get("send_input"):
            rows = [r.asDict(recursive=True)
                    for r in inputs[0].limit(config.get("max_rows", 1000)).collect()]
            body = _json.dumps(rows, default=str).encode()
        req = urllib.request.Request(
            url, data=body, method=config.get("method", "POST" if body else "GET"),
            headers={"Content-Type": "application/json", **config.get("headers", {})},
        )
        with urllib.request.urlopen(req) as resp:  # noqa: S310
            payload = resp.read().decode()
        self._node_outputs[node_id] = payload

    def _exec_db_insert(self, node_id: str, config: dict, inputs: list) -> None:
        """db_insert (engine.py:272-278): distributed JDBC write."""
        from etl_mark1_spark.sources.writers import write_jdbc

        write_jdbc(inputs[0], config["url"], config["table"],
                   mode=config.get("mode", "append"), **config.get("options", {}))
        self._node_outputs[node_id] = inputs[0]

    def _exec_export(self, node_id: str, config: dict, inputs: list) -> None:
        """export (engine.py:280-284): adapter dispatch. ``webhook_send``
        (engine.py:265-270) runs here with ``type`` forced to webhook."""
        from etl_mark1_spark.sources.export import get_export_adapter

        adapter = get_export_adapter(config.get("type", "webhook"))
        adapter.export(inputs[0], config)
        self._node_outputs[node_id] = inputs[0]

    def _exec_file_output(self, node_id: str, config: dict, inputs: list) -> None:
        """file_output (engine.py:235-242): distributed write to the target.
        ``versioned: true`` commits an atomic snapshot version instead of
        overwriting in place (sources/versioned.py) — concurrent readers
        keep the old snapshot; ``mode: append`` becomes a rewrite-free
        O(delta) versioned append."""
        path = config.get("path") or config.get("filename", "output.csv")
        if config.get("versioned"):
            from etl_mark1_spark.sources.versioned import write_version

            write_version(inputs[0], path,
                          mode=config.get("mode", "overwrite"),
                          note=config.get("note", f"node {node_id}"))
            self._node_outputs[node_id] = path
            return
        from etl_mark1_spark.sources.writers import write_file

        write_file(inputs[0], path, config.get("format"),
                   mode=config.get("mode", "overwrite"),
                   single_file=config.get("single_file", False))
        self._node_outputs[node_id] = path

    def _exec_shard_output(self, node_id: str, config: dict,
                           inputs: list) -> None:
        """shard_output: the curation pipeline's training-shard sink
        (sources/writers.py:write_training_shards) as a DAG node —
        deterministic md5-of-id shard membership, within-shard sort,
        commit-last manifest. Config: path (required), num_shards,
        id_col, order_col."""
        path = config.get("path")
        if not path:
            raise ExecutionError("Shard output node requires a path")
        from etl_mark1_spark.sources.writers import write_training_shards

        manifest = write_training_shards(
            inputs[0], path,
            num_shards=int(config.get("num_shards", 64)),
            id_col=config.get("id_col", "doc_id"),
            order_col=config.get("order_col"))
        self._node_outputs[node_id] = path
        self._node_outputs[f"{node_id}__manifest"] = manifest

    # -- graph -----------------------------------------------------------

    def _get_inputs(self, node_id: str, edges: list[dict]) -> list:
        """Upstream outputs in edge order (engine.py:316-324)."""
        return [
            self._node_outputs[e["source"]]
            for e in edges
            if e.get("target") == node_id and e.get("source") in self._node_outputs
        ]

    @classmethod
    def _topo_levels(cls, nodes: list[dict],
                     edges: list[dict]) -> list[list[dict]]:
        """Kahn's algorithm grouped into dependency levels: every node in
        level k has all dependencies in levels < k, so nodes within one
        level are mutually independent and safe to run concurrently.
        A cycle raises ExecutionError (the reference's sort,
        engine.py:326-353, silently truncates cyclic graphs)."""
        node_map = {n["id"]: n for n in nodes}
        in_degree = {nid: 0 for nid in node_map}
        adjacency: dict[str, list[str]] = {nid: [] for nid in node_map}
        for edge in edges:
            src, tgt = edge["source"], edge["target"]
            # count an edge only when BOTH endpoints are known nodes: a
            # dangling edge (common after node deletion in React-Flow
            # graphs) must not strand its target at in-degree > 0 and
            # masquerade as a cycle
            if src in adjacency and tgt in in_degree:
                adjacency[src].append(tgt)
                in_degree[tgt] += 1
        frontier = sorted(nid for nid, deg in in_degree.items() if deg == 0)
        levels, seen = [], 0
        while frontier:
            levels.append([node_map[nid] for nid in frontier])
            seen += len(frontier)
            nxt: set[str] = set()
            for nid in frontier:
                for neighbor in adjacency.get(nid, []):
                    in_degree[neighbor] -= 1
                    if in_degree[neighbor] == 0:
                        nxt.add(neighbor)
            frontier = sorted(nxt)
        if seen != len(nodes):
            cyclic = sorted(nid for nid, deg in in_degree.items() if deg > 0)
            raise ExecutionError(
                f"pipeline graph has a cycle involving: {cyclic}")
        return levels
