"""The workloads: how each op calls the engine, and how its output
is checked afterwards.

Ops call only the engine's public functions. A query op is split into the
layers the traced run times: ``plan.build`` (the call that returns the
lazy DataFrame, including any eager driver actions), ``catalyst`` (forcing
the physical plan; traced runs only) and ``execute`` (the action). An op
that persists files is one ``write`` span around the call.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from spans import OpRecord, Recorder


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def parquet_files(path: str) -> list[str]:
    return sorted(os.path.join(root, f) for root, _, files in os.walk(path)
                  for f in files if f.endswith(".parquet"))


def run_query(recorder: Recorder, rec: OpRecord, build) -> tuple:
    """Plan, (traced: force the physical plan,) collect."""
    with recorder.layer(rec, "plan.build"):
        df = build()
    if recorder.traced:
        with recorder.layer(rec, "catalyst"):
            df._jdf.queryExecution().executedPlan()
    with recorder.layer(rec, "execute"):
        rows = [tuple(r) for r in df.collect()]
    return list(df.columns), rows


class Workload:
    """Inputs live under ``data_dir``; anything the ops write goes under
    ``out_dir``."""

    name = ""

    def __init__(self, seed: int, data_dir: str, out_dir: str):
        self.seed = seed
        self.data_dir, self.out_dir = data_dir, out_dir
        self._n_out = 0

    def fresh_dir(self, tag: str) -> str:
        self._n_out += 1
        return os.path.join(self.out_dir, f"{tag}_{self._n_out:04d}")

    def prepare(self, spark) -> None:
        """State the first op starts from (none by default)."""

    def run(self, spark, spec: dict, recorder: Recorder) -> None:
        raise NotImplementedError

    def check(self, records: list[OpRecord]) -> None:
        """Set ``rec.info["ok"]`` on every record."""
        raise NotImplementedError

    def storage(self, records: list[OpRecord]) -> tuple[int, int]:
        """(bytes left on disk by write ops, bytes of input they read)."""
        writes = [r for r in records if r.kind == "write"]
        return (sum(r.info.get("bytes", 0) for r in writes),
                sum(r.info.get("in_bytes", 0) for r in writes))

    def run_pipeline(self, spark, spec: dict, recorder: Recorder) -> None:
        """file_input -> filter + derived column -> validation -> parquet,
        with a second branch aggregating the derived column per group."""
        from etl_mark1_spark.plans.dag import PipelineExecutor

        out = self.fresh_dir("pipeline")
        src = f"{self.data_dir}/{spec['table']}.parquet"
        name, expr = spec["derive"]
        definition = {
            "nodes": [
                {"id": "in", "type": "file_input",
                 "config": {"path": src, "format": "parquet"}},
                {"id": "tf", "type": "transform", "config": {"steps": [
                    {"operator": "filter_rows",
                     "params": {"expression": spec["where"]}},
                    {"operator": "add_derived_column",
                     "params": {"name": name, "expression": expr}}]}},
                {"id": "val", "type": "validation",
                 "config": {"min_score": 50}},
                {"id": "rows", "type": "file_output",
                 "config": {"path": f"{out}/rows", "format": "parquet"}},
                {"id": "agg", "type": "transform", "config": {"steps": [
                    {"operator": "aggregate", "params": {
                        "group_by": [spec["group"]],
                        "aggregations": {name: "sum"}}}]}},
                {"id": "sum", "type": "file_output",
                 "config": {"path": f"{out}/agg", "format": "parquet"}},
            ],
            "edges": [{"source": "in", "target": "tf"},
                      {"source": "tf", "target": "val"},
                      {"source": "val", "target": "rows"},
                      {"source": "tf", "target": "agg"},
                      {"source": "agg", "target": "sum"}],
        }
        with recorder.op(spec, "write") as rec:
            rec.info.update(out=out, in_bytes=os.path.getsize(src))
            with recorder.layer(rec, "write"):
                report = PipelineExecutor(
                    spark, parallel_branches=True).execute(definition)
            rec.payload = report.status
            rec.info["nodes"] = [(log.node_type, log.duration_s,
                                  log.attempts, log.status)
                                 for log in report.node_logs]
        rec.info["files"], rec.info["bytes"] = dir_stats(out)

    @staticmethod
    def pipeline_ok(con, rec: OpRecord) -> bool:
        """Both outputs, read back from disk, against DuckDB over the
        input table."""
        import checks

        spec = rec.spec
        name, expr = spec["derive"]
        if rec.payload != "succeeded" or any(
                s != "succeeded" for *_, s in rec.info["nodes"]):
            return False
        out = rec.info["out"]
        got_rows = checks.fetch(
            con, f"SELECT count(*) AS n, sum({name}) AS s FROM "
                 f"read_parquet('{out}/rows/*.parquet')")
        want_rows = checks.fetch(
            con, f"SELECT count(*) AS n, sum({expr}) AS s FROM "
                 f"{spec['table']} WHERE {spec['where']}")
        got_agg = checks.fetch(
            con, f"SELECT * FROM read_parquet('{out}/agg/*.parquet')")
        want_agg = checks.fetch(
            con, f"SELECT {spec['group']}, sum({expr}) AS {name}_sum "
                 f"FROM {spec['table']} WHERE {spec['where']} "
                 f"GROUP BY {spec['group']}")
        return (checks.same_rows(*got_rows, *want_rows)
                and checks.same_rows(*got_agg, *want_agg))


class TextCuration(Workload):
    """The gram/shingle operator family run to completion, beside one
    curation pipeline run over the same corpus."""

    name = "text_curation"

    def run(self, spark, spec, recorder):
        from etl_mark1_spark.catalog import QUERIES

        if spec["kind"] == "pipeline":
            self.run_pipeline(spark, spec, recorder)
            return
        entry = QUERIES[spec["entry"]]
        with recorder.op(spec, "query") as rec:
            rec.payload = run_query(recorder, rec,
                                    lambda: entry(spark, self.data_dir))

    def check(self, records):
        import checks

        path = f"{self.data_dir}/documents.parquet"
        con = checks.connect({"documents": path})
        docs = dict(con.execute(
            "SELECT doc_id, text FROM documents").fetchall())
        expected: dict[str, tuple] = {}
        for rec in records:
            if rec.kind == "write":
                rec.info["ok"] = (rec.error is None
                                  and self.pipeline_ok(con, rec))
                continue
            entry = rec.spec["entry"]
            if entry not in expected:
                expected[entry] = checks.text_expected(con, entry, docs)
            rec.info["ok"] = (rec.error is None and checks.same_rows(
                *rec.payload, *expected[entry]))
        con.close()


class IndexLifecycle(Workload):
    """Ingest, query, delete and compact a persisted search index."""

    name = "index_lifecycle"

    def __init__(self, *args):
        super().__init__(*args)
        self.index = ""
        self.segments = 0
        self.live: set[int] = set()
        #: every doc in the index's segments, tombstoned ones included
        self.indexed: set[int] = set()
        self.batches: dict[str, list[int]] = {}

    def prepare(self, spark):
        """A new index holding the corpus' base segment."""
        from etl_mark1_spark.operators.indexing import write_search_index
        from etl_mark1_spark.sources.readers import read_file

        n_docs = pq.read_metadata(
            f"{self.data_dir}/documents.parquet").num_rows
        self.batches = gen.index_batches(self.seed, n_docs)
        self.live = set(self.batches["base"])
        self.indexed = set(self.live)
        self.index = self.fresh_dir("index")
        write_search_index(read_file(spark, f"{self.data_dir}/base.parquet"),
                           self.index)
        self.segments = 1

    def run(self, spark, spec, recorder):
        from etl_mark1_spark.operators import indexing, retrieval
        from etl_mark1_spark.sources.readers import read_file

        kind = spec["kind"]
        before = dir_stats(self.index)
        if kind == "query":
            q = spec["query"]
            if q == "bm25":
                build = lambda: indexing.bm25_search_persisted(  # noqa: E731
                    spark, self.index, spec["terms"])
            elif q == "maxscore":
                build = lambda: indexing.bm25_maxscore_search(  # noqa: E731
                    spark, self.index, spec["terms"])
            elif q == "query_string":
                qstr = " ".join([f"+{t}" for t in spec["must"]]
                                + spec["should"]
                                + [f"-{t}" for t in spec["must_not"]])
                build = lambda: retrieval.search_query_persisted(  # noqa: E731
                    spark, self.index, qstr)
            else:
                build = lambda: retrieval.prf_search_persisted(  # noqa: E731
                    spark, self.index, spec["terms"])
            with recorder.op(spec, "query") as rec:
                rec.payload = run_query(recorder, rec, build)
            rec.info.update(segments=self.segments, files=before[0],
                            live=sorted(self.live),
                            indexed=sorted(self.indexed))
            return
        with recorder.op(spec, "write") as rec:
            with recorder.layer(rec, "write"):
                if kind == "ingest":
                    path = f"{self.data_dir}/{spec['batch']}.parquet"
                    rec.info["in_bytes"] = os.path.getsize(path)
                    indexing.write_search_index(read_file(spark, path),
                                                self.index)
                elif kind == "delete":
                    indexing.delete_from_index(spark, self.index,
                                               spec["doc_ids"])
                elif kind == "compact":
                    old, self.index = self.index, self.fresh_dir("index")
                    indexing.compact_index(spark, old, self.index)
                else:
                    raise ValueError(f"unknown op kind {kind!r}")
        if kind == "ingest":
            self.segments += 1
            self.live.update(self.batches[spec["batch"]])
            self.indexed.update(self.batches[spec["batch"]])
        elif kind == "delete":
            self.live.difference_update(spec["doc_ids"])
        elif kind == "compact":
            # the old index stays on disk until the run ends; later ops
            # add files to the new one, so remember the compacted files
            rec.info.update(live=sorted(self.live), **{
                part: parquet_files(f"{self.index}/{part}")
                for part in ("postings", "stats")})
            self.indexed = set(self.live)
            self.segments = 1
        after = dir_stats(self.index)
        rec.info["files"] = after[0] - (0 if kind == "compact" else before[0])
        rec.info["bytes"] = after[1] - (0 if kind == "compact" else before[1])

    def storage(self, records):
        user = os.path.getsize(f"{self.data_dir}/base.parquet") + sum(
            r.info.get("in_bytes", 0) for r in records)
        return dir_stats(self.index)[1], user

    def check(self, records):
        import checks

        con = checks.connect({"corpus": f"{self.data_dir}/documents.parquet"})
        for rec in records:
            if rec.spec["kind"] == "compact":
                rec.info["ok"] = rec.error is None and self.compacted_ok(
                    con, rec)
                continue
            if rec.kind == "write":
                # an ingest or delete shows in the queries that follow it
                rec.info["ok"] = rec.error is None
                continue
            for view, ids in (("documents", rec.info["live"]),
                              ("indexed", rec.info["indexed"])):
                con.register(f"{view}_ids", pa.table({"id": ids}))
                con.execute(f"CREATE OR REPLACE VIEW {view} AS SELECT * "
                            f"FROM corpus WHERE doc_id IN "
                            f"(SELECT id FROM {view}_ids)")
            _, want = checks.fetch(con, checks.index_query_sql(rec.spec))
            rec.info["ok"] = rec.error is None and checks.ranked_equal(
                rec.payload[1], want)
        con.close()

    @staticmethod
    def compacted_ok(con, rec) -> bool:
        """The compacted index holds exactly the live documents."""
        ids = {i for (i,) in con.execute(
            "SELECT DISTINCT doc_id FROM read_parquet(?)",
            [rec.info["postings"]]).fetchall()}
        (n_docs,), = con.execute("SELECT sum(n_docs) FROM read_parquet(?)",
                                 [rec.info["stats"]]).fetchall()
        return ids == set(rec.info["live"]) and n_docs == len(ids)


WORKLOADS = {w.name: w for w in (TextCuration, IndexLifecycle)}
