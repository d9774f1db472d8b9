"""The benchmark's own tests.

    python3 -m pytest perfbench/ -q

Seeded inputs and op lists repeat byte for byte, every metric the
benchmark prints is declared in BENCHMARK.json (and placed in the layer
table), and a smoke run of every workload on tiny inputs passes its
output checks.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import pytest

import run  # first: puts the repository and scripts/ on sys.path
import gen
import report
from spans import Job, OpRecord, Recorder
from workloads import WORKLOADS

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
with open(os.path.join(run.HERE, "layers.json")) as _fh:
    LAYERS = json.load(_fh)


def _digest(directory: str) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(directory, f), "rb")
                              .read()).hexdigest()
            for f in sorted(os.listdir(directory))}


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_same_inputs_and_ops(workload, tmp_path):
    dirs = {}
    for tag, seed in (("a", 5), ("b", 5), ("c", 6)):
        dirs[tag] = str(tmp_path / tag)
        gen.write_inputs(workload, seed, dirs[tag], tiny=True)
    assert _digest(dirs["a"]) == _digest(dirs["b"])
    assert _digest(dirs["a"]) != _digest(dirs["c"])

    def ops(seed):
        return json.dumps(gen.op_rounds(workload, seed, 2))

    assert ops(5) == ops(5)
    assert ops(5) != ops(6)


def test_text_corpus_is_a_rotated_prefix():
    """The text corpus keeps the fixture's lengths and duplicate
    structure; only the letters and doc ids move with the seed."""
    base = gen.corpus(gen.TEXT_DOCS)
    a = gen.rotated_replica(base, gen.text_replica(3))
    assert a.equals(gen.rotated_replica(base, gen.text_replica(3)))
    assert not a.equals(gen.rotated_replica(base, gen.text_replica(4)))
    assert a["doc_id"].to_pylist()[0] == 3 * gen.CORPUS_DOCS
    texts = base["text"].to_pylist()
    rotated = a["text"].to_pylist()
    assert [len(t) for t in rotated] == [len(t) for t in texts]
    assert len(set(rotated)) == len(set(texts))
    assert gen.rotated_replica(base, 0).equals(base)


def _fake_run():
    """Op records of every kind, with one job each, as a traced run of
    any workload would produce them."""
    records, jobs = [], []
    specs = ([{"kind": "text", "entry": e} for e in gen.TEXT_ENTRIES]
             + [{"kind": "query", "query": q} for q in gen.QUERY_KINDS]
             + [{"kind": k} for k in ("ingest", "delete", "compact")]
             + [{"kind": "pipeline"}])
    t = 1000.0
    for i, spec in enumerate(specs):
        kind = "query" if spec["kind"] in ("text", "query") else "write"
        rec = OpRecord(spec=spec, kind=kind, start=t, end=t + 1.0, cpu=1.5)
        if kind == "query":
            rec.spans = [("plan.build", t, t + 0.2), ("catalyst", t + 0.2,
                                                      t + 0.3),
                         ("execute", t + 0.3, t + 1.0)]
        else:
            rec.spans = [("write", t, t + 1.0)]
            rec.info["nodes"] = [(n, 0.1, 1, "succeeded")
                                 for n in report.DAG_TYPES]
        if spec["kind"] == "query":
            rec.info.update(segments=2, files=10)
        rec.info["ok"] = True
        job = Job(i, t + 0.5, t + 0.9, stages={i})
        job.tasks.append({"finish": t + 0.9, "run_s": 0.3, "gc_s": 0.0,
                          "read_b": 10, "shuffle_read_b": 0,
                          "shuffle_write_b": 0, "spill_b": 0})
        records.append(rec)
        jobs.append(job)
        t += 2.0
    return records, jobs


def test_every_metric_is_declared():
    records, jobs = _fake_run()
    e2e = report.end_to_end(records, 20.0)
    host = {f"host.probe_{k}_s": 0.5 for k in ("st_before", "mt_before",
                                                "st_after", "mt_after")}
    layers, problems = report.per_layer(
        records, records, jobs, [],
        {"jvm_start_s": 5.0, "warmup_s": 9.0, "peak_rss_mb": 1000.0}, 0.01,
        (10, 5), host)
    assert problems == {}
    assert set(e2e) == {m["name"] for m in SPEC["end_to_end"]}
    assert set(layers) == {m["name"] for m in SPEC["per_layer"]}
    assert all(v > 0 for v in e2e.values())
    declared = {p["layer"] for p in LAYERS["predictions"]}
    declared |= set(LAYERS["not_gated"])
    assert declared == set(layers)
    workloads = {w["name"] for w in SPEC["workloads"]}
    assert workloads == set(gen.WORKLOADS)
    assert all(set(p["on"]) <= workloads for p in LAYERS["predictions"])


def test_stray_job_and_span_gap_are_problems():
    records, jobs = _fake_run()
    jobs.append(Job(99, records[-1].end + 5.0, records[-1].end + 6.0))
    records[0].spans = records[0].spans[:1]
    _, problems = report.per_layer(
        records, records, jobs, [],
        {"jvm_start_s": 5.0, "warmup_s": 9.0, "peak_rss_mb": 1000.0}, 0.0,
        (0, 0), {})
    assert problems["unattributed_jobs"] == [99]
    assert [p["op"] for p in problems["span_sum_off"]] == [0]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.isolate(str(tmp_path_factory.mktemp("spark")))
    session = run.start_session()
    yield session
    run.shutdown(session)


def test_smoke_all_workloads(spark, tmp_path):
    """One round of every workload (every op shape) on sf0.001-sized
    inputs, in one session, outputs checked."""
    started = time.time()
    for name in gen.WORKLOADS:
        data = str(tmp_path / name)
        gen.write_inputs(name, 1, data, tiny=True)
        workload = WORKLOADS[name](1, data, str(tmp_path / name / "out"))
        recorder = Recorder(traced=True)
        workload.prepare(spark)
        for spec in gen.op_rounds(name, 1, 1, gen.TINY_DOCS)[0]:
            workload.run(spark, spec, recorder)
        workload.check(recorder.records)
        bad = [(r.spec, r.error) for r in recorder.records
               if not r.info.get("ok")]
        assert recorder.records and not bad, (name, bad)
    print(f"smoke run: {time.time() - started:.1f} s")
