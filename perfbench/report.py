"""End-to-end and per-layer metrics from a run's op records.

End-to-end metrics come from untraced runs. Per-layer metrics come from
the traced run's spans and event log; each is a mean per op over the ops
it applies to (0 where the workload has none), so every workload reports
every name. The throughput, latency, tail and failed-op metrics are the
exception: they come from the untraced half of the traced run, which has
no event log and no extra planning call per query. ``layers.json`` says
which end-to-end metric each one should move, on which workload.
"""

from __future__ import annotations

import json
import os
import statistics

import gen
from spans import OpRecord, attribute, covered, span_total

TOP_LAYERS = ("plan.build", "catalyst", "execute", "write")
DAG_TYPES = ("file_input", "transform", "validation", "file_output")
#: an op's layer spans must add up to its wall time within this share
SPAN_TOLERANCE = 0.10


def units() -> dict[str, str]:
    """Metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are ten samples or fewer."""
    xs = sorted(xs)
    if not xs:
        return 0.0, 0.0
    if len(xs) <= 10:
        return xs[-1], 100.0
    return xs[len(xs) - 11], 100.0 * (len(xs) - 10) / len(xs)


def shape(spec: dict) -> str:
    """The op shape: every round of a workload runs each shape once."""
    return f"{spec['kind']}:{spec.get('entry') or spec.get('query') or ''}"


def mix(records: list[OpRecord]) -> tuple[float, float]:
    """(ops per second, CPU seconds per op) of one round's op mix, from
    each shape's mean over ``records``. A window that ends inside a round
    then weighs every shape once, as a whole round would."""
    walls: dict[str, list[float]] = {}
    cpus: dict[str, list[float]] = {}
    for r in records:
        walls.setdefault(shape(r.spec), []).append(r.wall)
        cpus.setdefault(shape(r.spec), []).append(r.cpu)
    return (len(walls) / sum(map(_mean, walls.values())),
            sum(map(_mean, cpus.values())) / len(cpus))


def end_to_end(records: list[OpRecord], setup_s: float) -> dict:
    return {"setup_s": setup_s, "cpu_s_per_op": mix(records)[1]}


def per_layer(records: list[OpRecord], untraced: list[OpRecord],
              jobs: list, setup_windows: list, session: dict,
              overhead_frac: float, storage: tuple[int, int],
              host: dict) -> tuple[dict, dict]:
    """(metrics, problems) from the traced ``records`` and the
    ``untraced`` ones; problems lists jobs no op or setup window covers
    and traced ops whose layer spans miss their wall time."""
    by_op, stray = attribute(jobs, records, setup_windows)
    ops = list(zip(records, (by_op[i] for i in range(len(records)))))
    all_jobs = [j for _, js in ops for j in js]

    def tasks(js):
        return [t for j in js for t in j.tasks]

    def per_op(fn, kinds=None):
        return _mean(fn(r, js) for r, js in ops
                     if kinds is None or r.kind in kinds)

    def in_span(rec, js, name):
        spans = [(s, e) for n, s, e in rec.spans if n == name]
        return [j for j in js if any(s <= j.submit <= e + 1e-3
                                     for s, e in spans)]

    def commit_s(rec, js):
        ends = [t["finish"] for t in tasks(js)]
        return max(0.0, rec.end - max(ends)) if ends else 0.0

    queries = [r for r in records if r.kind == "query"]
    writes = [r for r in records if r.kind == "write"]
    q_walls = [r.wall for r in untraced if r.kind == "query"]
    w_walls = [r.wall for r in untraced if r.kind == "write"]
    q_tail, q_pct = tail(q_walls)
    w_tail, w_pct = tail(w_walls)
    m = {
        "session.jvm_start_s": session["jvm_start_s"],
        "session.warmup_s": session["warmup_s"],
        "peak_rss_mb": session["peak_rss_mb"],
        "plan.build_s": _mean(span_total(r, "plan.build") for r in queries),
        "plan.eager_jobs": _mean(len(in_span(r, js, "plan.build"))
                                 for r, js in ops if r.kind == "query"),
        "catalyst.plan_s": _mean(span_total(r, "catalyst") for r in queries
                                 if any(n == "catalyst" for n, *_ in r.spans)),
        "exec.jobs": per_op(lambda r, js: len(js)),
        "exec.stages": per_op(lambda r, js: sum(len(j.stages) for j in js)),
        "exec.tasks": per_op(lambda r, js: len(tasks(js))),
        "exec.single_task_job_frac": _mean(len(j.tasks) == 1
                                           for j in all_jobs),
        "exec.driver_gap_s": per_op(lambda r, js: r.wall - covered(
            [(j.submit, j.end) for j in js], r.start, r.end)),
        "exec.task_s": per_op(lambda r, js: sum(
            t["run_s"] for t in tasks(js))),
        "exec.busy_cores": (sum(t["run_s"] for t in tasks(all_jobs))
                            / sum(r.wall for r in records)
                            if records else 0.0),
        "exec.gc_s": per_op(lambda r, js: sum(t["gc_s"] for t in tasks(js))),
        "exec.shuffle_read_mb": per_op(lambda r, js: sum(
            t["shuffle_read_b"] for t in tasks(js)) / 1e6),
        "exec.shuffle_write_mb": per_op(lambda r, js: sum(
            t["shuffle_write_b"] for t in tasks(js)) / 1e6),
        "exec.spill_mb": per_op(lambda r, js: sum(
            t["spill_b"] for t in tasks(js)) / 1e6),
        "readers.scan_mb": per_op(lambda r, js: sum(
            t["read_b"] for t in tasks(js)) / 1e6),
        "writers.write_s": _mean(span_total(r, "write") for r in writes),
        "writers.commit_s": per_op(commit_s, ("write",)),
        "writers.files_written": _mean(r.info.get("files", 0)
                                       for r in writes),
        "writers.bytes_written": _mean(r.info.get("bytes", 0)
                                       for r in writes),
        "query_p50_s": statistics.median(q_walls) if q_walls else 0.0,
        "query_tail_s": q_tail,
        "query_tail_pct": q_pct,
        "write_p50_s": statistics.median(w_walls) if w_walls else 0.0,
        "write_tail_s": w_tail,
        "write_tail_pct": w_pct,
        "stored_bytes_per_input_byte": (storage[0] / storage[1]
                                        if storage[1] else 0.0),
        "failed_frac": _mean(not r.info.get("ok") for r in untraced),
        "ops_per_s": mix(untraced)[0],
        "trace.overhead_frac": overhead_frac,
        **host,
    }
    pipes = [r for r in writes if r.spec["kind"] == "pipeline"]
    for t in DAG_TYPES:
        m[f"dag.node_s.{t}"] = _mean(
            sum(d for typ, d, *_ in r.info.get("nodes", []) if typ == t)
            for r in pipes)
    m["dag.retries"] = _mean(sum(a - 1 for _, _, a, _ in r.info.get(
        "nodes", [])) for r in pipes)
    for kind in ("ingest", "delete", "compact"):
        m[f"index.{kind}_s"] = _mean(r.wall for r in writes
                                     if r.spec["kind"] == kind)
    iq = [r for r in queries if r.spec["kind"] == "query"]
    for kind in gen.QUERY_KINDS:
        m[f"index.query_s.{kind}"] = _mean(r.wall for r in iq
                                           if r.spec["query"] == kind)
    m["index.segments"] = _mean(r.info["segments"] for r in iq)
    m["index.files_per_segment"] = _mean(
        r.info["files"] / r.info["segments"] for r in iq)
    for entry in gen.TEXT_ENTRIES:
        mine = [(r, js) for r, js in ops
                if r.spec.get("entry") == entry]
        m[f"text.{entry}_s"] = _mean(r.wall for r, _ in mine)
        m[f"text.{entry}_task_s"] = _mean(
            sum(t["run_s"] for t in tasks(js)) for _, js in mine)

    problems = {}
    if stray:
        problems["unattributed_jobs"] = [j.job_id for j in stray]
    off = []
    for i, r in enumerate(records):
        layers = sum(span_total(r, n) for n in TOP_LAYERS)
        if abs(r.wall - layers) > SPAN_TOLERANCE * r.wall:
            off.append({"op": i, "wall_s": r.wall, "layers_s": layers})
    if off:
        problems["span_sum_off"] = off
    return m, problems


def op_record(rec: OpRecord, jobs: list) -> dict:
    """One op of the full traced record: spans with self time, and jobs."""
    spans = []
    for name, s, e in rec.spans:
        inside = [(j.submit, j.end) for j in jobs if s <= j.submit <= e]
        spans.append({"name": name, "start": s, "end": e,
                      "self_s": (e - s) - covered(inside, s, e)})
    children = sum(span_total(rec, n) for n in TOP_LAYERS)
    return {
        "spec": {k: v for k, v in rec.spec.items() if k != "sql"},
        "kind": rec.kind, "start": rec.start, "wall_s": rec.wall,
        "self_s": rec.wall - children, "error": rec.error,
        "ok": rec.info.get("ok"), "spans": spans,
        "jobs": [{"id": j.job_id, "submit": j.submit, "end": j.end,
                  "stages": len(j.stages), "tasks": len(j.tasks),
                  "task_s": sum(t["run_s"] for t in j.tasks)}
                 for j in jobs],
    }
