"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload text_curation --seed 1 --seconds 12 --trace 0

Run from the repository root. The process generates its inputs from the
seed, then sets the engine up once and times it as ``setup_s``: engine
import, JVM and session start, the workload's starting state, and
untimed warm-up rounds of the op list (``gen.WARMUP_ROUNDS``), which run
every op shape on the real inputs (codegen and JIT compile). It then
runs on through the seeded op list in a closed loop (one client; the
next op starts when the previous one returns) until ``--seconds`` have
passed and every op shape has run, checks every op's output (warm-up
ops too), and prints one JSON line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs half the
window untraced, restarts the session with the Spark event log on, runs
the other half with layer spans, and reports the per-layer metrics; the
full record goes to ``.bench_build/perfbench/trace_<workload>_<seed>.json``.
Everything the run writes stays under ``.bench_build/`` in the current
directory, and is removed when the run ends except that record.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[1:1] = [ROOT, os.path.join(ROOT, "scripts")]

import gen  # noqa: E402
import report  # noqa: E402
from spans import Recorder, attribute, read_event_log  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: driver JVM heap, fixed well below the machine's memory so peak_rss_mb
#: tracks what the program touches rather than heap slack
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep Spark's and Python's scratch files inside ``work``; must run
    before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_EXTRA_JAVA_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")


def start_session(event_log: str | None = None):
    from etl_mark1_spark import get_spark

    cpus = os.cpu_count() or 1
    conf = {}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf = {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"}
    return get_spark(app_name="perfbench", master=f"local[{cpus}]",
                     shuffle_partitions=cpus, driver_memory=DRIVER_MEMORY,
                     extra_conf=conf)


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_probes() -> tuple[float, float]:
    """bench.py's single- and multi-thread CPU probes (host weather)."""
    import bench

    return (bench.calibration_probe(),
            bench.calibration_probe_mt(os.cpu_count() or 1))


class Run:
    """One benchmark process: set-ups, the timed window(s), the checks."""

    def __init__(self, args, work: str):
        data = os.path.join(work, "data")
        gen.write_inputs(args.workload, args.seed, data)
        self.workload = WORKLOADS[args.workload](
            args.seed, data, os.path.join(work, "out"))
        rounds = gen.op_rounds(args.workload, args.seed,
                               gen.max_rounds(args.workload))
        self.ops = iter([spec for ops in rounds for spec in ops])
        self.round_len = len(rounds[0])
        #: the op shapes; each round runs each of them once
        self.shapes = {report.shape(spec) for spec in rounds[0]}
        #: per set-up: (start, session up, warm-up done), epoch seconds
        self.setups: list[tuple[float, float, float]] = []
        #: the warm-up ops, checked with the timed ones
        self.warm = Recorder(traced=False)

    def setup(self, spark_old=None, event_log: str | None = None):
        """One set-up: (re)start the session. The first one also builds
        the starting state and warms up with whole rounds of the op list
        (every op shape, on the real inputs); a restart keeps the JVM, and
        with it the compiled code, so it needs no second warm-up."""
        if spark_old is not None:
            spark_old.stop()
        t0 = time.time()
        spark = start_session(event_log)
        t1 = time.time()
        if not self.setups:
            self.workload.prepare(spark)
            for _ in range(gen.WARMUP_ROUNDS * self.round_len):
                self.workload.run(spark, next(self.ops), self.warm)
        self.setups.append((t0, t1, time.time()))
        return spark

    def window(self, spark, recorder, seconds: float) -> None:
        """Ops in a closed loop until ``seconds`` have passed and every op
        shape has run. The window ends at an op boundary, not a round
        boundary, so its length does not jump by a round when ops slow
        down; the next window goes on from the op after. Running out of
        ops first fails the run."""
        t0, seen = time.time(), set()
        for spec in self.ops:
            self.workload.run(spark, spec, recorder)
            seen.add(report.shape(spec))
            if seen == self.shapes and time.time() - t0 >= seconds:
                return
        raise RuntimeError(f"the op list ran out {time.time() - t0:.1f} s "
                           f"into a {seconds} s window")


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.path.join(os.getcwd(), ".bench_build", "perfbench")
    work = os.path.join(root, f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    try:
        result = measure(args, work, root)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def measure(args, work: str, root: str) -> dict:
    phases: dict[str, float] = {}
    clock = [time.time()]

    def lap(name: str) -> None:
        now = time.time()
        phases[name] = phases.get(name, 0.0) + now - clock[0]
        clock[0] = now

    run = Run(args, work)
    lap("inputs")
    probe_before = host_probes()
    lap("probes")
    spark = run.setup()
    lap("setup")
    untraced = Recorder(traced=False)
    if args.trace:
        run.window(spark, untraced, args.seconds / 2)
        lap("window")
        spark = run.setup(spark, os.path.join(work, "eventlog"))
        lap("setup")
        recorder = Recorder(traced=True)
        run.window(spark, recorder, args.seconds / 2)
    else:
        recorder = untraced
        run.window(spark, recorder, args.seconds)
    records = recorder.records
    lap("window")
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    shutdown(spark)
    lap("shutdown")
    probe_after = host_probes()
    lap("probes")
    host = {"host.probe_st_before_s": probe_before[0],
            "host.probe_mt_before_s": probe_before[1],
            "host.probe_st_after_s": probe_after[0],
            "host.probe_mt_after_s": probe_after[1]}

    checked = run.warm.records + untraced.records
    if args.trace:
        checked += records
    run.workload.check(checked)
    lap("check")
    print(json.dumps({"phases_s": phases, "ops": [
        (r.spec["kind"], r.spec.get("entry") or r.spec.get("query"),
         round(r.wall, 3), round(r.cpu, 2)) for r in checked]}),
          file=sys.stderr)
    print(json.dumps({"host": host}))
    failed = [r for r in checked if not r.info.get("ok")]
    for r in failed:
        print(f"op failed: {json.dumps(r.spec)[:300]}: "
              f"{r.error or 'wrong result'}", file=sys.stderr)
    correct = not failed
    t0, t1, t2 = run.setups[0]
    if not args.trace:
        metrics = report.end_to_end(records, t2 - t0)
    else:
        ops_a = report.mix(untraced.records)[0]
        ops_b = report.mix(records)[0]
        jobs = read_event_log(os.path.join(work, "eventlog"))
        setup_windows = [(s, e) for s, _, e in run.setups[1:]]
        session = {"jvm_start_s": t1 - t0, "warmup_s": t2 - t1,
                   "peak_rss_mb": peak_rss_mb}
        metrics, problems = report.per_layer(
            records, untraced.records, jobs, setup_windows, session,
            1.0 - ops_b / ops_a, run.workload.storage(checked), host)
        by_op, _ = attribute(jobs, records, setup_windows)
        record = {"workload": args.workload, "seed": args.seed,
                  "metrics": metrics, "problems": problems,
                  "phases_s": phases,
                  "ops": [report.op_record(r, by_op[i])
                          for i, r in enumerate(records)]}
        with open(os.path.join(
                root, f"trace_{args.workload}_{args.seed}.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        if problems:
            print(f"trace problems: {json.dumps(problems)[:2000]}",
                  file=sys.stderr)
            correct = False
    units = report.units()
    return {"correct": correct, "attempted": len(checked),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}


if __name__ == "__main__":
    sys.exit(main())
