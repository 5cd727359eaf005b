#!/usr/bin/env python3
"""Layered benchmark of pumle_spark: one closed-loop client, one workload,
one Spark session per process.

Usage, from the repository root:

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

A run builds its inputs (the generated tables once per checkout, or a bronze
fleet from ``--seed``), sets the session up once (gateway JVM launch,
``get_spark`` and a warm scan of the inputs), runs one cold pass over the
workload's ops, checks every op's output, runs the warm passes ``--seconds``
holds, and prints one JSON object as its last stdout line. The seed also
permutes the op order of every warm pass.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced warm passes, reports the per-layer metrics of the traced
ones plus the tracing overhead, and writes spans and per-op counters to
``.bench_build/perfbench/traces/``. The exit code is non-zero when any op
failed or failed its output check.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = REPO / ".bench_build" / "perfbench"

WORKLOADS = ("headline", "pumle_etl")
# nominal warm pass wall time (4 vCPUs, local[4]): a run makes
# round(--seconds / this) warm passes
REFERENCE_PASS_S = {"headline": 2.0, "pumle_etl": 5.0}
# a traced run makes at least this many traced and as many untraced passes
MIN_TRACE_PASSES = 2

END_TO_END = {
    "setup_s": "s",
    "cold_wall_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
}

# summed over the ops of a traced warm pass, median over those passes
_SUMMED = {
    "workload.build_s": "s",
    "workload.build_jobs": "count",
    "plans.plan_s": "s",
    "plans.exchanges": "count",
    "plans.python_nodes": "count",
    "execution.action_s": "s",
    "execution.jobs": "count",
    "execution.stages": "count",
    "execution.tasks": "count",
    "execution.executor_cpu_s": "s",
    "execution.shuffle_read_mb": "MB",
    "execution.shuffle_write_mb": "MB",
    "execution.spill_mb": "MB",
    "execution.gc_s": "s",
    "execution.failed_tasks": "count",
    "python.worker_s": "s",
    "python.boot_s": "s",
    "python.sent_mb": "MB",
    "python.recv_mb": "MB",
    "streaming.op_s": "s",
    "ingest.build_s": "s",
    "ingest.write_golden_s": "s",
    "plume.size_over_time_s": "s",
    "plume.centroid_s": "s",
    "plume.saturation_deltas_s": "s",
    "exports.tabular_csv_s": "s",
    "exports.tensors_s": "s",
    "sweep.generate_variations_s": "s",
    "catalog.register_s": "s",
    "catalog.update_status_s": "s",
    "catalog.pending_s": "s",
    "bench.self_s": "s",
}
PER_LAYER = {
    "memory.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "tables.warm_scan_s": "s",
    **_SUMMED,
    "execution.core_util": "ratio",
    "ingest.golden_rows_per_s": "1/s",
    "ingest.golden_files": "count",
    "exports.bytes": "B",
    "storage.stored_bytes_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
}

# span name -> layer metric it adds to
_SPAN_METRIC = {
    "workload.build": "workload.build_s",
    "plans.plan": "plans.plan_s",
    "execution.action": "execution.action_s",
    "ingest.build": "ingest.build_s",
}


def _isolate(run_dir: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside run_dir."""
    tmp, local = run_dir / "tmp", run_dir / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # the short-lived launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"


def _make_workload(name: str, run_dir: Path, seed: int):
    import workloads

    if name == "headline":
        return workloads.QueryWorkload(workloads.headline_ops(), str(WORK))
    return workloads.EtlWorkload(str(run_dir), seed)


def _peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this Python process's."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def _shutdown(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    def __init__(self, args, run_dir: Path) -> None:
        from tracing import Spans

        self.args = args
        self.wl = _make_workload(args.workload, run_dir, args.seed)
        self.spans = Spans()
        self.ops: list = []
        self.passes: list[dict] = []
        self.failed_checks: dict[str, str] = {}  # op name -> why its output check failed
        self.setup_s = (0.0, 0.0)  # (get_spark incl. JVM launch, warm scan)
        self.rest = None
        self.spark = None
        self.rng = random.Random(args.seed)
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> None:
        """The first ``get_spark`` of the process, which launches the gateway
        JVM as every CLI invocation does, then a warm scan of the inputs."""
        from pumle_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.wl.warm(self.spark)
        self.setup_s = (t1 - t0, time.perf_counter() - t1)
        if self.args.trace:
            from tracing import SparkRest

            self.rest = SparkRest(self.spark)
            self.rest.skip()

    # -- passes ---------------------------------------------------------------

    def _tagger(self, op_id: int, traced: bool):
        sc = self.spark.sparkContext

        def tag(phase: str) -> None:
            if traced:
                sc.setJobGroup(f"op{op_id}/{phase}", self.ops[op_id].name)

        return tag

    def _untag(self) -> None:
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    def run_pass(self, pass_no: int, traced: bool) -> None:
        """Run every op once. The cold pass keeps the workload's own order:
        whichever op runs first pays the JVM's and Python workers' first-use
        costs, so a fixed order keeps cold_wall_s comparable across seeds.
        Warm passes run in a seeded order. Pipeline steps check their output
        right after their cold execution, untimed."""
        from workloads import Op

        order = self.wl.names if pass_no == 0 else self.wl.pass_order(self.rng)
        for name in order:
            op = Op(name, pass_no, traced)
            op_id = len(self.ops)
            self.ops.append(op)
            check = None
            with self.spans.span(f"op {name}", op=op_id) as span:
                op.span_id = span.id
                try:
                    check = self.wl.run_op(self.spark, op, self.spans, self._tagger(op_id, traced))
                except Exception as exc:  # a failed op is counted, the run goes on
                    op.failed, op.error = True, repr(exc)
                    traceback.print_exc()
            op.latency = span.duration
            if traced:
                self._untag()
                counters = self.rest.collect()
                groups = counters.pop("job_groups").values()
                counters["execution.jobs"] = len(groups)
                counters["workload.build_jobs"] = sum(1 for g in groups if g and g.endswith("/build"))
                op.counters.update(counters)
            if check is not None and pass_no == 0:
                try:
                    problem = check()
                except Exception as exc:
                    problem = f"check raised {exc!r}"
                if problem:
                    self.failed_checks[name] = problem
            if self.rest is not None:
                self.rest.skip()  # jobs started by checks or untraced ops belong to no op
            if op.failed:
                print(f"FAILED {name} (pass {pass_no}): {op.error}", file=sys.stderr)
        stats = self.wl.pass_stats()
        self.wl.cleanup_pass()
        wall = sum(op.latency for op in self.ops if op.pass_no == pass_no)
        self.passes.append({"pass": pass_no, "traced": traced, "wall": wall, **stats})

    def measure(self) -> None:
        """The cold pass, the output checks, then the warm passes
        ``--seconds`` holds at the reference pass time; a traced run makes
        one uncounted settling pass, then alternates at least
        ``MIN_TRACE_PASSES`` traced and as many untraced passes. The checks
        run every op once more, so they also warm the JVM up. The pass count
        does not depend on how fast this run goes, so both sides of an A/B
        do the same work and draw the same number of op samples."""
        self.run_pass(0, traced=bool(self.args.trace))
        self.check()
        n_warm = max(1, round(self.args.seconds / REFERENCE_PASS_S[self.args.workload]))
        if self.args.trace:
            # the first warm pass after the checks runs slower; keep it out
            # of the traced/untraced comparison
            self.run_pass(-1, traced=False)
            n_warm = max(n_warm, 2 * MIN_TRACE_PASSES)
        for k in range(n_warm):
            self.run_pass(k + 1, traced=bool(self.args.trace) and k % 2 == 0)

    def check(self) -> None:
        """Registry queries are checked here, pipeline steps in the cold
        pass; a failed check counts every execution of that op as failed."""
        self.failed_checks.update({n: p[0] for n, p in self.wl.check_all(self.spark).items() if p})
        for name, why in self.failed_checks.items():
            print(f"CHECK FAILED {name}: {why}", file=sys.stderr)

    # -- metrics --------------------------------------------------------------

    def end_to_end(self) -> tuple[dict[str, float], str]:
        from tracing import tail_percentile

        warm_ops = [op.latency for op in self.ops if op.pass_no > 0]
        pct, tail, n = tail_percentile(warm_ops)
        values = {
            "setup_s": sum(self.setup_s),
            "cold_wall_s": self.passes[0]["wall"],
            "wall_s": self.pass_wall({p["pass"] for p in self.passes if p["pass"] > 0}),
            "op_p50_s": statistics.median(warm_ops),
            "op_tail_s": tail,
        }
        return values, f"op_tail_s is p{pct:.1f} of {n} warm op latencies"

    def pass_wall(self, pass_nos) -> float:
        """The median pass over ``pass_nos``, taken op by op: the sum over
        ops of each op's median latency. One slow op in one pass moves it
        less than it moves a median of pass sums."""
        latencies: dict[str, list[float]] = {}
        for op in self.ops:
            if op.pass_no in pass_nos:
                latencies.setdefault(op.name, []).append(op.latency)
        return sum(statistics.median(v) for v in latencies.values())

    def _pass_layers(self, pass_no: int) -> dict[str, float]:
        from tracing import self_times

        own = self_times(self.spans.spans)
        out = {name: 0.0 for name in _SUMMED}
        run_s = lat = 0.0
        for op in (o for o in self.ops if o.pass_no == pass_no):
            lat += op.latency
            for child in self.spans.children(op.span_id):
                metric = _SPAN_METRIC.get(child.name)
                if metric:
                    out[metric] += child.duration
                if op.name == "ingest" and child.name == "execution.action":
                    out["ingest.write_golden_s"] += child.duration
            if f"{op.name}_s" in out and op.name != "ingest":
                out[f"{op.name}_s"] += op.latency
            if op.name.startswith("stream"):
                out["streaming.op_s"] += op.latency
            out["bench.self_s"] += own[op.span_id]
            for k, v in op.counters.items():
                if k in out:
                    out[k] += v
            run_s += op.counters.get("execution.executor_run_s", 0.0)
            if op.name == "ingest" and op.latency > 0:
                out["ingest.golden_rows_per_s"] = self.wl.fleet.golden_rows() / op.latency
        out["execution.core_util"] = run_s / (lat * self.cores) if lat else 0.0
        return out

    def per_layer(self) -> dict[str, float]:
        traced = [p for p in self.passes if p["pass"] > 0 and p["traced"]]
        untraced = [p for p in self.passes if p["pass"] > 0 and not p["traced"]]
        rows = [{**self._pass_layers(p["pass"]), **{k: v for k, v in p.items() if k in PER_LAYER}}
                for p in traced]
        values = {name: statistics.median(r.get(name, 0.0) for r in rows) for name in PER_LAYER}
        values["memory.peak_rss_mb"] = _peak_rss_mb(self.spark)
        values["session.get_spark_s"], values["tables.warm_scan_s"] = self.setup_s
        values["trace.overhead_ratio"] = (
            self.pass_wall({p["pass"] for p in traced})
            / self.pass_wall({p["pass"] for p in untraced}) - 1.0
        )
        return values

    def write_trace(self, metrics: dict) -> Path:
        from tracing import self_times

        out_dir = WORK / "traces"
        out_dir.mkdir(parents=True, exist_ok=True)
        path = out_dir / f"{self.args.workload}-seed{self.args.seed}-trace{self.args.trace}.json"
        own = self_times(self.spans.spans)
        ops = [
            {"op": i, "name": op.name, "pass": op.pass_no, "traced": op.traced,
             "latency_s": op.latency, "self_s": own[op.span_id],
             "failed": op.failed or op.name in self.failed_checks,
             "error": op.error or self.failed_checks.get(op.name, ""), "counters": op.counters}
            for i, op in enumerate(self.ops)
        ]
        self.spans.dump(str(path), {"workload": self.args.workload, "seed": self.args.seed,
                                    "setup_s": self.setup_s, "passes": self.passes,
                                    "ops": ops, "metrics": metrics})
        return path


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    WORK.mkdir(parents=True, exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix="run-", dir=WORK))
    _isolate(run_dir)
    sys.path[:0] = [str(HERE), str(REPO)]
    runner = None
    t0 = time.perf_counter()

    def phase(what: str) -> None:
        print(f"[{time.perf_counter() - t0:7.2f} s] {what}", file=sys.stderr, flush=True)

    try:
        runner = Runner(args, run_dir)
        print(f"{args.workload}: {runner.wl.describe()}", flush=True)
        phase("inputs ready")
        runner.setup()
        phase("set up")
        runner.measure()
        phase(f"measured {len(runner.passes)} passes")
        if args.trace:
            values, units, notes = runner.per_layer(), PER_LAYER, []
        else:
            values, note = runner.end_to_end()
            units, notes = END_TO_END, [note]
        notes.append(f"spans written to {runner.write_trace(values)}")
    finally:
        if runner is not None and runner.spark is not None:
            _shutdown(runner.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    phase("stopped")

    ops = runner.ops
    failed = sum(op.failed or op.name in runner.failed_checks for op in ops)
    print(f"{len(runner.passes)} passes ({len(runner.wl.names)} ops each), "
          f"{len(ops)} ops attempted, {failed} failed, failed_ops_ratio {failed / len(ops):.4f}")
    print("\n".join(notes))
    for name, unit in units.items():
        print(f"  {name:32s} {values[name]:14.6f} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
