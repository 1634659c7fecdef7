"""One seeded, self-checking benchmark run of one workload.

    python3 perfbench/run.py --workload graph-small --seed 1 --seconds 15 --trace 0

Run from the repository root.  The run generates its inputs from the
seed, computes the reference outputs, starts a fresh ``local[nproc]``
session from this one driver thread, and then, in order:

1. set-up: ``session.get_spark`` plus the first input scan (``setup_s``);
2. the cold pass (``first_pass_s``);
3. ``WARMUP_PASSES`` warm-up passes, the same for every run;
4. warm passes until ``--seconds`` have passed (at least two), whose
   median is ``wall_s``;
5. with ``--trace 1`` only: one traced pass and the attribution calls,
   read back from Spark's status store (see ``trace.py``).

Every pass's outputs are checked against the references outside the
timed region.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it,
prefixed ``perfbench-summary``, holds every end-to-end metric
(``failed_ratio`` included), the host-noise readings and, when traced,
the trace consistency totals.  All files the run writes live under
``.perfbench/`` in the repository root and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if not __package__:  # run as a script: make ``perfbench`` importable
    sys.path.insert(0, ROOT)

from perfbench import gen, host, workloads  # noqa: E402
WARMUP_PASSES = 1  # fixed; it reads no timing (NOTES.md, warm-up curves)
MIN_MEASURED = 2
# below the library's 8g default: the host's memory is shared (NOTES.md)
DRIVER_MEMORY = "1g"

E2E_UNITS = {
    "wall_s": "s",
    "first_pass_s": "s",
    "rows_per_s": "rows/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` and mark the processes this run starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            host.MARKER: work,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_CONF_DIR": os.path.join(ROOT, "perfbench", "conf"),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "PYSPARK_PYTHON": sys.executable,
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    # shuffle partitions follow the core count, the library default
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)


def start_spark(work: str, trace: bool):
    from graphmapreduce_spark.session import get_spark

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.graphmapreduce.severDir": os.path.join(work, "sever"),
    }
    if trace:  # keep every job of the traced pass in the status store
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the session and its JVM, and wait for both to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Runner:
    """Runs untraced passes and keeps the tally of calls and failures."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        # the driver's peak resident set within passes: references and
        # checks run in this process too, outside them
        self.driver_peak_mb = 0.0

    def one_pass(self) -> tuple[float, float]:
        """One pass; returns (wall_s, cpu_s of the process tree)."""
        self.wl.prepare()
        host.reset_own_peak()
        c0 = host.tree_cpu_s()
        t0 = time.perf_counter()
        outputs, errors = self.wl.run_pass(workloads.NullTracer())
        wall = time.perf_counter() - t0
        cpu = host.tree_cpu_s() - c0
        self.driver_peak_mb = max(self.driver_peak_mb, host.own_peak_rss_mb())
        self.tally(outputs, errors)
        return wall, cpu

    def tally(self, outputs: dict, errors: dict) -> None:
        self.attempted += len(self.wl.ops)
        results = self.wl.check(outputs)
        for op in self.wl.ops:
            bad = [errors[op]] if op in errors else results.get(op)
            if bad is None:
                bad = ["no output"]
            if bad:
                self.failed += 1
                if len(self.problems) < 20:
                    self.problems.append(f"{op}: {bad[0]}")


def run(args, work: str) -> tuple[dict, dict]:
    cls = workloads.WORKLOADS[args.workload]
    inputs = gen.write_inputs(args.workload, args.seed, os.path.join(work, "input"))

    # set-up: the session plus the first scan, nothing warmed
    t0 = time.perf_counter()
    spark = start_spark(work, bool(args.trace))
    t1 = time.perf_counter()
    wl = cls(spark, inputs, os.path.join(work, "out"))
    wl.first_scan()
    setup_s = time.perf_counter() - t0
    get_spark_s = t1 - t0

    # references after set-up, so they do not share the CPU with it
    wl.reference()
    runner = Runner(wl)

    first_pass_s, _ = runner.one_pass()
    curve = [first_pass_s]
    for _ in range(WARMUP_PASSES):
        curve.append(runner.one_pass()[0])

    walls, cpus = [], []
    busy0, steal0 = host.machine_cpu()
    tree0 = host.tree_cpu_s()
    t_start = time.perf_counter()
    while len(walls) < MIN_MEASURED or time.perf_counter() - t_start < args.seconds:
        w, c = runner.one_pass()
        walls.append(w)
        cpus.append(c)
    busy1, steal1 = host.machine_cpu()
    other_cpu_s = max(0.0, (busy1 - busy0) - (host.tree_cpu_s() - tree0))
    steal_s = steal1 - steal0
    curve.extend(walls)

    wall_s = statistics.median(walls)
    e2e = {
        "wall_s": wall_s,
        "first_pass_s": first_pass_s,
        "rows_per_s": inputs["rows"] / wall_s,
        "cpu_s": statistics.median(cpus),
        "peak_rss_mb": host.children_peak_rss_mb() + runner.driver_peak_mb,
        "setup_s": setup_s,
    }
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "input_rows": inputs["rows"],
        "warmup_passes": WARMUP_PASSES,
        "measured_passes": len(walls),
        "pass_walls_s": [round(x, 4) for x in curve],
        "host.steal_s": steal_s,
        "host.other_cpu_s": other_cpu_s,
    }

    if not args.trace:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    else:
        values = traced(spark, wl, runner, wall_s, summary)
        values["session.get_spark.wall_s"] = get_spark_s
        values["host.steal_s"] = steal_s
        values["host.other_cpu_s"] = other_cpu_s
        metrics = {
            k: {"value": values.get(k, 0), "unit": u} for k, u in per_layer_units().items()
        }

    failed_ratio = runner.failed / runner.attempted
    summary["metrics"] = {k: [v, E2E_UNITS[k]] for k, v in e2e.items()}
    summary["metrics"]["failed_ratio"] = [failed_ratio, "ratio"]
    summary["problems"] = runner.problems
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }
    return result, summary


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    from perfbench import trace

    units = {
        f"{span}.{c}": trace.UNITS[c] for span in workloads.ALL_SPANS for c in trace.COUNTERS
    }
    units.update({f"{span}.s_per_round": "s" for span in workloads.GRAPH_SPANS})
    units.update(
        {
            "graph.algorithms.connected_components.rounds": "count",
            "operators.dedup.candidate_pairs": "count",
            "operators.dedup.verified_pairs": "count",
            "operators.dedup.verify_yield": "ratio",
            "streaming.windows.stream_to_parquet.batches": "count",
            "streaming.windows.stream_to_parquet.batch_ms_p50": "ms",
            "streaming.windows.stream_to_parquet.state_rows": "count",
            "sources.sinks.write_parquet.output_bytes": "bytes",
            "session.get_spark.wall_s": "s",
            "process.python_rss_mb": "MB",
            "host.steal_s": "s",
            "host.other_cpu_s": "s",
            "trace.overhead_s": "s",
        }
    )
    return units


def traced(spark, wl, runner: Runner, wall_s: float, summary: dict) -> dict[str, float]:
    """One traced pass plus the attribution calls.  Returns the values of
    the span counters, the notes the workload recorded and
    ``trace.overhead_s``; spans and notes the workload does not have
    read 0."""
    from perfbench import trace

    tracer = trace.SpanTracer(spark)
    wl.prepare()
    host.reset_own_peak()
    c0 = host.tree_cpu_s()
    t0 = time.perf_counter()
    outputs, errors = wl.run_pass(tracer)
    traced_wall = time.perf_counter() - t0
    traced_cpu = host.tree_cpu_s() - c0
    python_rss_mb = host.own_peak_rss_mb()
    runner.tally(outputs, errors)
    main = tracer.collect()

    extra = trace.SpanTracer(spark)
    wl.attribute(extra)
    attributed = extra.collect()

    values = {**tracer.notes, **extra.notes}
    for part in (main, attributed):
        for span, counters in part["spans"].items():
            values.update({f"{span}.{k}": v for k, v in counters.items()})
    for span in workloads.GRAPH_SPANS:
        rounds = values.pop(f"{span}.rounds", 0)
        if span.endswith("connected_components"):
            values[f"{span}.rounds"] = rounds
        if rounds:
            values[f"{span}.s_per_round"] = values[f"{span}.wall_s"] / rounds
    values["trace.overhead_s"] = traced_wall - wall_s
    values["process.python_rss_mb"] = python_rss_mb

    top = set(main["top_level"])
    exec_cpu = sum(c["exec_cpu_s"] for n, c in main["spans"].items() if n in top)
    t = {
        "traced_wall_s": traced_wall,
        "top_span_wall_s": main["top_wall_s"],
        "traced_cpu_s": traced_cpu,
        "top_span_exec_cpu_s": exec_cpu,
        "pass_jobs": main["pass_jobs"],
        "top_span_jobs": main["top_jobs"],
        "top_span_jobs_distinct": main["top_jobs_distinct"],
        "untagged_jobs": main["untagged_jobs"],
        "attribution_jobs": attributed["pass_jobs"],
    }
    t["consistent"] = (
        abs(t["top_span_wall_s"] - traced_wall) <= 0.05 * traced_wall
        and t["pass_jobs"] == t["top_span_jobs"] == t["top_span_jobs_distinct"]
        and t["untagged_jobs"] == 0
        and exec_cpu <= traced_cpu
    )
    summary["trace"] = t
    return values


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "graphmapreduce_spark", "__init__.py")):
        print("perfbench: graphmapreduce_spark is missing from this checkout", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    left = host.wait_gone(host.marked(), 15.0)
    if left:
        print(
            f"perfbench: processes of an earlier run are still alive: {left}; not starting",
            file=sys.stderr,
        )
        return 3
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    try:
        result, summary = run(args, work)
    finally:
        try:
            stop_spark()
        finally:
            killed = host.stop_all(work)
            if killed:
                print(f"perfbench: killed leftover processes {killed}", file=sys.stderr)
            shutil.rmtree(work, ignore_errors=True)
    print("perfbench-summary " + json.dumps(summary, sort_keys=True))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
