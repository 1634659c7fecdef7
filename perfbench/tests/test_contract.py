"""BENCHMARK.json names exactly what the benchmark prints, and an untraced
run never touches the listener bus or the status store."""

import contextlib
import io
import json
import os
import re

import pytest

from perfbench import gen, run, workloads

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
# JVM calls only a traced run may make
STATUS_CALLS = {"listenerBus", "waitUntilEmpty", "statusStore", "jobsList", "stageList"}


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_lists_the_printed_metrics_with_units():
    s = spec()
    assert s["command"] == ["python3", "perfbench/run.py"]
    assert s["paths"] == ["perfbench"]
    assert [w["name"] for w in s["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in s["per_layer"]} == run.per_layer_units()
    setup = next(m for m in s["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in s["end_to_end"])


def test_only_the_trace_module_names_status_calls():
    pattern = re.compile("|".join(sorted(STATUS_CALLS)))
    for name in sorted(os.listdir(HERE)):
        if name.endswith(".py"):
            with open(os.path.join(HERE, name)) as f:
                hits = pattern.findall(f.read())
            assert not hits or name == "trace.py", (name, hits)


@contextlib.contextmanager
def recorded_jvm_calls():
    """Record the name of every py4j method call made in this process."""
    from py4j import java_gateway

    names = []
    orig = java_gateway.JavaMember.__call__

    def call(self, *args):
        names.append(self.name)
        return orig(self, *args)

    java_gateway.JavaMember.__call__ = call
    try:
        yield names
    finally:
        java_gateway.JavaMember.__call__ = orig


def run_main(*argv):
    out = io.StringIO()
    env = dict(os.environ)
    try:
        with contextlib.redirect_stdout(out):
            assert run.main(list(argv)) == 0
    finally:
        os.environ.clear()
        os.environ.update(env)
    lines = out.getvalue().strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2].split(" ", 1)[1])


@pytest.mark.slow
def test_untraced_run_prints_end_to_end_metrics_without_status_calls():
    with recorded_jvm_calls() as names:
        result, summary = run_main(
            "--workload", "graph-small", "--seed", "1", "--seconds", "0", "--trace", "0"
        )
    assert names, "the recorder saw no JVM call at all"
    assert not STATUS_CALLS & set(names)
    assert result["correct"] and result["failed"] == 0
    assert {k: m["unit"] for k, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec()["end_to_end"]
    }
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert summary["metrics"]["failed_ratio"] == [0.0, "ratio"]


@pytest.mark.slow
def test_traced_run_prints_per_layer_metrics_and_consistent_totals():
    with recorded_jvm_calls() as names:
        result, summary = run_main(
            "--workload", "corpus-events", "--seed", "1", "--seconds", "0", "--trace", "1"
        )
    assert STATUS_CALLS <= set(names)
    assert result["correct"]
    assert {k: m["unit"] for k, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec()["per_layer"]
    }
    t = summary["trace"]
    assert t["consistent"], t
    assert t["pass_jobs"] == t["top_span_jobs"] == t["top_span_jobs_distinct"] > 0
    v = {k: m["value"] for k, m in result["metrics"].items()}
    assert v["operators.dedup.minhash_signatures.jobs"] > 0
    assert v["streaming.windows.stream_to_parquet.batches"] == gen.EVENT_FILES
    assert v["graph.algorithms.pagerank.jobs"] == 0  # not on this workload
