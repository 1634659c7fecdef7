"""Span tracing for the traced run: counters per public call, read from
Spark's ``AppStatusStore``.

The untraced run uses ``workloads.NullTracer`` and never imports this
module, so it neither drains the listener bus nor reads the status store.

A span is opened in the benchmark's own code around one call into the
library.  Each open span adds a job tag (``SparkContext.addJobTag``) to
the driver thread; every job submitted while the span is open carries
the tag, including jobs of a streaming query started inside it (the
query thread inherits the tags).  After the pass the listener bus is
drained once and the store is read in two JSON calls (jobs, stages).
Counters are inclusive: a span counts the jobs of the spans nested in
it.  Each stage counts for the lowest-numbered job that lists it, so a
stage reused by a later job is not counted twice.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass

COUNTERS = (
    "wall_s",
    "outside_jobs_s",
    "jobs",
    "exec_cpu_s",
    "shuffle_read_bytes",
    "spill_bytes",
    "hot_task_records",
)
UNITS = {
    "wall_s": "s",
    "outside_jobs_s": "s",
    "jobs": "count",
    "exec_cpu_s": "s",
    "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes",
    "hot_task_records": "count",
}


@dataclass
class Span:
    name: str
    tag: str
    depth: int
    start_epoch: float = 0.0
    end_epoch: float = 0.0
    wall_s: float = 0.0


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class SpanTracer:
    """Records spans for one pass; ``collect()`` turns them into counters."""

    traced = True

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._spans: list[Span] = []
        self._depth = 0
        self._seq = 0
        self.notes: dict[str, float] = {}
        self._drain()
        self._first_job = 1 + max((j["jobId"] for j in self._read("jobs")), default=-1)

    def _drain(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    @contextmanager
    def span(self, name: str):
        self._seq += 1
        s = Span(name, f"perfbench-span-{self._seq}", self._depth)
        self._spans.append(s)
        self._sc.addJobTag(s.tag)
        self._depth += 1
        s.start_epoch = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            s.wall_s = time.perf_counter() - t0
            s.end_epoch = time.time()
            self._depth -= 1
            self._sc.removeJobTag(s.tag)

    def note(self, name: str, value: float) -> None:
        self.notes[name] = self.notes.get(name, 0.0) + value

    def _read(self, what: str) -> list[dict]:
        sc = self._sc
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        empty = jvm.java.util.Collections.emptyList()
        if what == "jobs":
            data = store.jobsList(empty)
        else:
            q = sc._gateway.new_array(jvm.double, 1)
            q[0] = 1.0
            data = store.stageList(empty, False, True, q, empty)
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(scala.__getattr__("MODULE$"))
        return json.loads(mapper.writeValueAsString(data))

    def collect(self) -> dict:
        """Drain the listener bus, read the store, and return
        ``{"spans": {name: {counter: value}}, "pass_jobs", "top_jobs",
        "top_jobs_distinct", "untagged_jobs"}`` for the pass."""
        self._drain()
        jobs = [j for j in self._read("jobs") if j["jobId"] >= self._first_job]
        stages = self._read("stages")
        owner: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for sid in j["stageIds"]:
                owner.setdefault(sid, j["jobId"])
        per_job: dict[int, dict] = {
            j["jobId"]: {"cpu_ns": 0, "shuffle": 0, "spill": 0, "hot": 0} for j in jobs
        }
        for st in stages:
            acc = per_job.get(owner.get(st["stageId"], -1))
            if acc is None:
                continue
            acc["cpu_ns"] += st["executorCpuTime"]
            acc["shuffle"] += st["shuffleReadBytes"]
            acc["spill"] += st["diskBytesSpilled"]
            dist = st.get("taskMetricsDistributions") or {}
            hot = max(
                [0]
                + list((dist.get("inputMetrics") or {}).get("recordsRead") or [])
                + list((dist.get("shuffleReadMetrics") or {}).get("readRecords") or [])
            )
            acc["hot"] = max(acc["hot"], int(hot))
        by_tag: dict[str, list[dict]] = {}
        for j in jobs:
            for t in j.get("jobTags") or []:
                by_tag.setdefault(t, []).append(j)
        out: dict[str, dict] = {}
        top_ids: list[int] = []
        for s in self._spans:
            span_jobs = by_tag.get(s.tag, [])
            if s.depth == 0:
                top_ids.extend(j["jobId"] for j in span_jobs)
            lo, hi = s.start_epoch * 1000.0, s.end_epoch * 1000.0
            busy_ms = _union_s(
                [
                    (max(lo, j["submissionTime"]), min(hi, j.get("completionTime") or hi))
                    for j in span_jobs
                    if j.get("submissionTime") is not None
                ]
            )
            c = out.setdefault(s.name, {k: 0.0 for k in COUNTERS})
            c["wall_s"] += s.wall_s
            c["outside_jobs_s"] += max(0.0, s.wall_s - busy_ms / 1000.0)
            c["jobs"] += len(span_jobs)
            for j in span_jobs:
                a = per_job[j["jobId"]]
                c["exec_cpu_s"] += a["cpu_ns"] / 1e9
                c["shuffle_read_bytes"] += a["shuffle"]
                c["spill_bytes"] += a["spill"]
                c["hot_task_records"] = max(c["hot_task_records"], a["hot"])
        return {
            "spans": out,
            "top_level": sorted({s.name for s in self._spans if s.depth == 0}),
            "top_wall_s": sum(s.wall_s for s in self._spans if s.depth == 0),
            "pass_jobs": len(jobs),
            "top_jobs": len(top_ids),
            "top_jobs_distinct": len(set(top_ids)),
            "untagged_jobs": len({j["jobId"] for j in jobs} - set(top_ids)),
        }
