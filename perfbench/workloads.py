"""The workloads: what one pass calls, and how its outputs are checked.

A pass makes every public call of its workload once, in a fixed order,
each inside one tracer span named ``<module>.<function>`` after the
library function it calls (module path relative to
``graphmapreduce_spark``).  A span covers the call and the action that
materialises its result, so lazy results are timed where they are
computed.  Outputs come back as ``pyarrow.Table``s or as the paths of
the parquet the pass wrote; both are checked (files read back) after
the pass, outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import statistics
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import checks

# graph-small call parameters
PAGERANK_ITERS = 11  # one past SEVER_INTERVAL (10): the pass severs once
HITS_ITERS = 1
LABEL_ROUNDS = 2
BETWEENNESS_SOURCES = [0, 1, 2]

# the q576 recipe settings (md5 variant, so the DuckDB oracle replicates it)
DEDUP = dict(
    threshold=0.5,
    num_hashes=32,
    shingle_n=5,
    seed=42,
    hash_fn="md5",
    max_bucket_size=64,
    est_margin=0.2,
    verify_sample_mod=4,
)
DEDUP_BANDS = 8  # the recipe's knee banding for 32 hashes at threshold 0.5

GRAPH_SPANS = [
    "graph.algorithms.pagerank",
    "graph.algorithms.hits",
    "graph.algorithms.label_propagation",
    "graph.algorithms.betweenness_centrality",
    "graph.algorithms.connected_components",
]
CORPUS_EVENTS_SPANS = [
    "pipeline.dedup_corpus",
    "sources.sinks.write_parquet",
    "operators.relational.sessionize",
    "operators.relational.top_k_per_group",
    "operators.relational.asof_join",
    "streaming.windows.stream_to_parquet",
]
ATTRIBUTION_SPANS = [
    "operators.dedup.minhash_signatures",
    "operators.dedup.lsh_candidate_pairs",
    "operators.dedup.dedup_clusters",
]
ALL_SPANS = GRAPH_SPANS + CORPUS_EVENTS_SPANS + ATTRIBUTION_SPANS


class NullTracer:
    """Tracing off: a span is an empty context manager, notes are dropped."""

    traced = False

    @contextmanager
    def span(self, name: str):
        yield

    def note(self, name: str, value: float) -> None:
        pass


class Workload:
    """One workload bound to a session and its generated inputs."""

    name = ""
    ops: list[str] = []

    def __init__(self, spark, inputs: dict, out_dir: str):
        self.spark = spark
        self.inputs = inputs
        self.out_dir = out_dir
        self.want = None

    def first_scan(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Untimed clean-up before each pass."""

    def run_pass(self, tracer) -> tuple[dict, dict]:
        """Returns (outputs by op, error text by op that raised)."""
        raise NotImplementedError

    def reference(self) -> None:
        raise NotImplementedError

    def check(self, outputs: dict) -> dict[str, list[str]]:
        raise NotImplementedError

    def attribute(self, tracer) -> None:
        """Extra traced calls that split a composed call into stages."""


def _call(outputs: dict, errors: dict, op: str, fn) -> None:
    try:
        outputs[op] = fn()
    except Exception as e:  # a failed call is counted, the pass goes on
        errors[op] = f"{type(e).__name__}: {e}"


class GraphSmall(Workload):
    name = "graph-small"
    ops = ["pagerank", "hits", "label_propagation", "betweenness_centrality", "connected_components"]

    def first_scan(self) -> None:
        self.edges = self.spark.read.parquet(self.inputs["edges"])
        self.edges.count()

    def run_pass(self, tracer):
        from graphmapreduce_spark.graph import algorithms as A
        from graphmapreduce_spark.graph.property_graph import PropertyGraph

        g = PropertyGraph.from_edges(self.edges)
        out, err = {}, {}

        def timed(op, fn):
            with tracer.span(f"graph.algorithms.{op}"):
                _call(out, err, op, fn)

        timed("pagerank", lambda: A.pagerank(g, max_iter=PAGERANK_ITERS, threshold=0.0).toArrow())
        timed("hits", lambda: A.hits(g, max_iter=HITS_ITERS).toArrow())
        timed("label_propagation", lambda: A.label_propagation(g, max_iter=LABEL_ROUNDS).toArrow())
        timed(
            "betweenness_centrality",
            lambda: A.betweenness_centrality(g, BETWEENNESS_SOURCES).toArrow(),
        )
        stats: dict = {}
        timed("connected_components", lambda: A.connected_components(g, stats=stats).toArrow())
        if tracer.traced:
            rounds = {
                "pagerank": PAGERANK_ITERS,
                "hits": HITS_ITERS,
                "label_propagation": LABEL_ROUNDS,
                # forward levels plus the backward sweep over them
                "betweenness_centrality": 2 * self.want["bfs_depth"],
                "connected_components": stats.get("minlabel_supersteps", 0),
            }
            for op, r in rounds.items():
                tracer.note(f"graph.algorithms.{op}.rounds", r)
        return out, err

    def reference(self) -> None:
        edges = pq.read_table(self.inputs["edges"])
        g = checks.Graph(edges)
        self.want = {
            "graph": g,
            "pagerank": checks.ref_pagerank(g, PAGERANK_ITERS),
            "hits": checks.ref_hits(g, HITS_ITERS),
            "label_propagation": checks.ref_label_propagation(g, LABEL_ROUNDS),
            "betweenness_centrality": checks.ref_betweenness(g, BETWEENNESS_SOURCES),
            "connected_components": checks.ref_components(g),
            "bfs_depth": checks.bfs_depth(g, BETWEENNESS_SOURCES),
        }

    def check(self, outputs):
        g, w = self.want["graph"], self.want
        fns = {
            "pagerank": checks.check_pagerank,
            "hits": checks.check_hits,
            "label_propagation": checks.check_label_propagation,
            "betweenness_centrality": checks.check_betweenness,
            "connected_components": checks.check_components,
        }
        return {op: fns[op](g, t, w[op]) for op, t in outputs.items()}


class CorpusEvents(Workload):
    name = "corpus-events"
    ops = ["dedup_corpus", "sessionize", "top_k_per_group", "asof_join", "stream_to_parquet"]

    def first_scan(self) -> None:
        read = self.spark.read.parquet
        self.docs = read(self.inputs["docs"])
        self.events = read(self.inputs["events"])
        self.quotes = read(self.inputs["quotes"])
        self.docs.count()

    def _path(self, op: str) -> str:
        return os.path.join(self.out_dir, op)

    def prepare(self) -> None:
        for op in self.ops + ["stream_checkpoint"]:
            shutil.rmtree(self._path(op), ignore_errors=True)

    def run_pass(self, tracer):
        from graphmapreduce_spark import pipeline as P
        from graphmapreduce_spark.operators import relational as R
        from graphmapreduce_spark.sources.sinks import write_parquet
        from graphmapreduce_spark.streaming import windows as W

        spark = self.spark
        out, err = {}, {}
        ckpt = self._path("stream_checkpoint")

        def written(span, op, make):
            def run():
                df = make()
                with tracer.span("sources.sinks.write_parquet"):
                    write_parquet(df, self._path(op))
                return self._path(op)

            with tracer.span(span):
                _call(out, err, op, run)

        ev, quotes = self.events, self.quotes
        written(
            "pipeline.dedup_corpus",
            "dedup_corpus",
            lambda: P.dedup_corpus(self.docs, "doc_id", "text", **DEDUP),
        )
        written(
            "operators.relational.sessionize",
            "sessionize",
            lambda: R.sessionize(ev, "user_id", "ts", gap_seconds=checks.SESSION_GAP_S),
        )
        written(
            "operators.relational.top_k_per_group",
            "top_k_per_group",
            lambda: R.top_k_per_group(
                ev, ["user_id"], [F.col("value").desc(), F.col("event_id")], checks.TOP_K
            ),
        )
        written(
            "operators.relational.asof_join",
            "asof_join",
            lambda: R.asof_join(ev, quotes, "user_id", "ts", "ts", ["price"]),
        )

        def stream():
            src = W.stream_events_from_parquet(spark, self.inputs["events"], schema=ev.schema)
            agg = W.tumbling_agg(
                W.with_watermark(src, "ts", checks.WATERMARK),
                "ts",
                checks.WINDOW,
                ["user_id"],
                [F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")],
            )
            q = W.stream_to_parquet(agg, self._path("stream_to_parquet"), ckpt)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return q

        with tracer.span("streaming.windows.stream_to_parquet"):
            _call(out, err, "stream_to_parquet", stream)
        q = out.get("stream_to_parquet")
        if q is not None:
            out["stream_to_parquet"] = self._path("stream_to_parquet")
        if tracer.traced and q is not None:
            prog = q.recentProgress
            data = [p for p in prog if p.get("numInputRows", 0) > 0]
            ms = [p["durationMs"].get("triggerExecution", 0) for p in data]
            state = [
                op.get("numRowsTotal", 0) for p in prog for op in p.get("stateOperators", [])
            ]
            tracer.note("streaming.windows.stream_to_parquet.batches", len(data))
            tracer.note(
                "streaming.windows.stream_to_parquet.batch_ms_p50",
                statistics.median(ms) if ms else 0.0,
            )
            tracer.note("streaming.windows.stream_to_parquet.state_rows", max(state, default=0))
        if tracer.traced:
            tracer.note(
                "sources.sinks.write_parquet.output_bytes",
                sum(_dir_bytes(self._path(op)) for op in self.ops),
            )
        return out, err

    def _read_back(self, op: str) -> pa.Table:
        t = pq.read_table(self._path(op))
        if op == "dedup_corpus":
            return t.select(["doc_id", "canonical_id"])
        if op == "sessionize":
            return t.select(["event_id", "session_seq"])
        if op == "top_k_per_group":
            return t.select(["event_id"])
        if op == "asof_join":
            return t.select(["event_id", "price"])
        ws = t["window_start"]  # INT96 in the file: read back as ns
        ws = ws.cast(pa.timestamp("us", tz=ws.type.tz)).cast(pa.int64())
        return pa.table(
            {"window_start_us": ws, "user_id": t["user_id"], "n": t["n"], "total": t["total"]}
        )

    def reference(self) -> None:
        self.want = checks.ref_events(self.inputs["events"], self.inputs["quotes"])
        self.want["dedup_corpus"] = checks.ref_dedup_mapping(self.inputs["docs"])

    def check(self, outputs):
        res = {}
        for op in outputs:
            try:
                t = self._read_back(op)
            except Exception as e:  # unreadable output fails its check
                res[op] = [f"unreadable output: {type(e).__name__}: {e}"]
                continue
            if op == "dedup_corpus":
                res[op] = checks.check_dedup(t, self.want[op])
            else:
                res[op] = checks.check_events(op, t, self.want[op])
        return res

    def attribute(self, tracer) -> None:
        """The recipe's stages as separate calls, on its own parameters:
        sign the exact-dedup survivors, band them, verify the candidates
        here (exact shingle Jaccard), then cluster the verified pairs."""
        from graphmapreduce_spark.operators import dedup as D

        spark = self.spark
        reps = D.exact_dedup(self.docs, ["text"], "doc_id").localCheckpoint(eager=True)
        with tracer.span("operators.dedup.minhash_signatures"):
            sig = D.minhash_signatures(
                reps,
                "doc_id",
                "text",
                num_hashes=DEDUP["num_hashes"],
                shingle_n=DEDUP["shingle_n"],
                seed=DEDUP["seed"],
                hash_fn=DEDUP["hash_fn"],
            ).localCheckpoint(eager=True)
        with tracer.span("operators.dedup.lsh_candidate_pairs"):
            cand = D.lsh_candidate_pairs(
                sig,
                "doc_id",
                "sig",
                num_hashes=DEDUP["num_hashes"],
                bands=DEDUP_BANDS,
                exact_buckets=True,
                max_bucket_size=DEDUP["max_bucket_size"],
            ).toArrow()
        texts = dict(
            zip(*pq.read_table(self.inputs["docs"]).select(["doc_id", "text"]).to_pydict().values())
        )
        n = DEDUP["shingle_n"]
        grams = {}

        def shingles(i):
            if i not in grams:
                t = texts[i]
                grams[i] = {t[k : k + n] for k in range(max(len(t) - n + 1, 1))}
            return grams[i]

        verified = [
            (a, b)
            for a, b in zip(cand["id_a"].to_pylist(), cand["id_b"].to_pylist())
            if len(shingles(a) & shingles(b)) / len(shingles(a) | shingles(b))
            >= DEDUP["threshold"]
        ]
        tracer.note("operators.dedup.candidate_pairs", cand.num_rows)
        tracer.note("operators.dedup.verified_pairs", len(verified))
        tracer.note(
            "operators.dedup.verify_yield", len(verified) / cand.num_rows if cand.num_rows else 0.0
        )
        pairs = spark.createDataFrame(verified, "id_a long, id_b long")
        with tracer.span("operators.dedup.dedup_clusters"):
            D.dedup_clusters(pairs).toArrow()


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


WORKLOADS = {w.name: w for w in (GraphSmall, CorpusEvents)}
