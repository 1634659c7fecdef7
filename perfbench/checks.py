"""Independent references for every output the benchmark times.

Each ``ref_*`` computes the expected result from the generated input
without Spark (numpy, pure Python, or DuckDB SQL); each ``check_*``
compares one Spark output (a ``pyarrow.Table``) with its reference and
returns a list of problems, empty when the output is accepted.  They
run outside the timed region.
"""

from __future__ import annotations

from collections import deque

import duckdb
import numpy as np
import pyarrow as pa

PAGERANK_DAMPING = 0.85
FLOAT_RTOL = 1e-9
FLOAT_ATOL = 1e-12


# -- graph references --------------------------------------------------


class Graph:
    """Dense-index view of an edge list: ``ids[i]`` is vertex ``i``."""

    def __init__(self, edges: pa.Table):
        src = edges["src"].to_numpy()
        dst = edges["dst"].to_numpy()
        self.ids = np.unique(np.concatenate([src, dst]))
        self.src = np.searchsorted(self.ids, src)
        self.dst = np.searchsorted(self.ids, dst)
        self.n = self.ids.size

    def index(self, ids: np.ndarray) -> np.ndarray:
        pos = np.searchsorted(self.ids, ids)
        pos = np.minimum(pos, self.n - 1)
        if ids.size and not np.array_equal(self.ids[pos], ids):
            raise KeyError("output names a vertex the input does not have")
        return pos


def ref_pagerank(g: Graph, iters: int, damping: float = PAGERANK_DAMPING) -> np.ndarray:
    """Power iteration; dangling mass is spread uniformly."""
    outdeg = np.bincount(g.src, minlength=g.n).astype(np.float64)
    dangling = outdeg == 0
    rank = np.full(g.n, 1.0 / g.n)
    for _ in range(iters):
        share = np.where(dangling, 0.0, rank / np.where(dangling, 1.0, outdeg))
        in_sum = np.bincount(g.dst, weights=share[g.src], minlength=g.n)
        base = (1.0 - damping) / g.n + damping / g.n * rank[dangling].sum()
        rank = base + damping * in_sum
    return rank


def ref_hits(g: Graph, iters: int) -> tuple[np.ndarray, np.ndarray]:
    """Un-normalised HITS iterations, L2-normalised once at the end."""
    hub = np.ones(g.n)
    auth = np.zeros(g.n)
    for _ in range(iters):
        auth = np.bincount(g.dst, weights=hub[g.src], minlength=g.n)
        hub = np.bincount(g.src, weights=auth[g.dst], minlength=g.n)
    na, nh = np.linalg.norm(auth), np.linalg.norm(hub)
    return (auth / na if na else auth), (hub / nh if nh else hub)


def ref_label_propagation(g: Graph, rounds: int) -> np.ndarray:
    """Synchronous rounds over the symmetrised, de-duplicated edges:
    adopt the most frequent neighbour label, ties to the smallest."""
    pairs = np.unique(
        np.concatenate(
            [np.stack([g.src, g.dst], 1), np.stack([g.dst, g.src], 1)]
        ),
        axis=0,
    )
    s, d = pairs[:, 0], pairs[:, 1]
    labels = g.ids.copy()
    for _ in range(rounds):
        lab = labels[s]
        keys, counts = np.unique(np.stack([d, lab], 1), axis=0, return_counts=True)
        # per vertex: largest count first, then smallest label
        order = np.lexsort((keys[:, 1], -counts, keys[:, 0]))
        keys = keys[order]
        first = np.ones(len(keys), dtype=bool)
        first[1:] = keys[1:, 0] != keys[:-1, 0]
        new = labels.copy()
        new[keys[first, 0]] = keys[first, 1]
        labels = new
    return labels


def ref_betweenness(g: Graph, sources: list[int], max_depth: int = 32) -> np.ndarray:
    """Pure-Python Brandes over directed unweighted shortest paths,
    summed over ``sources``; a source does not score itself."""
    adj: list[list[int]] = [[] for _ in range(g.n)]
    for a, b in zip(g.src.tolist(), g.dst.tolist()):
        adj[a].append(b)
    bc = [0.0] * g.n
    for s in g.index(np.asarray(sources, dtype=np.int64)).tolist():
        sigma = [0] * g.n
        dist = [-1] * g.n
        sigma[s], dist[s] = 1, 0
        order, queue = [], deque([s])
        while queue:
            v = queue.popleft()
            order.append(v)
            if dist[v] >= max_depth:
                continue
            for w in adj[v]:
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    queue.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        delta = [0.0] * g.n
        for w in reversed(order):
            for x in adj[w]:
                if dist[x] == dist[w] + 1:
                    delta[w] += sigma[w] / sigma[x] * (1.0 + delta[x])
            if w != s:
                bc[w] += delta[w]
    return np.asarray(bc)


def bfs_depth(g: Graph, sources: list[int]) -> int:
    """Deepest directed BFS level reached from any one source."""
    adj: list[list[int]] = [[] for _ in range(g.n)]
    for a, b in zip(g.src.tolist(), g.dst.tolist()):
        adj[a].append(b)
    depth = 0
    for s in g.index(np.asarray(sources, dtype=np.int64)).tolist():
        seen = {s}
        frontier, level = [s], 0
        while frontier:
            nxt = []
            for v in frontier:
                for w in adj[v]:
                    if w not in seen:
                        seen.add(w)
                        nxt.append(w)
            level += bool(nxt)
            frontier = nxt
        depth = max(depth, level)
    return depth


def ref_components(g: Graph) -> np.ndarray:
    """Union-find; each vertex maps to the smallest id in its component."""
    parent = list(range(g.n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(g.src.tolist(), g.dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # dense indices follow id order, so the smaller root is the
            # smaller id
            parent[max(ra, rb)] = min(ra, rb)
    return g.ids[[find(i) for i in range(g.n)]]


# -- graph output checks -----------------------------------------------


def _dense(g: Graph, out: pa.Table, col: str, fill: float = 0.0) -> tuple[np.ndarray, list[str]]:
    ids = out["id"].to_numpy()
    vals = np.full(g.n, fill, dtype=np.float64)
    problems = []
    if np.unique(ids).size != ids.size:
        problems.append("duplicate vertex ids in output")
    try:
        vals[g.index(ids)] = out[col].to_numpy()
    except KeyError as e:
        problems.append(str(e))
    return vals, problems


def _close(name: str, got: np.ndarray, want: np.ndarray) -> list[str]:
    if np.allclose(got, want, rtol=FLOAT_RTOL, atol=FLOAT_ATOL):
        return []
    worst = int(np.argmax(np.abs(got - want)))
    return [f"{name}: index {worst} is {got[worst]!r}, reference {want[worst]!r}"]


def check_pagerank(g: Graph, out: pa.Table, want: np.ndarray) -> list[str]:
    if out.num_rows != g.n:
        return [f"pagerank: {out.num_rows} rows for {g.n} vertices"]
    got, problems = _dense(g, out, "rank", np.nan)
    return problems + _close("pagerank", got, want)


def check_hits(g: Graph, out: pa.Table, want: tuple[np.ndarray, np.ndarray]) -> list[str]:
    if out.num_rows != g.n:
        return [f"hits: {out.num_rows} rows for {g.n} vertices"]
    auth, p1 = _dense(g, out, "auth", np.nan)
    hub, p2 = _dense(g, out, "hub", np.nan)
    return p1 + p2 + _close("hits.auth", auth, want[0]) + _close("hits.hub", hub, want[1])


def _check_labels(name: str, g: Graph, out: pa.Table, col: str, want: np.ndarray) -> list[str]:
    if out.num_rows != g.n:
        return [f"{name}: {out.num_rows} rows for {g.n} vertices"]
    got, problems = _dense(g, out, col, -1)
    bad = np.flatnonzero(got != want)
    if bad.size:
        i = int(bad[0])
        problems.append(
            f"{name}: {bad.size} vertices differ, e.g. id {g.ids[i]} has {got[i]!r}, reference {want[i]!r}"
        )
    return problems


def check_label_propagation(g: Graph, out: pa.Table, want: np.ndarray) -> list[str]:
    return _check_labels("label_propagation", g, out, "label", want)


def check_components(g: Graph, out: pa.Table, want: np.ndarray) -> list[str]:
    return _check_labels("connected_components", g, out, "component", want)


def check_betweenness(g: Graph, out: pa.Table, want: np.ndarray) -> list[str]:
    got, problems = _dense(g, out, "betweenness", 0.0)
    return problems + _close("betweenness_centrality", got, want)


# -- corpus and events references (DuckDB) -----------------------------


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET TimeZone = 'UTC'")
    return con


def ref_dedup_mapping(docs_path: str) -> pa.Table:
    """The recipe's registered DuckDB oracle (the q576 query's SQL) run
    over the generated corpus: (doc_id, canonical_id) sorted by doc_id."""
    from graphmapreduce_spark.plans.w11_analytics_f import _dedup_corpus_oracle_sql

    con = _duck()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
    sql = _dedup_corpus_oracle_sql()
    return con.execute(
        f"SELECT doc_id, canonical_id FROM ({sql}) ORDER BY doc_id"
    ).arrow()


def _sorted_equal(name: str, got: pa.Table, want: pa.Table, keys: list[str]) -> list[str]:
    got = got.select(want.column_names).sort_by([(k, "ascending") for k in keys])
    want = want.sort_by([(k, "ascending") for k in keys])
    if got.num_rows != want.num_rows:
        return [f"{name}: {got.num_rows} rows, reference {want.num_rows}"]
    for c in want.column_names:
        a, b = got[c].combine_chunks(), want[c].combine_chunks()
        if a.type != b.type:
            a = a.cast(b.type)
        if not a.equals(b):
            return [f"{name}: column {c} differs from the reference"]
    return []


def check_dedup(got: pa.Table, want: pa.Table) -> list[str]:
    return _sorted_equal("dedup_corpus", got, want, ["doc_id"])


SESSION_GAP_S = 300
TOP_K = 3
WINDOW = "10 minutes"
WINDOW_US = 600 * 1_000_000
WATERMARK = "2 minutes"
WATERMARK_US = 120 * 1_000_000


def ref_events(events_dir: str, quotes_path: str) -> dict[str, pa.Table]:
    """DuckDB answers for the relational calls and the streamed tumbling
    aggregate (windows closed by the final watermark)."""
    con = _duck()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_dir}/*.parquet')"
    )
    con.execute(f"CREATE VIEW quotes AS SELECT * FROM read_parquet('{quotes_path}')")
    out = {}
    out["sessionize"] = con.execute(
        f"""
        WITH e AS (
          SELECT event_id, user_id, ts, epoch_us(ts) // 1000000 AS t FROM events
        ), l AS (
          SELECT *, lag(t) OVER (PARTITION BY user_id ORDER BY ts) AS p FROM e
        )
        SELECT event_id,
               CAST(SUM(CASE WHEN p IS NULL OR t - p > {SESSION_GAP_S} THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS session_seq
        FROM l"""
    ).arrow()
    out["top_k_per_group"] = con.execute(
        f"""
        SELECT event_id FROM (
          SELECT event_id, row_number() OVER (
            PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
          FROM events)
        WHERE rn <= {TOP_K}"""
    ).arrow()
    out["asof_join"] = con.execute(
        """
        SELECT e.event_id, q.price
        FROM events e ASOF LEFT JOIN quotes q
          ON e.user_id = q.user_id AND e.ts >= q.ts"""
    ).arrow()
    out["stream_to_parquet"] = con.execute(
        f"""
        WITH b AS (
          SELECT epoch_us(ts) // {WINDOW_US} * {WINDOW_US} AS ws, user_id, value
          FROM events
        )
        SELECT ws AS window_start_us, user_id, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(value) AS BIGINT) AS total
        FROM b
        WHERE ws + {WINDOW_US} <= (SELECT epoch_us(max(ts)) FROM events) - {WATERMARK_US}
        GROUP BY ws, user_id"""
    ).arrow()
    return out


def check_events(name: str, got: pa.Table, want: pa.Table) -> list[str]:
    """Compare one events output (already projected by the caller to the
    reference's columns) with its reference."""
    keys = {
        "sessionize": ["event_id"],
        "top_k_per_group": ["event_id"],
        "asof_join": ["event_id"],
        "stream_to_parquet": ["window_start_us", "user_id"],
    }[name]
    return _sorted_equal(name, got, want, keys)
