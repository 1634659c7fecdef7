"""Deterministic input generators (numpy + pyarrow, single process).

Every generator draws from ``numpy.random.default_rng([seed, stream])``
and writes parquet with fixed writer options, so one seed always gives
byte-identical files and the program under test receives only these
files.  Row order is fixed by an explicit sort or by generation order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# graph-small: below Pregel's 4096-vertex single-job gate
GRAPH_VERTICES = 1000
GRAPH_OUT_MEAN = 5.5  # mean random out-degree before de-duplication
GRAPH_LEVELS = (100, 897)  # spine bands below the 3 sources
GRAPH_SINK_SHARE = 0.05  # vertices with no out-edge (dangling mass)
GRAPH_ZIPF_S = 1.0

# corpus-events, corpus part
CORPUS_DOCS = 600
CORPUS_VOCAB = 20000
CORPUS_ZIPF_S = 0.8
CORPUS_WORDS = (60, 90)
CORPUS_EXACT_SHARE = 0.05  # planted exact copies
CORPUS_NEAR_SHARE = 0.10  # planted near-duplicates
CORPUS_EDIT_SHARE = 0.05  # share of words replaced in a near-duplicate

# corpus-events, events part
EVENT_ROWS = 20000
EVENT_KEYS = 400
EVENT_FILES = 3
EVENT_SPAN_S = 4 * 3600  # event time covered by all files
EVENT_JITTER_S = 60  # how far an event may land in the next file
QUOTE_ROWS = 4000
EVENT_BASE_S = 1_700_000_000  # 2023-11-14T22:13:20Z

_WRITE = dict(compression="zstd", use_dictionary=True, write_statistics=True)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, **_WRITE)


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def graph_edges(seed: int) -> pa.Table:
    """Directed zipf graph over ``range(GRAPH_VERTICES)``.

    Vertex ``i`` has popularity rank ``i`` (0 is the hub): edge targets
    and out-degrees are both zipf-skewed by rank.  A spine fixes the
    depth: ranks are cut into ``GRAPH_LEVELS`` bands below the sources
    ``0, 1, 2`` and every vertex gets one in-edge from a random vertex of
    the band above, so a directed BFS from the sources reaches every
    vertex within ``len(GRAPH_LEVELS)`` levels, and the last band, which
    random edges rarely reach, sets that depth for every seed.  A share
    of the last band has no out-edge (dangling mass).  No self loops, no
    duplicate edges."""
    rng = np.random.default_rng([seed, 1])
    n = GRAPH_VERTICES
    p = _zipf_p(n, GRAPH_ZIPF_S)
    cuts = np.cumsum([3, *GRAPH_LEVELS])
    last = np.arange(cuts[-2], n)
    sinks = rng.choice(last, int(n * GRAPH_SINK_SHARE), replace=False)
    is_sink = np.zeros(n, dtype=bool)
    is_sink[sinks] = True
    extra = rng.multinomial(int(n * (GRAPH_OUT_MEAN - 1)), p)
    deg = np.where(is_sink, 0, extra)
    src = [np.repeat(np.arange(n, dtype=np.int64), deg)]
    dst = [rng.choice(n, size=int(deg.sum()), p=p).astype(np.int64)]
    # every source feeds the whole first band; below it, a random vertex
    # of the band above feeds each vertex once
    band1 = np.arange(cuts[0], cuts[1], dtype=np.int64)
    src.append(np.repeat(np.arange(3, dtype=np.int64), band1.size))
    dst.append(np.tile(band1, 3))
    for lo, mid, hi in zip(cuts[:-2], cuts[1:-1], cuts[2:]):
        dst.append(np.arange(mid, hi, dtype=np.int64))
        src.append(rng.integers(lo, mid, size=hi - mid).astype(np.int64))
    src, dst = np.concatenate(src), np.concatenate(dst)
    keep = src != dst
    pairs = np.unique(np.stack([src[keep], dst[keep]], axis=1), axis=0)
    return pa.table({"src": pairs[:, 0], "dst": pairs[:, 1]})


def _vocab(rng: np.random.Generator) -> np.ndarray:
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    lens = rng.integers(4, 11, size=CORPUS_VOCAB)
    chars = rng.choice(letters, size=int(lens.sum()))
    words, at = [], 0
    for n in lens:
        words.append(chars[at : at + n].tobytes().decode())
        at += n
    return np.array(words, dtype=object)


def corpus(seed: int) -> pa.Table:
    """(doc_id, text): zipf-vocabulary documents plus planted exact
    copies and near-duplicates (``CORPUS_EDIT_SHARE`` of the words of an
    earlier document replaced).  A planted document always copies an
    original, so near-duplicate clusters stay small."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng)
    p = _zipf_p(CORPUS_VOCAB, CORPUS_ZIPF_S)
    originals: list[list[str]] = []
    texts: list[str] = []
    for i in range(CORPUS_DOCS):
        r = rng.random()
        if originals and r < CORPUS_EXACT_SHARE:
            texts.append(" ".join(originals[rng.integers(len(originals))]))
        elif originals and r < CORPUS_EXACT_SHARE + CORPUS_NEAR_SHARE:
            words = list(originals[rng.integers(len(originals))])
            k = max(1, int(round(len(words) * CORPUS_EDIT_SHARE)))
            for j in rng.choice(len(words), size=k, replace=False):
                words[j] = vocab[rng.choice(CORPUS_VOCAB, p=p)]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(CORPUS_WORDS[0], CORPUS_WORDS[1] + 1))
            words = list(vocab[rng.choice(CORPUS_VOCAB, size=n, p=p)])
            originals.append(words)
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
        }
    )


def events(seed: int) -> list[pa.Table]:
    """Time-sliced event files: (event_id, user_id, ts, value).  Keys are
    zipf-skewed; rows are shuffled within each file (out of order) and
    an event may land up to ``EVENT_JITTER_S`` late, in the next file.
    Timestamps are distinct per user, so every window order is total."""
    rng = np.random.default_rng([seed, 3])
    n = EVENT_ROWS
    user = rng.choice(EVENT_KEYS, size=n, p=_zipf_p(EVENT_KEYS, 1.0)).astype(np.int64)
    # distinct milliseconds overall -> distinct per user
    span_ms = EVENT_SPAN_S * 1000
    offs = np.sort(rng.choice(span_ms, size=n, replace=False)).astype(np.int64)
    value = rng.integers(1, 1000, size=n, dtype=np.int64)
    arrival = offs + rng.integers(0, EVENT_JITTER_S * 1000 + 1, size=n)
    slice_of = np.minimum(arrival * EVENT_FILES // span_ms, EVENT_FILES - 1)
    ts = (EVENT_BASE_S * 1000 + offs) * 1000  # microseconds
    out = []
    for f in range(EVENT_FILES):
        idx = rng.permutation(np.flatnonzero(slice_of == f))
        out.append(
            pa.table(
                {
                    "event_id": pa.array(idx.astype(np.int64)),
                    "user_id": pa.array(user[idx]),
                    "ts": pa.array(ts[idx], type=pa.timestamp("us", tz="UTC")),
                    "value": pa.array(value[idx]),
                }
            )
        )
    return out


def quotes(seed: int) -> pa.Table:
    """(user_id, ts, price) reference rows for the as-of join, sorted;
    timestamps distinct per user and interleaved with the events."""
    rng = np.random.default_rng([seed, 4])
    n = QUOTE_ROWS
    user = rng.choice(EVENT_KEYS, size=n, p=_zipf_p(EVENT_KEYS, 1.0)).astype(np.int64)
    # events sit on whole milliseconds; quotes 1 us past one, so an
    # event and a quote never share a timestamp
    offs = np.sort(rng.choice(EVENT_SPAN_S * 1000, size=n, replace=False)).astype(np.int64)
    ts = (EVENT_BASE_S * 1000 + offs) * 1000 + 1
    price = rng.integers(100, 10_000, size=n, dtype=np.int64)
    return pa.table(
        {
            "user_id": pa.array(user),
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "price": pa.array(price),
        }
    )


def write_inputs(workload: str, seed: int, out_dir: str) -> dict:
    """Write one workload's inputs under ``out_dir``; returns their paths
    and the input row count (edges, or documents + events + quotes)."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "graph-small":
        t = graph_edges(seed)
        path = os.path.join(out_dir, "edges.parquet")
        _write(t, path)
        return {"edges": path, "rows": t.num_rows}
    if workload == "corpus-events":
        docs = corpus(seed)
        dpath = os.path.join(out_dir, "docs.parquet")
        _write(docs, dpath)
        edir = os.path.join(out_dir, "events")
        os.makedirs(edir, exist_ok=True)
        rows = docs.num_rows
        for i, t in enumerate(events(seed)):
            path = os.path.join(edir, f"part-{i:03d}.parquet")
            _write(t, path)
            # the file stream takes files oldest first: one second apart,
            # so the slices arrive in time order
            os.utime(path, (EVENT_BASE_S + i, EVENT_BASE_S + i))
            rows += t.num_rows
        q = quotes(seed)
        qpath = os.path.join(out_dir, "quotes.parquet")
        _write(q, qpath)
        return {"docs": dpath, "events": edir, "quotes": qpath, "rows": rows + q.num_rows}
    raise ValueError(f"unknown workload {workload!r}")
