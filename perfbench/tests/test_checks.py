"""Each check accepts its reference and rejects a perturbed output, and the
references agree with hand-computed answers on small graphs."""

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen, workloads


def graph(edges):
    src, dst = zip(*edges)
    return checks.Graph(pa.table({"src": np.array(src, np.int64), "dst": np.array(dst, np.int64)}))


def table(g, **cols):
    return pa.table({"id": pa.array(g.ids), **{k: pa.array(v) for k, v in cols.items()}})


# -- references on hand-checked graphs ----------------------------------


def test_ref_pagerank_is_a_distribution_with_dangling_mass():
    g = graph([(1, 2), (2, 3), (3, 1), (1, 4)])  # 4 is dangling
    r = checks.ref_pagerank(g, 30)
    assert r.sum() == pytest.approx(1.0, abs=1e-12)
    assert r[g.index(np.array([4]))[0]] > 0


def test_ref_hits_bipartite_golden():
    g = graph([(1, 3), (2, 3)])
    auth, hub = checks.ref_hits(g, 4)
    assert auth.tolist() == pytest.approx([0.0, 0.0, 1.0])
    s = 1 / math.sqrt(2)
    assert hub.tolist() == pytest.approx([s, s, 0.0])


def test_ref_label_propagation_two_cliques():
    def k4(b):
        return [(b + i, b + j) for i in range(4) for j in range(4) if i < j]

    g = graph(k4(1) + k4(11) + [(4, 11)])
    labels = dict(zip(g.ids.tolist(), checks.ref_label_propagation(g, 4).tolist()))
    assert {labels[i] for i in (1, 2, 3, 4)} == {1}
    assert {labels[i] for i in (11, 12, 13, 14)} == {11}


def test_ref_betweenness_path_golden():
    g = graph([(1, 2), (2, 3), (3, 4)])
    assert checks.ref_betweenness(g, [1]).tolist() == [0.0, 2.0, 1.0, 0.0]


def test_ref_betweenness_counts_shortest_paths():
    # two shortest paths 1->2->4 and 1->3->4: each middle vertex gets half
    g = graph([(1, 2), (1, 3), (2, 4), (3, 4)])
    assert checks.ref_betweenness(g, [1]).tolist() == [0.0, 0.5, 0.5, 0.0]


def test_ref_components_min_id():
    g = graph([(5, 6), (6, 7), (9, 8)])
    assert checks.ref_components(g).tolist() == [5, 5, 5, 8, 8]


# -- graph checks: accept the reference, reject a perturbation ------------


@pytest.fixture(scope="module")
def small():
    g = checks.Graph(gen.graph_edges(1))
    w = {
        "pagerank": checks.ref_pagerank(g, workloads.PAGERANK_ITERS),
        "hits": checks.ref_hits(g, workloads.HITS_ITERS),
        "label_propagation": checks.ref_label_propagation(g, workloads.LABEL_ROUNDS),
        "betweenness_centrality": checks.ref_betweenness(g, workloads.BETWEENNESS_SOURCES),
        "connected_components": checks.ref_components(g),
    }
    return g, w


def bump(a, i=0, by=1e-6):
    a = np.array(a, dtype=float if np.issubdtype(np.asarray(a).dtype, np.floating) else None)
    a[i] = a[i] + by if a.dtype.kind == "f" else a[i] + 1
    return a


def test_pagerank_check(small):
    g, w = small
    assert checks.check_pagerank(g, table(g, rank=w["pagerank"]), w["pagerank"]) == []
    assert checks.check_pagerank(g, table(g, rank=bump(w["pagerank"], 5)), w["pagerank"])
    assert checks.check_pagerank(g, table(g, rank=w["pagerank"]).slice(1), w["pagerank"])


def test_hits_check(small):
    g, w = small
    auth, hub = w["hits"]
    assert checks.check_hits(g, table(g, auth=auth, hub=hub), w["hits"]) == []
    assert checks.check_hits(g, table(g, auth=auth, hub=bump(hub, 3)), w["hits"])


def test_label_propagation_check(small):
    g, w = small
    lab = w["label_propagation"]
    assert checks.check_label_propagation(g, table(g, label=lab), lab) == []
    wrong = lab.copy()
    wrong[-1] = wrong[-1] + 1
    assert checks.check_label_propagation(g, table(g, label=wrong), lab)


def test_betweenness_check(small):
    g, w = small
    bc = w["betweenness_centrality"]
    nz = bc > 0
    out = pa.table({"id": pa.array(g.ids[nz]), "betweenness": pa.array(bc[nz])})
    assert checks.check_betweenness(g, out, bc) == []  # zero rows may be absent
    assert checks.check_betweenness(g, out.slice(1), bc)  # a scored vertex may not
    bad = pa.table({"id": pa.array(g.ids[nz]), "betweenness": pa.array(bc[nz] * (1 + 1e-6))})
    assert checks.check_betweenness(g, bad, bc)


def test_components_check(small):
    g, w = small
    cc = w["connected_components"]
    assert checks.check_components(g, table(g, component=cc), cc) == []
    wrong = cc.copy()
    wrong[7] = 7 if wrong[7] != 7 else 0
    assert checks.check_components(g, table(g, component=wrong), cc)


# -- corpus and events checks --------------------------------------------


@pytest.fixture(scope="module")
def corpus_events(tmp_path_factory):
    info = gen.write_inputs("corpus-events", 2, str(tmp_path_factory.mktemp("ce")))
    want = checks.ref_events(info["events"], info["quotes"])
    want["dedup_corpus"] = checks.ref_dedup_mapping(info["docs"])
    return want


def test_dedup_reference_merges_planted_duplicates(corpus_events):
    m = corpus_events["dedup_corpus"]
    d, c = m["doc_id"].to_numpy(), m["canonical_id"].to_numpy()
    assert d.size == gen.CORPUS_DOCS
    assert np.all(c <= d)
    assert 0 < np.sum(d != c) < d.size // 2


def test_dedup_check(corpus_events):
    want = corpus_events["dedup_corpus"]
    shuffled = want.take(np.random.default_rng(0).permutation(want.num_rows))
    assert checks.check_dedup(shuffled, want) == []
    c = want["canonical_id"].to_numpy().copy()
    i = int(np.flatnonzero(c != want["doc_id"].to_numpy())[0])
    c[i] = want["doc_id"][i].as_py()
    assert checks.check_dedup(want.set_column(1, "canonical_id", pa.array(c)), want)


@pytest.mark.parametrize(
    "name", ["sessionize", "top_k_per_group", "asof_join", "stream_to_parquet"]
)
def test_events_check(corpus_events, name):
    want = corpus_events[name]
    assert want.num_rows > 0
    assert checks.check_events(name, want.take(np.arange(want.num_rows)[::-1]), want) == []
    assert checks.check_events(name, want.slice(1), want)
    last = want.column_names[-1]
    col = want[last].to_numpy(zero_copy_only=False).copy()
    if name == "asof_join":
        col = np.where(np.isnan(col.astype(float)), 0, col).astype(np.int64)
    col[0] = col[0] + 1
    assert checks.check_events(name, want.set_column(want.num_columns - 1, last, pa.array(col)), want)


def test_written_output_is_read_back_by_the_check(corpus_events, tmp_path):
    wl = workloads.CorpusEvents(None, {}, str(tmp_path))
    wl.want = corpus_events
    path = wl._path("sessionize")
    os.makedirs(path)
    pq.write_table(corpus_events["sessionize"], os.path.join(path, "part-0.parquet"))
    assert wl.check({"sessionize": path}) == {"sessionize": []}
    assert wl.check({"top_k_per_group": wl._path("top_k_per_group")})["top_k_per_group"]
