"""The generators are deterministic in the seed and produce the stated shapes."""

import filecmp
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen, workloads


def _files(d):
    return sorted(
        os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs
    )


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    a = gen.write_inputs(workload, 7, str(tmp_path / "a"))
    b = gen.write_inputs(workload, 7, str(tmp_path / "b"))
    c = gen.write_inputs(workload, 8, str(tmp_path / "c"))
    names = _files(str(tmp_path / "a"))
    assert names == _files(str(tmp_path / "b")) == _files(str(tmp_path / "c"))
    assert a["rows"] == b["rows"]
    for n in names:
        assert filecmp.cmp(tmp_path / "a" / n, tmp_path / "b" / n, shallow=False), n
    assert any(
        not filecmp.cmp(tmp_path / "a" / n, tmp_path / "c" / n, shallow=False) for n in names
    )


def test_graph_shape_is_fixed_across_seeds():
    for seed in (1, 2, 3):
        t = gen.graph_edges(seed)
        g = checks.Graph(t)
        assert g.n == gen.GRAPH_VERTICES
        src, dst = t["src"].to_numpy(), t["dst"].to_numpy()
        assert not np.any(src == dst)
        assert len(set(zip(src.tolist(), dst.tolist()))) == t.num_rows
        # the spine fixes the BFS depth from the sources
        assert checks.bfs_depth(g, workloads.BETWEENNESS_SOURCES) == len(gen.GRAPH_LEVELS)
        # some vertices are dangling, so pagerank redistributes their mass
        assert np.bincount(g.src, minlength=g.n).min() == 0


def test_corpus_plants_duplicates_and_events_arrive_in_slices(tmp_path):
    info = gen.write_inputs("corpus-events", 3, str(tmp_path))
    docs = pq.read_table(info["docs"])["text"].to_pylist()
    assert len(docs) == gen.CORPUS_DOCS
    assert len(set(docs)) < len(docs)  # exact copies are planted
    files = sorted(os.listdir(info["events"]))
    assert len(files) == gen.EVENT_FILES
    mtimes = [os.path.getmtime(os.path.join(info["events"], f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    slices = [pq.read_table(os.path.join(info["events"], f)) for f in files]
    ts = [s["ts"].cast("int64").to_numpy() for s in slices]
    assert sum(len(t) for t in ts) == gen.EVENT_ROWS
    # out of order inside a file, and never later than the watermark allows
    assert any(np.any(np.diff(t) < 0) for t in ts)
    for earlier, later in zip(ts, ts[1:]):
        assert later.min() > earlier.max() - checks.WATERMARK_US
