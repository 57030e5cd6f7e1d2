"""Data-free tests of the one-task graph kernels (K1 pagerank, K15
personalized pagerank, K4 BFS levels) against the pure-Python
references in ``graph_reference.py``: random small graphs, all-dangling
graphs, a single node, graphs without seeds, int64 overflow and a
partition with no Arrow batches. No Spark session and no corpus."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from graph_reference import (
    bfs_reference,
    is_ppr_seed,
    pagerank_reference,
    ppr_reference,
)
from spark_file_mover_spark.operators.graph import (
    _PR_ENTITY_BASE,
    _PR_SCALE,
    _adjacency_columns,
    _bfs_kernel,
    _pagerank_kernel,
    _ppr_kernel,
    _sum_at,
    _tagged_columns,
    _task,
)

# user ids below the entity base (seeds among them) and entity ids above
_IDS = st.one_of(
    st.integers(0, 70), st.integers(_PR_ENTITY_BASE, _PR_ENTITY_BASE + 20)
)
# S0 as in production, and large enough that some graphs leave int64
_SCALES = st.sampled_from([_PR_SCALE, 10**16, 2 * 10**17])


@st.composite
def graphs(draw, min_nodes=0):
    nodes = sorted(draw(st.sets(_IDS, min_size=min_nodes, max_size=24)))
    if not nodes:
        return nodes, []
    pick = st.sampled_from(nodes)
    edges = sorted(draw(st.sets(st.tuples(pick, pick), max_size=60)))
    return nodes, edges


def _arrays(nodes, edges):
    """The kernel's input columns, nodes in reverse order so the
    kernel's sort is exercised."""
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    node = np.array(nodes[::-1], dtype=np.int64)
    deg = np.array([outdeg.get(v, 0) for v in nodes[::-1]], dtype=np.int64)
    src = np.array([s for s, _ in edges], dtype=np.int64)
    dst = np.array([d for _, d in edges], dtype=np.int64)
    return node, deg, src, dst


def _outcome(fn):
    """A call's result, or the class of the arithmetic error it raised."""
    try:
        return fn()
    except (OverflowError, ZeroDivisionError) as e:
        return type(e)


def _as_dict(pair) -> dict[int, int]:
    node, val = pair
    return dict(zip(node.tolist(), val.tolist()))


def _run(kernel, nodes, edges, scale):
    return _outcome(lambda: _as_dict(kernel(*_arrays(nodes, edges), scale=scale)))


@settings(max_examples=150, deadline=None)
@given(g=graphs(), scale=_SCALES)
def test_pagerank_kernel_matches_reference(g, scale):
    nodes, edges = g
    want = _outcome(lambda: pagerank_reference(nodes, edges, scale))
    assert _run(_pagerank_kernel, nodes, edges, scale) == want


@settings(max_examples=150, deadline=None)
@given(g=graphs(), scale=_SCALES)
def test_ppr_kernel_matches_reference(g, scale):
    nodes, edges = g
    want = _outcome(lambda: ppr_reference(nodes, edges, scale))
    assert _run(_ppr_kernel, nodes, edges, scale) == want


@settings(max_examples=150, deadline=None)
@given(g=graphs())
def test_bfs_kernel_matches_reference(g):
    _, edges = g
    src = np.array([s for s, _ in edges], dtype=np.int64)
    dst = np.array([d for _, d in edges], dtype=np.int64)
    assert _as_dict(_bfs_kernel(src, dst)) == bfs_reference(edges)


def test_all_dangling_graph():
    nodes = [0, 16, 5, _PR_ENTITY_BASE + 1]
    assert _run(_pagerank_kernel, nodes, [], _PR_SCALE) == pagerank_reference(
        nodes, []
    )
    got = _run(_ppr_kernel, nodes, [], _PR_SCALE)
    assert got == ppr_reference(nodes, [])
    # with no edges the mass stays on the seeds
    assert {v for v, r in got.items() if r} == {v for v in nodes if is_ppr_seed(v)}
    assert _as_dict(_bfs_kernel(*_arrays(nodes, [])[2:])) == {}


def test_single_node():
    assert _run(_pagerank_kernel, [7], [], _PR_SCALE) == {7: _PR_SCALE}
    assert _run(_ppr_kernel, [0], [], _PR_SCALE) == {0: _PR_SCALE}
    assert _run(_ppr_kernel, [0], [(0, 0)], _PR_SCALE) == ppr_reference(
        [0], [(0, 0)]
    )
    assert _as_dict(_bfs_kernel(np.array([10]), np.array([10]))) == {10: 0}


def test_graph_without_seeds_raises():
    nodes = [1, 3, _PR_ENTITY_BASE]
    edges = [(1, _PR_ENTITY_BASE), (_PR_ENTITY_BASE, 3)]
    with pytest.raises(ZeroDivisionError):
        _ppr_kernel(*_arrays(nodes, edges))
    # an empty graph has nothing to rank and no quota to divide
    assert _run(_ppr_kernel, [], [], _PR_SCALE) == {}


def test_damped_mass_overflow_raises():
    """85·(contrib + dang div N) past 2^63 raises like the ANSI loop,
    where numpy alone would wrap."""
    scale = 2 * 10**17  # one dangling node: 85 · 2e17 > 2^63
    with pytest.raises(OverflowError):
        _pagerank_kernel(*_arrays([7], []), scale=scale)
    with pytest.raises(OverflowError):
        pagerank_reference([7], [], scale)


def test_contribution_sum_overflow_raises():
    """Fifty ranks of 2e17 flowing into one node sum past 2^63."""
    nodes = list(range(1, 52))
    edges = [(v, 51) for v in range(1, 51)]
    with pytest.raises(OverflowError):
        _pagerank_kernel(*_arrays(nodes, edges), scale=2 * 10**17)


def test_sum_at_is_exact_above_2_53():
    vals = np.array([2**53 + 1, 2**53 + 3, 5, 2**62], dtype=np.int64)
    idx = np.array([0, 0, 0, 1])
    got = _sum_at(idx, vals, 2)
    assert got.tolist() == [2**54 + 9, 2**62]
    with pytest.raises(OverflowError):
        _sum_at(np.array([0, 0]), np.array([2**62, 2**62], dtype=np.int64), 1)


@pytest.mark.parametrize(
    "kernel, unpack, value",
    [
        (_pagerank_kernel, _tagged_columns, "rank"),
        (_ppr_kernel, _tagged_columns, "rank"),
        (_bfs_kernel, _adjacency_columns, "dist"),
    ],
)
def test_partition_without_batches_yields_empty_frame(kernel, unpack, value):
    frames = list(_task(kernel, unpack, value, iter([])))
    assert len(frames) == 1
    assert list(frames[0].columns) == ["node", value]
    assert len(frames[0]) == 0
