"""The per-partition connected-components kernel
(operators/graph.py::_local_components, _cc_kernel) against union-find,
without Spark."""

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from neurondb_spark.operators.graph import _cc_kernel, _local_components  # noqa: E402
from tests.conftest import union_find_components  # noqa: E402


def _both_ways(edges):
    """The operator's kernel input: both directions plus a self-loop on
    every endpoint."""
    return [r for a, b in edges for r in ((a, b), (b, a), (a, a), (b, b))]


def _split(rows, parts):
    """Rows by a hash of src, as ``repartition(src)`` places them: all of
    a node's src rows land in one partition."""
    out = [[] for _ in range(parts)]
    for s, d in rows:
        out[(s * 2654435761) % 2**32 % parts].append((s, d))
    return out


def _kernel(rows):
    src = np.array([s for s, _d in rows], dtype=np.int64)
    dst = np.array([d for _s, d in rows], dtype=np.int64)
    node, comp, final = _local_components(src, dst)
    return node.tolist(), comp.tolist(), final.tolist()


def _random_edges(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(2, 80))
    ids = (rng.permutation(20 * n)[:n] + 3).tolist()  # unordered ids
    m = int(rng.integers(1, 2 * n))
    edges = [(ids[int(a)], ids[int(b)]) for a, b in rng.integers(0, n, (m, 2))]
    # a long path too, so some components span many partitions
    path = ids[: int(rng.integers(2, n + 1))]
    return edges + list(zip(path, path[1:]))


@pytest.mark.parametrize("seed", range(12))
@pytest.mark.parametrize("parts", [1, 3, 8])
def test_partitions_equal_union_find(seed, parts):
    edges = _random_edges(seed)
    want = union_find_components(edges)
    links = []
    for rows in _split(_both_ways(edges), parts):
        node, comp, final = _kernel(rows)
        assert len(set(node)) == len(node), "a node labelled twice"
        for x, c, f in zip(node, comp, final):
            assert want[c] == want[x] and c >= want[x]
            if f:
                assert c == want[x]
        links += list(zip(node, comp))
    # no edge is lost: the partitions' labels join exactly the components
    assert union_find_components(links) == want
    if parts == 1:
        assert _kernel(_both_ways(edges)) == (
            sorted(want), [want[x] for x in sorted(want)], [True] * len(want)
        )


@pytest.mark.parametrize("seed", range(12))
def test_final_iff_every_node_is_a_src_here(seed):
    edges = _random_edges(seed)
    for rows in _split(_both_ways(edges), 5):
        srcs = {s for s, _d in rows}
        local = union_find_components(rows)
        node, _comp, final = _kernel(rows)
        for x, f in zip(node, final):
            members = {y for y in local if local[y] == local[x]}
            assert f == (members <= srcs)


def test_final_marks_only_closed_components():
    # partition holding 1's and 2's rows: {1, 2} is closed, 5 points at 7
    # whose rows live elsewhere, so {5, 7} is open
    rows = [(1, 2), (2, 1), (1, 1), (2, 2), (5, 7), (5, 5)]
    assert _kernel(rows) == ([1, 2, 5, 7], [1, 1, 5, 5], [True, True, False, False])


def test_empty_partition():
    assert list(_cc_kernel(iter([]))) == []
    empty = pd.DataFrame({"src": np.array([], np.int64), "dst": np.array([], np.int64)})
    assert list(_cc_kernel(iter([empty, empty]))) == []
    assert _kernel([]) == ([], [], [])


def test_batches_concatenated_and_string_ids():
    b1 = pd.DataFrame({"src": ["b", "c", "b"], "dst": ["c", "b", "b"]})
    b2 = pd.DataFrame({"src": ["c", "a", "a"], "dst": ["c", "a", "c"]})
    (out,) = _cc_kernel(iter([b1, pd.DataFrame({"src": [], "dst": []}), b2]))
    assert out.to_dict("list") == {
        "node": ["a", "b", "c"], "comp": ["a", "a", "a"], "final": [True, True, True],
    }
