"""The per-block DBSCAN kernel (ml/dbscan.py::_block_labels) against the
brute-force reference, without Spark."""

import math
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from neurondb_spark.ml.dbscan import _block_labels  # noqa: E402
from tests.conftest import dbscan_reference  # noqa: E402


def _labels(rows, eps, min_samples):
    ids = [i for i, _v in rows]
    X = np.array([v for _i, v in rows], dtype=np.float64)
    return dict(zip(ids, _block_labels(np.array(ids), X, eps, min_samples).tolist()))


def _fold_l2(v, w):
    """The distance kernel's op order: left-associative Σ (x − y)², sqrt."""
    s = 0.0
    for x, y in zip(v, w):
        s = s + (x - y) * (x - y)
    return math.sqrt(s)


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("eps,min_samples", [(0.6, 2), (0.9, 3), (1.4, 5)])
def test_random_blocks_equal_reference(seed, eps, min_samples):
    rng = np.random.default_rng(seed)
    n, d = int(rng.integers(1, 60)), int(rng.integers(1, 6))
    centers = rng.normal(0, 3, (3, d))
    X = centers[rng.integers(0, 3, n)] + rng.normal(0, 0.5, (n, d))
    ids = rng.permutation(10 * n)[:n] + 7  # unordered, non-contiguous
    rows = [(int(i), x.tolist()) for i, x in zip(ids, X)]
    assert _labels(rows, eps, min_samples) == dbscan_reference(rows, eps, min_samples)


def test_pair_exactly_at_eps_is_a_neighbour():
    # norms around 1e3 make the GEMM distance differ from the fold in the
    # last bits; the exact recheck decides: at eps the pair is in, one
    # ulp below it is out
    a, b = [1000.1, 0.3, -7.7], [1000.7, -0.2, -7.1]
    eps = _fold_l2(a, b)
    rows = [(1, a), (2, b)]
    assert _labels(rows, eps, 2) == {1: 1, 2: 1}
    assert _labels(rows, math.nextafter(eps, 0.0), 2) == {1: -1, 2: -1}
    # the reference agrees where the distance is exact in both orders
    rows = [(1, [0.0, 0.0]), (2, [3.0, 4.0])]
    assert _labels(rows, 5.0, 2) == dbscan_reference(rows, 5.0, 2) == {1: 1, 2: 1}


def test_all_noise():
    rows = [(i, [float(i), 0.0]) for i in range(10)]
    assert _labels(rows, 0.5, 2) == {i: -1 for i in range(10)}
    assert _labels(rows, 1.5, 4) == dbscan_reference(rows, 1.5, 4)
    assert _block_labels(np.array([], dtype=np.int64), np.zeros((0, 3)), 1.0, 2).tolist() == []


def test_isolated_core_labels_itself_and_its_borders():
    # 0 is core (itself + two neighbours at 0.4); 1 and 2 are 0.8 apart,
    # so each has degree 2: border points of a core with no core neighbour
    rows = [(5, [0.0, 0.0]), (1, [-0.4, 0.0]), (2, [0.4, 0.0])]
    rows += [(10 + k, [5.0 + 0.1 * k, 5.0]) for k in range(5)]
    rows += [(99, [50.0, 50.0])]
    got = _labels(rows, 0.5, 3)
    assert got == dbscan_reference(rows, 0.5, 3)
    assert got[5] == got[1] == got[2] == 5 and got[99] == -1
    assert {got[10 + k] for k in range(5)} == {10}


def test_border_takes_min_label_of_its_core_neighbours():
    # 4 has one core neighbour in each cluster and degree 3 < 4, so it is
    # a border point of both; it takes the smaller label, 10
    rows = [(20, [0.0]), (21, [0.02]), (22, [0.04]), (23, [0.15]), (4, [0.6]),
            (10, [1.05]), (11, [1.1]), (12, [1.15]), (13, [1.2])]
    got = _labels(rows, 0.5, 4)
    assert got == dbscan_reference(rows, 0.5, 4)
    assert got == {20: 20, 21: 20, 22: 20, 23: 20, 4: 10,
                   10: 10, 11: 10, 12: 10, 13: 10}


def test_chain_merges_through_union_find():
    # a long chain of cores, ids in reverse order along it
    rows = [(100 - i, [0.3 * i]) for i in range(40)]
    got = _labels(rows, 0.35, 2)
    assert got == dbscan_reference(rows, 0.35, 2)
    assert set(got.values()) == {61}
