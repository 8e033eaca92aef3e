"""The one cosine kernel of operators/similarity.py, with no JVM.

``_fold_cos`` must be bitwise the left-to-right fold cosine the DuckDB
oracle computes (list_reduce over the dimensions), for every entry of its
matrix: the IVF cell assignment, the k-means++ sweeps, both searches and
the near-duplicate pair scorer all rank or threshold its doubles.  The
reference here is a pure-Python fold, one pair at a time."""

import math

import numpy as np
import pytest

from image_ocr_spark.operators.similarity import (
    _blocked_cos_pairs,
    _fold_cos,
    _nearest,
)


def _py_cos(a, b) -> float:
    """Pure-Python left fold: acc = acc + x*y per dimension, ascending."""
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot = dot + x * y
        na = na + x * x
        nb = nb + y * y
    n2 = na * nb
    return dot / math.sqrt(n2) if n2 > 0 else -math.inf


def _matrices(seed: int, f32: bool):
    rng = np.random.default_rng(seed)
    n, m, d = (int(x) for x in rng.integers(1, 40, size=3))
    A = rng.standard_normal((n, d)) * 10.0 ** rng.integers(-3, 4)
    B = rng.standard_normal((m, d))
    if f32:  # float32-valued doubles, as an array<float> column reads
        A = A.astype(np.float32).astype(np.float64)
        B = B.astype(np.float32).astype(np.float64)
    A[rng.integers(n)] = 0.0  # a zero-norm row: no direction
    return A, B


@pytest.mark.parametrize("f32", [True, False], ids=["float32", "double"])
@pytest.mark.parametrize("seed", range(12))
def test_fold_cos_is_the_sequential_fold(seed, f32):
    A, B = _matrices(seed, f32)
    got = _fold_cos(A, B)
    want = np.array([[_py_cos(a, b) for b in B.tolist()] for a in A.tolist()])
    assert got.shape == (len(A), len(B))
    assert got.tobytes() == want.tobytes()  # bitwise, -inf included
    assert _fold_cos(B, A).T.tobytes() == got.tobytes()  # either operand order


def test_zero_norm_rows_score_minus_inf():
    A = np.array([[0.0, 0.0, 0.0], [1.0, 2.0, 3.0]])
    got = _fold_cos(A, A)
    assert np.isneginf(got[0]).all() and np.isneginf(got[:, 0]).all()
    assert got[1, 1] == _py_cos([1.0, 2.0, 3.0], [1.0, 2.0, 3.0])


def test_nearest_skips_minus_inf_and_breaks_ties_by_column():
    sims = np.array(
        [
            [0.5, 0.9, 0.9, -np.inf],
            [-np.inf, -np.inf, -np.inf, -np.inf],
            [0.1, -np.inf, 0.3, 0.2],
        ]
    )
    rows, cols = _nearest(sims, 3)
    assert list(zip(rows.tolist(), cols.tolist())) == [
        (0, 1), (0, 2), (0, 0), (2, 2), (2, 3), (2, 0),
    ]
    rows, cols = _nearest(sims, 1)
    assert list(zip(rows.tolist(), cols.tolist())) == [(0, 1), (2, 2)]


@pytest.mark.parametrize("f32", [True, False], ids=["float32", "double"])
@pytest.mark.parametrize("triangle", [True, False], ids=["diagonal", "cross"])
def test_blocked_pairs_select_floor_milli_at_threshold(triangle, f32):
    """_blocked_cos_pairs keeps a pair iff floor(1000 * cos) >= threshold,
    over tiles smaller than either side, with the diagonal shape emitting
    each unordered pair once and the cross shape as (min, max)."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((4, 6))
    V = np.repeat(base, 5, axis=0) + 0.05 * rng.standard_normal((20, 6))
    if f32:
        V = V.astype(np.float32).astype(np.float64)
    V[3] = 0.0  # zero-norm rows pair with nothing
    ids = np.arange(20, dtype=np.int64) * 3
    threshold = 990
    if triangle:
        sides = (ids, V, ids, V)
        cand = [(i, j) for i in range(20) for j in range(i + 1, 20)]
    else:
        a, b = ids % 2 == 0, ids % 2 == 1
        sides = (ids[a], V[a], ids[b], V[b])
        cand = [
            (i, j) for i in np.flatnonzero(a) for j in np.flatnonzero(b)
        ]
    out_a: list = []
    out_b: list = []
    out_c: list = []
    _blocked_cos_pairs(*sides, triangle, 3, threshold, out_a, out_b, out_c)
    got = sorted(zip(map(int, out_a), map(int, out_b), map(int, out_c)))
    want = []
    for i, j in cand:
        cos = _py_cos(V[i].tolist(), V[j].tolist())
        if math.isfinite(cos) and math.floor(1000.0 * cos) >= threshold:
            lo, hi = sorted((int(ids[i]), int(ids[j])))
            want.append((lo, hi, math.floor(1000.0 * cos)))
    assert got == sorted(want) and len(want) > 5
