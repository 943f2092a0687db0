"""The fold contract under every similarity score, without a Spark session:
``seq_dot`` and ``seq_outer`` add each element's products in dimension
order, bit for bit the left-to-right sum of plain Python floats (and of
DuckDB's ``list_sum``, which the oracles use)."""

from __future__ import annotations

import numpy as np
import pytest

from map_reduce_go_spark.functions.vectors import seq_dot, seq_outer


def _left_fold(x, y) -> float:
    acc = float(x[0]) * float(y[0])
    for i in range(1, len(x)):
        acc = acc + float(x[i]) * float(y[i])
    return acc


@pytest.mark.parametrize("rows", [0, 1, 7])
@pytest.mark.parametrize("dims", [64, 16])
def test_seq_kernels_equal_the_left_to_right_sum(dims, rows):
    rng = np.random.default_rng(1000 * dims + rows)
    a = rng.standard_normal((rows, dims))
    b = rng.standard_normal((rows, dims))
    c = rng.standard_normal((5, dims))
    assert seq_dot(a, b).tolist() == [_left_fold(x, y) for x, y in zip(a, b)]
    assert seq_outer(a, c).tolist() == [[_left_fold(x, z) for z in c] for x in a]
    assert seq_outer(a, c).shape == (rows, 5)


@pytest.mark.parametrize("dims,far", [(64, 33), (16, 9)])
def test_seq_kernels_do_not_reassociate(dims, far):
    """1 + 2^53 rounds back to 2^53, so the dimension-order fold of
    (1, 2^53, ..., -2^53) is 0.0, while the exact sum is 1.0. A
    reassociating sum (BLAS lanes in np.dot or matmul, pairwise
    summation, math.fsum) cancels the two large terms first and returns
    1.0, so swapping either kernel for one of them fails here."""
    a = np.zeros((1, dims))
    a[0, 0], a[0, 1], a[0, far] = 1.0, 2.0**53, -(2.0**53)
    ones = np.ones((1, dims))
    assert _left_fold(a[0], ones[0]) == 0.0
    assert seq_dot(a, ones).tolist() == [0.0]
    assert seq_outer(a, ones).tolist() == [[0.0]]
