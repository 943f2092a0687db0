"""The vector arithmetic under every similarity score, one copy each.

The contract: float64 products added in DIMENSION order, which is the
add order of DuckDB's sequential ``list_sum``. Engine and oracle then
agree to the bit, where a BLAS matmul (pairwise or SIMD-lane sums) does
not.

- Engine side: two numpy fold kernels, :func:`seq_dot` (row-wise) and
  :func:`seq_outer` (all pairs). Every Arrow kernel of
  ``operators/similarity.py`` and the block GEMM of
  ``dedup_embedding_cosine`` call them; an L2 distance is
  ``seq_dot(a - b, a - b)``.
- Oracle side: one DuckDB SQL fold, :func:`fold_sql`, with the dot and
  cosine built on it.

The two sides share no code: no oracle string is built from a kernel,
nor a kernel from SQL. They agree because each adds the same products in
the same order, and ``tests/test_vector_fold.py`` pins the kernels to a
left-to-right Python sum.
"""

from __future__ import annotations

import numpy as np

#: The embeddings table's dimension.
DIM = 64


def seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot of two (n, d) float64 matrices, folded over d in
    dimension order: vectorized across rows, sequential across dims."""
    acc = a[:, 0] * b[:, 0]
    for i in range(1, a.shape[1]):
        acc += a[:, i] * b[:, i]
    return acc


def seq_outer(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """All-pairs dots, (n, d) x (m, d) -> (n, m): for every (i, j) the
    same dimension-order fold as :func:`seq_dot`, vectorized across the
    whole block (d BLAS-free steps)."""
    acc = np.multiply.outer(a[:, 0], b[:, 0])
    for i in range(1, a.shape[1]):
        acc += np.multiply.outer(a[:, i], b[:, i])
    return acc


def fold_sql(term: str, dims: int = DIM) -> str:
    """DuckDB: Σ over i = 1..dims of the SQL ``term`` (a function of ``i``),
    summed in order. Terms cast to DOUBLE explicitly: DuckDB's
    list_cosine_similarity accumulates in float32, which lands on the
    wrong side of the 1e-6 rounding boundary."""
    return f"list_sum(list_transform(generate_series(1, {dims}), i -> {term}))"


def dot_sql(a: str, b: str, dims: int = DIM) -> str:
    return fold_sql(f"CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)", dims)


def cos_sql(a: str, b: str, dims: int = DIM) -> str:
    return (
        f"{dot_sql(a, b, dims)} / "
        f"(sqrt({dot_sql(a, a, dims)}) * sqrt({dot_sql(b, b, dims)}))"
    )
