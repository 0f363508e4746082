"""Vector distances over ``array<float>`` / ``array<double>`` columns.

The reference scores every search with the cosine ``_distance`` that the
Lance index inside the ``hudi_vector_search`` TVF computes, with
score = 1 - _distance (demo.ipynb c11:7-13, raw L724-728). Here the three
metrics (cosine, l2, dot) have one form per job:

* ``distance_expr_lit`` — against a constant query vector: the exact-search
  scan. An Arrow ``pandas_udf`` closes over the float64 query; each batch
  is one ``matrix @ q``, accumulated in float64. The query lives in the
  Python closure, not in the plan's expressions, so the plan of every
  search is the same and a new query vector generates no new code.
* ``distance_arrow`` — column against column, for batch-join candidate
  scoring. The same per-batch kernel.
* The higher-order-function fold (``dot_product``, ``cosine_distance``,
  ... and ``distance_expr``) — a Catalyst expression for query vectors
  that are themselves Columns; it is also the body of the SQL functions
  (functions/sql.py) and the reference the kernels are tested against.

All forms agree after in-query rounding (like the DuckDB oracle).
Catalyst pushes filters below the distance column (the pre-filter hybrid
search the reference lacks, demo.ipynb c13:1-4), and the scan stays
embarrassingly parallel over partitions: no shuffle, no driver work, and
column pruning keeps the bytes read proportional to the vector column.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf


def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


def _to_double(x: Column) -> Column:
    return x.cast("double")


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Left-to-right double-precision fold of elementwise products."""
    a, b = _c(a), _c(b)
    prod = F.zip_with(a, b, lambda x, y: _to_double(x) * _to_double(y))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    a = _c(a)
    sq = F.transform(a, lambda x: _to_double(x) * _to_double(x))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def l2_distance(a: Column | str, b: Column | str) -> Column:
    a, b = _c(a), _c(b)
    d = F.zip_with(a, b, lambda x, y: (_to_double(x) - _to_double(y)) ** 2)
    return F.sqrt(F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    """Reference metric: `_distance` in [0, 2], score = 1 - _distance."""
    return F.lit(1.0) - cosine_similarity(a, b)


_METRICS = {
    "cosine": cosine_distance,
    "l2": l2_distance,
    "dot": lambda a, b: -dot_product(a, b),  # larger dot = closer → negate
}


def _check_metric(metric: str) -> None:
    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(_METRICS)}")


def distance_expr(metric: str, a: Column | str, b: Column | str) -> Column:
    _check_metric(metric)
    return _METRICS[metric](a, b)


# --------------------------------------------------------------------------
# Arrow kernels: one numpy pass per batch
# --------------------------------------------------------------------------

def _matrix(vs: np.ndarray, dim: int) -> np.ndarray:
    """Non-NULL vectors as one ``rows × dim`` float64 matrix."""
    lens = np.fromiter(map(len, vs), np.int64, len(vs))
    bad = lens[lens != dim]
    if bad.size:
        raise ValueError(f"vector of length {int(bad[0])} does not match "
                         f"the query vector's length {dim}")
    if not len(vs):
        return np.empty((0, dim))
    return np.stack(vs).astype(np.float64, copy=False)


def _distances(metric: str, A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Distances of the rows of ``A`` to ``B``: one vector (a constant
    query) or a row-aligned matrix. NaN where the distance is undefined
    (a zero norm under cosine); the Arrow conversion returns NaN as NULL."""
    if metric == "l2":
        # Σ(a−b)² directly: the |a|²−2ab+|b|² expansion cancels
        # catastrophically for near-identical vectors
        return np.sqrt(((A - B) ** 2).sum(axis=1))
    dots = A @ B if B.ndim == 1 else (A * B).sum(axis=1)
    if metric == "dot":
        return -dots
    norms = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=-1)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(norms == 0, np.nan, 1.0 - dots / norms)


def _query_kernel(metric: str, q: Sequence[float]):
    """The ``pandas_udf`` behind ``distance_expr_lit``, for a caller that
    needs the UDF object itself (``pq_search`` marks its copy
    nondeterministic). Checks ``q`` as ``distance_expr_lit`` does."""
    _check_metric(metric)
    qv = np.asarray(q, dtype=np.float64)
    if qv.ndim != 1 or not qv.size:
        raise ValueError("the query vector must be a non-empty 1-D sequence")
    if not np.isfinite(qv).all():
        raise ValueError("non-finite query-vector component: "
                         f"{qv[~np.isfinite(qv)][0]}")
    if metric == "cosine" and not np.linalg.norm(qv):
        raise ValueError("a zero-norm query vector has no cosine distance")
    dim = qv.size

    @pandas_udf("double")
    def _d(xs: pd.Series) -> pd.Series:
        valid = xs.notna().to_numpy()
        out = np.full(len(xs), np.nan)
        out[valid] = _distances(metric, _matrix(xs.to_numpy()[valid], dim), qv)
        return pd.Series(out)

    return _d


def distance_expr_lit(metric: str, a: Column | str,
                      q: Sequence[float]) -> Column:
    """Distance of every vector in column ``a`` to the constant query ``q``.

    The query is checked on the driver, before any job: an empty query, a
    non-finite component or (under cosine) a zero norm raises
    ``ValueError``. A distance that is not a number is NULL: a NULL row, a
    zero-norm row under cosine, a row with NaN components. A row of another
    length than ``q`` fails the query with an error naming both lengths.
    The column is deterministic, so Catalyst still pushes a later filter
    below it and into the scan."""
    return _query_kernel(metric, q)(_c(a))


def distance_arrow(metric: str, a: Column | str, b: Column | str) -> Column:
    """Column-vs-column distance for batch-join candidate scoring, with the
    same per-batch kernel and edge behaviour as ``distance_expr_lit``: a
    pair with a NULL side gets a NULL distance, and ``b`` must have the
    length of ``a`` (the query side)."""
    _check_metric(metric)

    @pandas_udf("double")
    def _d(xs: pd.Series, ys: pd.Series) -> pd.Series:
        valid = (xs.notna() & ys.notna()).to_numpy()
        xs, ys = xs.to_numpy()[valid], ys.to_numpy()[valid]
        dim = len(xs[0]) if len(xs) else 0
        out = np.full(len(valid), np.nan)
        out[valid] = _distances(metric, _matrix(xs, dim), _matrix(ys, dim))
        return pd.Series(out)

    return _d(_c(a), _c(b))


def query_vector_lit(vec) -> Column:
    """A query vector as a literal ``array<double>`` column, for the HOF
    forms (the reference resolves its query subquery to a literal the same
    way, demo.ipynb c11:10)."""
    return F.array(*[F.lit(float(v)) for v in vec])
