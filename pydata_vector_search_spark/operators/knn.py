"""Exact top-k vector search + hybrid (filtered) search as DataFrame plans.

Reference behavior being re-expressed (SURVEY.md §2.2):

* V1 — ``hudi_vector_search(path, col, qvec, k, 'cosine')`` TVF returning rows
  with a ``_distance`` pseudo-column (demo.ipynb c11:7-13, raw L724-728).
* V4 — hybrid search: the reference CANNOT push predicates into its index, so
  it over-fetches k=3000 (≈ whole table) and filters after (demo.ipynb
  c13:1-4, raw L854-857). Here the filter is part of the same Catalyst plan,
  so `PushDownPredicate` moves it below the distance computation — true
  pre-filter hybrid search, the headline improvement (SURVEY.md §4 O1).

Physical shape (verified via .explain in tests): columnar Parquet scan (with
the filter pushed into the scan) → the Arrow distance kernel per batch →
per-partition top-k → driver merge, i.e. Catalyst's ``TakeOrderedAndProject``.
No global sort, no shuffle: at 100 TB / 1000 executors each task keeps a
k-row heap and ships k rows to the driver, so cost is scan-bound and
embarrassingly parallel. The ANN path (operators/
ann.py) prunes the scan itself; this module is the exact mode and the
correctness oracle for it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from pydata_vector_search_spark.functions.vector import (
    distance_expr,
    distance_expr_lit,
)


def vector_search(df: DataFrame,
                  vector_col: str,
                  query_vec: Sequence[float] | Column,
                  k: int = 10,
                  metric: str = "cosine",
                  filter: Column | str | None = None,
                  distance_col: str = "_distance",
                  tiebreaker: str | None = None,
                  round_to: int | None = None) -> DataFrame:
    """Exact top-k nearest rows to ``query_vec``.

    Emits ``distance_col`` (the reference's ``_distance``). ``filter`` gives
    pre-filter hybrid search. ``round_to`` rounds the distance BEFORE the
    ordering, and ``tiebreaker`` (a unique key column) makes the top-k cut
    deterministic under rounded ties — both required for cross-engine
    hash-matching (SURVEY.md §2.6 ⚠).
    """
    if filter is not None:
        df = df.filter(filter)  # pre-filter: Catalyst pushes this into the scan
    if isinstance(query_vec, Column):
        # a Column query is known only per row → HOF expression fold
        dist = distance_expr(metric, F.col(vector_col), query_vec)
    else:
        # a constant query → the Arrow kernel, one matmul per batch
        dist = distance_expr_lit(metric, vector_col, query_vec)
    return _top_k(df, dist, k, distance_col, tiebreaker, round_to)


def _top_k(df: DataFrame, dist: Column, k: int, distance_col: str,
           tiebreaker: str | None, round_to: int | None) -> DataFrame:
    """The ``k`` rows of ``df`` with the smallest ``dist``, as
    ``vector_search`` returns them."""
    if round_to is not None:
        dist = F.round(dist, round_to)
    out = df.withColumn(distance_col, dist)
    # NULL distances (NULL or zero-norm vectors) rank last, never first
    order = [F.col(distance_col).asc_nulls_last()]
    if tiebreaker:
        order.append(F.col(tiebreaker).asc())
    return out.orderBy(*order).limit(k)  # → TakeOrderedAndProject


def hybrid_search_postfilter(df: DataFrame,
                             vector_col: str,
                             query_vec: Sequence[float] | Column,
                             filter: Column,
                             k: int,
                             fetch_k: int,
                             metric: str = "cosine",
                             distance_col: str = "_distance",
                             tiebreaker: str | None = None,
                             round_to: int | None = None) -> DataFrame:
    """Bug-compatible reference semantics (mode="post"): wide fetch of
    ``fetch_k`` (the reference uses k=3000 ≈ full table, demo.ipynb c13:9),
    THEN filter, then top-k. Can return < k rows when the predicate is more
    selective than fetch_k covers — kept only for parity testing; prefer
    ``vector_search(filter=...)``."""
    wide = vector_search(df, vector_col, query_vec, k=fetch_k, metric=metric,
                         distance_col=distance_col, tiebreaker=tiebreaker,
                         round_to=round_to)
    order = [F.col(distance_col).asc_nulls_last()]
    if tiebreaker:
        order.append(F.col(tiebreaker).asc())
    return wide.filter(filter).orderBy(*order).limit(k)


def knn_join(left: DataFrame, right: DataFrame, vector_col: str,
             k: int, metric: str = "cosine",
             left_id: str = "left_id", right_id: str = "right_id",
             distance_col: str = "_distance",
             round_to: int | None = None,
             max_pairs: int | None = 100_000_000) -> DataFrame:
    """For every left row, its k nearest right rows (brute-force block
    nested-loop + per-left-key top-k via window).

    Scale path: broadcast the smaller side (query batch), keep the corpus
    partitioned — Spark plans BroadcastNestedLoopJoin; each executor scores
    its corpus slice against the in-memory query block, and the window
    row_number ≤ k is a partial top-k per query. Pair scoring is the
    Arrow-batched numpy distance (functions/vector.distance_arrow).

    This is the EXACT/oracle form: cost is O(|left|·|right|) pairs. The
    ``max_pairs`` safety valve refuses plans above the cap and points at
    the sub-linear IVF probe join (ann.ivf_knn_join); pass
    ``max_pairs=None`` to force a known-large exact run (the default cap
    is 100M pairs).

    Guard cost: BOUNDED counts, not full ones. Each side is counted
    through ``limit(bound).count()`` — Spark's CollectLimit runs an
    incremental job that stops scanning once ``bound`` rows are seen, so
    a 100-TB corpus pays for at most ``max_pairs/|Q|+1`` rows of the id
    column, never a full plan execution; small inputs finish in the
    first partition. The cap decision is exact: a side that hits its
    bound already proves the product exceeds ``max_pairs``.
    """
    from pyspark.sql import Window

    from pydata_vector_search_spark.functions.vector import distance_arrow

    if max_pairs is not None:
        cap = int(max_pairs)
        # left is the query batch (small by contract): bound at cap+1
        n_l = left.select(left_id).limit(cap + 1).count()
        # right needs only enough rows to prove n_l * n_r > cap
        r_bound = cap // max(n_l, 1) + 1
        n_r = right.select(right_id).limit(r_bound).count()
        # if a bound was hit the count is a lower bound, and by
        # construction n_l * bound > cap — the inequality still decides
        if n_l * n_r > cap:
            hit_l = n_l > cap
            hit_r = n_r >= r_bound
            raise ValueError(
                f"knn_join is brute-force: {'>=' if hit_l else ''}{n_l} x "
                f"{'>=' if hit_r else ''}{n_r} pairs exceeds "
                f"max_pairs={cap:,}. Use ann.ivf_knn_join (IVF probe "
                "equi-join, bounded by |Q|*nprobe) for large query sets, "
                "or pass max_pairs=None to force the exact cross product.")

    lv, rv = f"__lvec", f"__rvec"
    l = left.select(F.col(left_id), F.col(vector_col).alias(lv))
    r = right.select(F.col(right_id), F.col(vector_col).alias(rv))
    dist = distance_arrow(metric, F.col(lv), F.col(rv))
    if round_to is not None:    # round BEFORE the rank for cross-engine ties
        dist = F.round(dist, round_to)
    joined = F.broadcast(l).crossJoin(r).withColumn(distance_col, dist)
    w = Window.partitionBy(left_id).orderBy(
        F.col(distance_col).asc_nulls_last(), F.col(right_id).asc())
    return (joined.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") <= k)
                  .drop("__rn", lv, rv))
