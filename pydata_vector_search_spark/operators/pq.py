"""Product Quantization (PQ) — the memory-side ANN tier (Jégou, Douze &
Schmid, "Product quantization for nearest neighbor search", TPAMI 2011).

Where IVF (operators/ann.py) prunes which PARTITIONS are scanned, PQ
shrinks what each scanned ROW costs: the vector is split into ``m``
subspaces, each sub-vector replaced by the id of its nearest codebook
entry (256 codes → 1 byte per subspace). A 64-dim float64 row (512 B)
becomes an 8-byte code — ×64 less probe I/O — and query-time scoring is
table lookups, not arithmetic: the query precomputes an ADC
(asymmetric-distance) table of ‖q_sub − c‖² for every (subspace, code),
and a row's approximate distance is ``Σ_m LUT[m][code_m]``.

Spark-first shapes:

* training — per-subspace Lloyd iterations over a driver-side sample
  (the standard recipe; bounded driver memory at any corpus size —
  exactly the trade ``ann.train_centroids`` documents);
* encoding — one Arrow-batched pandas UDF: a single numpy distance
  computation per batch per subspace, emits ``array<int>`` codes;
* search — the LUT is tiny (m × 256 float64 ≈ 16 KB) and is closure-
  broadcast inside a pandas UDF; approximate scores feed a SHORTLIST
  top-N (TakeOrderedAndProject — per-partition heaps, no shuffle), and
  the shortlist is exact re-ranked against the true vectors. With
  ``shortlist >= corpus`` the result EQUALS exact KNN (how the declared
  query oracle-checks the full pipeline: codes, LUT, shortlist and
  re-rank all participate in a hash-verified answer; recall at small
  shortlists is pinned by tests instead).

Composes with IVF: PQ-encode each IVF partition's rows and the probe
reads ``nprobe/num_centroids`` of the data at 1 byte per subspace —
IVF×PQ, the FAISS ``IVFPQ`` layout, falls out of running both.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from pydata_vector_search_spark.operators.ann import _normalize


@dataclass
class PQCodebooks:
    """(m, k, dsub) float64 — codebooks[s][c] is code c of subspace s."""
    books: np.ndarray
    metric: str

    @property
    def m(self) -> int:
        return self.books.shape[0]

    @property
    def dsub(self) -> int:
        return self.books.shape[2]


def pq_train(df: DataFrame, vector_col: str, m: int = 8,
             k_codes: int = 256, seed: int = 42, max_iter: int = 10,
             metric: str = "l2",
             sample_size: int = 65536) -> PQCodebooks:
    """Train per-subspace codebooks on a driver-side sample. ``metric``
    'cosine' unit-normalizes rows first (then L2 in the normalized space
    ranks identically to cosine — the standard PQ-for-cosine trick).

    The sample is the ``sample_size`` rows with the smallest seeded
    CONTENT hash of the vector (``xxhash64`` + orderBy+limit →
    TakeOrderedAndProject: per-partition heaps, one scan, no shuffle of
    the data). Unlike a prefix ``limit()``, this is a uniform pseudo-
    random draw that is independent of row order — on a sorted or
    clustered 100-TB corpus the codebooks no longer train on a biased
    leading slice — and it is deterministic given (data, seed) no matter
    the partitioning."""
    sample = (df.select(F.col(vector_col))
                .orderBy(F.xxhash64(F.col(vector_col), F.lit(seed)))
                .limit(sample_size).toPandas())
    X = np.stack(sample.iloc[:, 0].to_numpy()).astype(np.float64)
    if metric == "cosine":
        X = _normalize(X)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, min(k_codes, len(X)), dsub))
    for s in range(m):
        Xs = X[:, s * dsub:(s + 1) * dsub]
        C = Xs[rng.choice(len(Xs), size=books.shape[1], replace=False)]
        for _ in range(max_iter):
            d = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = np.argmin(d, axis=1)
            for j in range(len(C)):
                members = Xs[assign == j]
                if len(members):
                    C[j] = members.mean(axis=0)
        books[s] = C
    return PQCodebooks(books=books, metric=metric)


def pq_encode(df: DataFrame, vector_col: str, cb: PQCodebooks,
              code_col: str = "pq_code") -> DataFrame:
    """Append ``code_col`` (array<int>, length m): per-subspace nearest
    codebook id. One Arrow batch → one numpy distance kernel per
    subspace; no shuffle."""
    books, metric, dsub = cb.books, cb.metric, cb.dsub

    @pandas_udf("array<int>")
    def _enc(vs: pd.Series) -> pd.Series:
        if vs.empty:
            return pd.Series([], dtype=object)
        V = np.stack(vs.to_numpy()).astype(np.float64)
        if metric == "cosine":
            V = _normalize(V)
        codes = np.empty((len(V), books.shape[0]), dtype=np.int32)
        for s in range(books.shape[0]):
            Vs = V[:, s * dsub:(s + 1) * dsub]
            d = ((Vs[:, None, :] - books[s][None, :, :]) ** 2).sum(-1)
            codes[:, s] = np.argmin(d, axis=1)
        return pd.Series(list(codes))

    return df.withColumn(code_col, _enc(F.col(vector_col)))


def pq_adc_distance(code_col: Column | str, cb: PQCodebooks,
                    query_vec: Sequence[float]) -> Column:
    """Approximate squared L2 distance of the encoded row to
    ``query_vec`` via the ADC lookup table (m × k float64, closure-
    shipped — ~16 KB)."""
    q = np.asarray(query_vec, dtype=np.float64)
    if cb.metric == "cosine":
        q = q / (np.linalg.norm(q) or 1.0)
    dsub = cb.dsub
    lut = np.stack([((cb.books[s] - q[s * dsub:(s + 1) * dsub]) ** 2).sum(-1)
                    for s in range(cb.m)])          # (m, k)

    @pandas_udf("double")
    def _adc(codes: pd.Series) -> pd.Series:
        if codes.empty:
            return pd.Series([], dtype="float64")
        C = np.stack(codes.to_numpy()).astype(np.int64)   # (n, m)
        return pd.Series(lut[np.arange(lut.shape[0])[None, :], C].sum(1))

    return _adc(F.col(code_col) if isinstance(code_col, str) else code_col)


def pq_search(df: DataFrame, vector_col: str, code_col: str,
              cb: PQCodebooks, query_vec: Sequence[float], k: int = 10,
              shortlist: int = 256, metric: str | None = None,
              distance_col: str = "_distance",
              tiebreaker: str | None = None,
              round_to: int | None = None) -> DataFrame:
    """ADC shortlist → exact re-rank: rows are scored by the PQ lookup
    (codes only — the true vectors are not touched), the best
    ``shortlist`` survive (TakeOrderedAndProject), and those few rows
    get the exact distance in ``metric`` (default: the codebooks'). The
    returned columns/ordering contract matches ``knn.vector_search``."""
    from pydata_vector_search_spark.functions.vector import _query_kernel
    from pydata_vector_search_spark.operators.knn import _top_k

    approx = df.withColumn("__adc", pq_adc_distance(code_col, cb,
                                                    query_vec))
    order = [F.col("__adc").asc()]
    if tiebreaker:
        order.append(F.col(tiebreaker).asc())
    short = approx.orderBy(*order).limit(shortlist).drop("__adc")
    # Nondeterministic only to keep Catalyst from pushing the distance
    # projection below the shortlist's LIMIT: between that limit and its
    # ORDER BY, the extracted Python UDF would split the shortlist's
    # TakeOrderedAndProject into a global range sort (4 Spark jobs, not 1).
    kernel = _query_kernel(metric or cb.metric, query_vec).asNondeterministic()
    return _top_k(short, kernel(F.col(vector_col)), k, distance_col,
                  tiebreaker, round_to)


def ivfpq_search(spark, index, cb: PQCodebooks,
                 query_vec: Sequence[float], k: int = 10,
                 nprobe: int = 8, shortlist: int = 256,
                 code_col: str = "pq_code",
                 distance_col: str = "_distance",
                 tiebreaker: str | None = None,
                 round_to: int | None = None) -> DataFrame:
    """IVF×PQ — both ANN tiers composed, the FAISS ``IVFPQ`` layout
    (flat-PQ variant: codes quantize the raw vectors, not centroid
    residuals): the IVF probe prunes WHICH partitions are scanned (the
    scan lists only the probed directories and keeps the ``__cid IN
    (...)`` partition filter; one Spark job up to 32 probed paths, past
    which Spark lists them in a parallel job), PQ shrinks what each
    scanned row COSTS (ADC table lookups over 1-byte-per-subspace
    codes), the shortlist is exact re-ranked on true vectors. At 100 TB the probe reads ``nprobe/num_centroids`` of
    the corpus at ``m`` bytes per row for ranking — both prune factors
    multiply.

    ``index`` is an ``ann.IVFIndex`` built over a ``pq_encode``-ed
    DataFrame (the code column rides the partitioned parquet for free —
    columnar storage, pruned away by full-vector probes). With
    ``nprobe >= num_centroids`` and ``shortlist >=`` probed rows the
    result EQUALS exact KNN (how the declared query oracle-checks the
    whole composed pipeline); pruned recall is pinned in tests."""
    from pydata_vector_search_spark.operators.ann import (_CID, _probe_scan,
                                                          probe_cids)

    data = _probe_scan(spark, index, probe_cids(index, query_vec, nprobe))
    return pq_search(data, index.vector_col, code_col, cb, query_vec,
                     k=k, shortlist=shortlist, distance_col=distance_col,
                     tiebreaker=tiebreaker, round_to=round_to).drop(_CID)
