"""IVF approximate-nearest-neighbor index (SURVEY.md §4 O10, §7 M5).

The reference's ANN comes from the Lance index inside ``hudi_vector_search``
(demo.ipynb c13:2-3 "operates on the full vector index"; index build/params
never shown). Here the index is re-expressed with Spark's own storage
primitives — the design the survey calls out:

* **build**: MLlib KMeans learns ``num_centroids`` centroids (distributed,
  seeded); every row gets its nearest-centroid id; the table is rewritten as
  parquet **partitioned by centroid id**.
* **probe**: rank centroids against the query vector driver-side (k×dim
  floats — tiny), then read ONLY the ``nprobe`` nearest partition
  directories: the scan is handed their paths (the driver lists just
  those directories; the other partitions are never listed or opened)
  plus an ``IN`` filter on the centroid id that Catalyst keeps as a
  partition filter, and exact re-rank inside them with the same
  ``vector_search`` plan used for exact mode (operators/knn.py). The
  schema comes from one parquet footer read on the driver, so a probe
  is one Spark job. Past 32 probed paths
  (``spark.sql.sources.parallelPartitionDiscovery.threshold``) Spark
  lists them in a parallel job of its own.

So "ANN probe" is literally "pruned scan + exact top-k": at 100 TB with
1000 centroids and nprobe=20, each query touches 2% of the data, the probed
partitions scan embarrassingly parallel, and no shuffle happens anywhere.
Recall is governed by nprobe exactly as in classical IVF; exact mode stays
the correctness oracle (tests assert recall against it).

Cosine note: vectors are L2-normalized before clustering, so Euclidean
KMeans on the unit sphere orders centroids identically to cosine distance.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import numpy as np
import pandas as pd
import pyarrow.fs as pafs
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from pydata_vector_search_spark.functions.vector import query_vector_lit
from pydata_vector_search_spark.operators.knn import vector_search

_CID = "__cid"


class StaleIndexError(ValueError):
    """The base table advanced past the commit the index was built at —
    searching it would silently return pre-mutation vectors. Rebuild (or
    opt in with on_stale='ignore' for recall-tolerant reads)."""


def _normalize(v: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(v, axis=-1, keepdims=True)
    return v / np.where(n == 0, 1.0, n)


def train_centroids(df: DataFrame, vector_col: str,
                    num_centroids: int, metric: str = "cosine",
                    seed: int = 42, max_iter: int = 10,
                    backend: str = "sample",
                    sample_size: int = 65536) -> np.ndarray:
    """Learn (num_centroids, dim) float64 centroids.

    ``backend="sample"`` (default): Lloyd iterations in numpy over a
    driver-side sample capped at ``sample_size`` rows — the standard IVF
    training recipe (train on a bounded sample, assign everything): driver
    memory stays bounded no matter the corpus size, and it avoids MLlib's
    per-iteration job overhead (~20s fixed cost even on tiny data).
    ``backend="mllib"``: distributed KMeans over ALL rows for when the
    sample would be unrepresentative; MLlib is used only here (SURVEY §7
    hard-point 4: no VectorUDT leakage — array<float> in, numpy out)."""
    if backend == "mllib":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feats = df.select(F.col(vector_col).cast("array<double>").alias("__arr"))
        if metric == "cosine":
            norm = F.sqrt(F.aggregate(
                F.transform(F.col("__arr"), lambda x: x * x),
                F.lit(0.0), lambda a, x: a + x))
            feats = feats.select(
                F.transform(F.col("__arr"), lambda x: x / norm).alias("__arr"))
        feats = feats.select(array_to_vector("__arr").alias("features"))
        model = KMeans(k=num_centroids, seed=seed, maxIter=max_iter,
                       featuresCol="features").fit(feats)
        return np.array([np.asarray(c, dtype=np.float64)
                         for c in model.clusterCenters()])

    # Seeded CONTENT-hash sample (TakeOrderedAndProject — per-partition
    # heaps, one scan): a uniform pseudo-random draw independent of row
    # order, so a sorted/clustered corpus never trains centroids on a
    # biased leading slice (a plain limit() would), and deterministic
    # given (data, seed) regardless of partitioning.
    sample = (df.select(F.col(vector_col))
                .orderBy(F.xxhash64(F.col(vector_col), F.lit(seed)))
                .limit(sample_size).toPandas())
    X = np.stack(sample.iloc[:, 0].to_numpy()).astype(np.float64)
    if metric == "cosine":
        X = _normalize(X)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(num_centroids, len(X)), replace=False)]
    for _ in range(max_iter):
        if metric == "cosine":
            assign = np.argmax(X @ C.T, axis=1)
        else:
            assign = np.argmin(
                ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1), axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        if metric == "cosine":
            C = _normalize(C)
    return C


def assign_centroids(df: DataFrame, vector_col: str,
                     centroids: np.ndarray, metric: str = "cosine",
                     cid_col: str = _CID) -> DataFrame:
    """Nearest-centroid id per row via an Arrow-batched pandas UDF: one
    numpy matmul per batch against the closure-captured centroid matrix
    (executor-side, no shuffle)."""
    from pyspark.sql.functions import pandas_udf

    C = _normalize(centroids) if metric == "cosine" else centroids

    @pandas_udf("int")
    def _nearest(vs: pd.Series) -> pd.Series:
        if vs.empty:        # empty Arrow batch (e.g. filtered partition)
            return pd.Series([], dtype="int32")
        V = np.stack(vs.to_numpy()).astype(np.float64)
        if metric == "cosine":
            V = _normalize(V)
            return pd.Series(np.argmax(V @ C.T, axis=1).astype(np.int32))
        d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        return pd.Series(np.argmin(d, axis=1).astype(np.int32))

    return df.withColumn(cid_col, _nearest(F.col(vector_col)))


class IVFIndex:
    """Handle to a built index: partitioned parquet + centroid matrix."""

    def __init__(self, path: str, centroids: np.ndarray, metric: str,
                 vector_col: str):
        self.path = path
        self.centroids = centroids
        self.metric = metric
        self.vector_col = vector_col

    @property
    def data_path(self) -> str:
        return os.path.join(self.path, "data")

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFIndex":
        import pyarrow.parquet as pq
        t = pq.read_table(os.path.join(path, "centroids.parquet")) \
              .to_pydict()
        order = np.argsort(t["cid"])
        centroids = np.array([t["centroid"][i] for i in order],
                             dtype=np.float64)
        return cls(path, centroids, t["metric"][0], t["vector_col"][0])


_CODE, _CODE_SCALE = "__q8", "__q8scale"


def quantize_int8(df: DataFrame, vector_col: str,
                  code_col: str = _CODE,
                  scale_col: str = _CODE_SCALE) -> DataFrame:
    """Per-row symmetric int8 quantization: ``v ≈ scale · codes`` with
    ``scale = max|v| / 127``, codes packed into a ``binary`` cell (1 byte
    per dimension vs 4 for float — the probe's byte-cost tier). Arrow-
    batched pandas UDF, executor-side, no shuffle."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(f"{code_col} binary, {scale_col} float")
    def _q(vs: pd.Series) -> pd.DataFrame:
        if vs.empty:
            return pd.DataFrame({code_col: [], scale_col: []})
        M = np.stack(vs.to_numpy()).astype(np.float64)
        scale = np.abs(M).max(axis=1) / 127.0
        scale = np.where(scale == 0, 1.0, scale)
        codes = np.clip(np.round(M / scale[:, None]), -127, 127).astype(np.int8)
        return pd.DataFrame({code_col: [c.tobytes() for c in codes],
                             scale_col: scale.astype(np.float32)})

    st = _q(F.col(vector_col))
    return df.withColumn(code_col, st[code_col]) \
             .withColumn(scale_col, st[scale_col])


def ivf_build(df: DataFrame, vector_col: str, path: str,
              num_centroids: int = 64, metric: str = "cosine",
              seed: int = 42, max_iter: int = 10,
              backend: str = "sample", quantize: bool = True) -> IVFIndex:
    """Build the index: train → assign → rewrite partitioned by centroid.

    One full shuffle-free pass for assignment, one partitioned write. At
    scale the write clusters rows by ``__cid`` so partition pruning later
    skips whole directories (and their parquet footers) per query.
    ``quantize`` (default) adds the int8 code columns next to the full
    vectors; parquet is columnar, so carrying them is free for full-vector
    probes (column pruning never reads them) and enables the byte-lean
    ``ivf_search_int8`` probe."""
    centroids = train_centroids(df, vector_col, num_centroids, metric,
                                seed=seed, max_iter=max_iter, backend=backend)
    assigned = assign_centroids(df, vector_col, centroids, metric)
    if quantize:
        assigned = quantize_int8(assigned, vector_col)
    # Cluster rows by centroid BEFORE the partitioned write: without this,
    # every write task holds rows of every centroid and emits one file per
    # (task × centroid) — the classic small-files explosion (32 tasks ×
    # 1000 centroids = 32k files). Hash-repartitioning on the centroid id
    # makes each task own whole centroids → one file per centroid dir.
    assigned = assigned.repartition(num_centroids, F.col(_CID))
    assigned.write.mode("overwrite").partitionBy(_CID).parquet(
        os.path.join(path, "data"))
    # Centroids are driver-side metadata (k × dim floats) — write them with
    # pyarrow directly; a distributed write job for 8 rows costs seconds of
    # job overhead and buys nothing.
    import pyarrow as pa
    import pyarrow.parquet as pq
    meta = pa.table({
        "cid": pa.array(range(len(centroids)), pa.int32()),
        "centroid": pa.array([list(map(float, c)) for c in centroids],
                             pa.list_(pa.float64())),
        "metric": pa.array([metric] * len(centroids)),
        "vector_col": pa.array([vector_col] * len(centroids)),
    })
    pq.write_table(meta, os.path.join(path, "centroids.parquet"))
    return IVFIndex(path, centroids, metric, vector_col)


def ivf_patch(spark: SparkSession, index: IVFIndex, changes: DataFrame,
              id_col: str, deleted_col: str = "_deleted",
              max_patch_keys: int = 1_000_000) -> dict:
    """Incrementally repair an IVF index from a CDC batch (latest row per
    key + ``_deleted`` tombstones — exactly what ``read_incremental``
    emits since the index's build commit): work ∝ changed data, not
    corpus. Centroids do not move — recall drifts only as far as the data
    distribution does (the standard IVF maintenance trade; rebuild
    re-trains).

    Steps:

    1. **Guard.** An early-terminating ``limit(max_patch_keys+1)
       .collect()`` of the DISTINCT KEY COLUMN on the lazy CDC lineage —
       a single-column projection, so an oversized batch is rejected
       before any full-row (vector-carrying) work. Past
       ``max_patch_keys`` it raises a ValueError pointing at a full
       rebuild, which scans everything once anyway and re-trains
       centroids — strictly better at that size.
    2. **Key relation.** The collected keys become a driver-local
       relation that every index-side join broadcasts, so the CDC
       lineage is not run again to derive them. It is never an ``isin``
       literal list: at the 1M-key bound that builds a ~1M-literal
       expression tree on the driver and into codegen.
    3. **New rows.** The live (non-tombstoned) changed rows are assigned
       to the EXISTING centroids and quantized once, then checkpointed;
       both reads below use the materialized rows.
    4. **Stats.** One aggregate over the index's (id, cid) columns,
       unioned with the new rows' cids, counts per centroid partition
       the stale rows, the surviving keyed rows and the new rows.
    5. **Rewrite.** Every partition that holds stale rows or receives
       new rows is written ONCE — its survivors ∪ its new rows, clustered
       by cid, in one dynamic-overwrite write — so it keeps one file.
       Dynamic overwrite replaces every partition present in the written
       data, which is why a partition that only receives new rows is
       rewritten with its existing rows. Survivors of a stale partition
       are its non-NULL-id rows whose key is not in the batch; a stale
       partition left with none and receiving no new rows is absent from
       the written data, so its directory is deleted (even when NULL-id
       rows remain in it)."""
    from pyspark.sql.types import StructField

    head = changes.select(id_col).distinct() \
                  .limit(max_patch_keys + 1).collect()
    if len(head) > max_patch_keys:
        raise ValueError(
            f"CDC batch has >{max_patch_keys:,} distinct keys; a "
            "driver-side patch at that size risks driver memory and "
            "a slower plan than a full scan. Rebuild the index instead "
            "(ivf_build / on_stale='rebuild'), or raise "
            "max_patch_keys explicitly.")
    if not head:
        return {"removed_partitions": 0, "appended": 0}
    key_type = changes.schema[id_col].dataType
    kdf = spark.createDataFrame(
        pd.DataFrame({"__k": [r[0] for r in head if r[0] is not None]}),
        StructType([StructField("__k", key_type)]))

    schema = _index_schema(index)
    live = changes
    if deleted_col in changes.columns:
        live = changes.filter(
            ~F.coalesce(F.col(deleted_col), F.lit(False)))
    new = assign_centroids(live, index.vector_col, index.centroids,
                           index.metric)
    if _CODE in schema.names:
        new = quantize_int8(new, index.vector_col)
    new = new.select(*schema.names).localCheckpoint(eager=True)

    zero, one = F.lit(0).cast("long"), F.lit(1).cast("long")
    hit = F.col("__k").isNotNull()
    flags = (spark.read.schema(schema).parquet(index.data_path)
                  .select(id_col, _CID)
                  .join(F.broadcast(kdf), F.col(id_col) == F.col("__k"),
                        "left")
                  .select(_CID, hit.cast("long").alias("__stale"),
                          (~hit & F.col(id_col).isNotNull()).cast("long")
                           .alias("__live"),
                          zero.alias("__new"))
                  .unionByName(new.select(_CID, zero.alias("__stale"),
                                          zero.alias("__live"),
                                          one.alias("__new"))))
    stats = (flags.groupBy(_CID)
                  .agg(*[F.sum(c).alias(c)
                         for c in ("__stale", "__live", "__new")])
                  .filter((F.col("__stale") > 0) | (F.col("__new") > 0))
                  .collect())
    stale = [r[_CID] for r in stats if r["__stale"]]
    written = [r[_CID] for r in stats if r["__live"] or r["__new"]]
    emptied = [r[_CID] for r in stats if not (r["__live"] or r["__new"])]
    if written:
        keep = (_probe_scan(spark, index, written)
                    .join(F.broadcast(kdf), F.col(id_col) == F.col("__k"),
                          "left_anti")
                    .filter(F.col(id_col).isNotNull()
                            | ~F.col(_CID).isin(stale)))
        (keep.unionByName(new).repartition(F.col(_CID))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy(_CID).parquet(index.data_path))
    if emptied:
        fs, root = _data_fs(index)
        for cid in emptied:
            d = f"{root}/{_CID}={cid}"
            if fs.get_file_info(d).type == pafs.FileType.Directory:
                fs.delete_dir(d)
    return {"removed_partitions": len(stale),
            "appended": sum(r["__new"] for r in stats)}


def probe_cids(index: IVFIndex, query_vec: Sequence[float],
               nprobe: int) -> list[int]:
    """The ``nprobe`` centroid ids nearest to the query — the partition
    set an IVF probe scans (driver-side: k×dim floats, microseconds).
    Shared by ``ivf_search`` / ``ivf_search_int8`` / ``pq.ivfpq_search``
    so every tier prunes identically."""
    q = np.asarray(list(query_vec), dtype=np.float64)
    if index.metric == "cosine":
        sims = _normalize(index.centroids) @ _normalize(q)
        order = np.argsort(-sims, kind="stable")
    else:
        order = np.argsort(((index.centroids - q) ** 2).sum(-1),
                           kind="stable")
    return [int(c) for c in order[:nprobe]]


def _data_fs(index: IVFIndex) -> tuple[pafs.FileSystem, str]:
    """The filesystem and root of the index's data directory, resolved
    the way pyarrow resolves ``IVFIndex.load``'s path: a URI
    (``file:///...``) or a plain local path."""
    try:
        return pafs.FileSystem.from_uri(index.data_path)
    except ValueError:          # no scheme: a local (maybe relative) path
        return pafs.LocalFileSystem(), os.path.abspath(index.data_path)


def _index_schema(index: IVFIndex) -> StructType:
    """The index rows' Spark schema (partition column included), read on
    the driver from the footer of one data file — the schema Spark wrote
    there — so a scan given this schema skips Spark's footer-inference
    job."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import IntegerType

    fs, root = _data_fs(index)

    def ls(path):
        return sorted(fs.get_file_info(pafs.FileSelector(path)),
                      key=lambda i: i.base_name)

    for d in ls(root):
        if not (d.type == pafs.FileType.Directory
                and d.base_name.startswith(f"{_CID}=")):
            continue
        for f in ls(d.path):
            if (f.type == pafs.FileType.File and f.extension == "parquet"
                    and not f.base_name.startswith((".", "_"))):
                md = pq.read_schema(f.path, filesystem=fs).metadata
                schema = StructType.fromJson(json.loads(
                    md[b"org.apache.spark.sql.parquet.row.metadata"]))
                return schema.add(_CID, IntegerType())
    raise ValueError(f"IVF index at {index.path!r} holds no data files")


def _probe_scan(spark: SparkSession, index: IVFIndex,
                cids: Sequence[int]) -> DataFrame:
    """Read only the partition directories of ``cids`` — the scan every
    IVF tier probes through. Spark lists just these paths (on the driver
    while there are at most 32 of them; past
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` it lists
    them in a parallel job) and, given the schema, infers nothing, so the
    probe runs as one job. The ``__cid IN (...)`` filter stays so the
    plan shows the pruning as PartitionFilters. Directories a patch
    deleted are skipped; if none remain the frame is empty."""
    schema = _index_schema(index)
    fs, root = _data_fs(index)
    dirs = [f"{_CID}={c}" for c in cids]
    paths = [os.path.join(index.data_path, d)
             for d, info in zip(dirs, fs.get_file_info(
                 [f"{root}/{d}" for d in dirs]))
             if info.type == pafs.FileType.Directory]
    if not paths:
        return spark.createDataFrame([], schema)
    return (spark.read.schema(schema)
                 .option("basePath", index.data_path).parquet(*paths)
                 .filter(F.col(_CID).isin(list(cids))))


def ivf_search(spark: SparkSession, index: IVFIndex,
               query_vec: Sequence[float], k: int = 10, nprobe: int = 8,
               filter: Column | None = None,
               distance_col: str = "_distance",
               tiebreaker: str | None = None,
               round_to: int | None = None) -> DataFrame:
    """Probe the ``nprobe`` centroid partitions nearest to ``query_vec``;
    exact re-rank inside them. Plan: parquet scan of the probed partition
    directories only, with partition filter ``__cid IN (...)``
    (PartitionFilters in .explain) → TakeOrderedAndProject(k). The driver
    lists only the probed directories, and the whole read is one Spark
    job up to 32 probed paths; past that Spark adds a parallel listing
    job."""
    q = np.asarray(list(query_vec), dtype=np.float64)
    data = _probe_scan(spark, index, probe_cids(index, q, nprobe))
    return vector_search(data, index.vector_col, [float(v) for v in q], k=k,
                         metric=index.metric, filter=filter,
                         distance_col=distance_col, tiebreaker=tiebreaker,
                         round_to=round_to).drop(_CID)


def ivf_search_int8(spark: SparkSession, index: IVFIndex,
                    query_vec: Sequence[float], id_col: str,
                    k: int = 10, nprobe: int = 8, refine: int = 8,
                    filter: Column | None = None,
                    distance_col: str = "_distance",
                    tiebreaker: str | None = None,
                    round_to: int | None = None) -> DataFrame:
    """Byte-lean probe: rank candidates on the int8 code column, exact
    re-rank only the survivors on full vectors.

    The full-vector ``ivf_search`` reads ``dim × 4`` bytes per probed row;
    the ranking pass here reads the packed ``binary`` code column instead
    (``dim × 1`` bytes + 4 for the scale) — parquet is columnar, so the
    float vectors in the probed partitions are never decoded for ranking.
    The exact re-rank then fetches full vectors for only ``k·refine`` rows
    via an ``IN`` filter on ``id_col`` that parquet evaluates against
    row-group statistics/dictionaries (PushedFilters in .explain). This is
    the classic SQ8-with-refine tier (the role Lance's quantized index
    plays behind the reference's TVF, demo.ipynb c13:2-3): probe bytes
    drop ~4× while recall is restored by the exact re-rank — asserted
    against exact KNN in tests/test_ann.py, byte accounting in
    tools/scale_probe.py.

    Scale shape: the ranking pass is a pruned columnar scan → Arrow-batched
    matmul per batch → ``TakeOrderedAndProject(k·refine)`` — no shuffle,
    per-task heaps, same embarrassing parallelism as the float probe. The
    candidate id list is k·refine values (driver-side by construction,
    like the centroid shortlist), never a data-sized collect."""
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(list(query_vec), dtype=np.float64)
    metric = index.metric
    data = _probe_scan(spark, index, probe_cids(index, q, nprobe))
    if _CODE not in data.columns:
        raise ValueError(
            "index was built with quantize=False — no int8 code column; "
            "rebuild with ivf_build(..., quantize=True) or use ivf_search")
    # pre-filter hybrid: pushed into the scan
    scan = data if filter is None else data.filter(filter)

    qn = float(np.linalg.norm(q)) or 1.0
    qq = float(q @ q)

    @pandas_udf("double")
    def _adist(codes: pd.Series, scales: pd.Series) -> pd.Series:
        if codes.empty:
            return pd.Series([], dtype="float64")
        M = np.stack([np.frombuffer(b, dtype=np.int8) for b in codes]) \
              .astype(np.float64)
        s = scales.to_numpy().astype(np.float64)
        dots = M @ q
        if metric == "cosine":
            # v ≈ s·c ⇒ the per-row scale cancels out of cosine entirely
            norms = np.linalg.norm(M, axis=1)
            d = 1.0 - dots / (np.where(norms == 0, 1.0, norms) * qn)
        elif metric == "dot":
            d = -(s * dots)
        else:   # l2: squared form — monotonic, no sqrt needed for ranking
            d = s * s * (M * M).sum(axis=1) - 2.0 * s * dots + qq
        return pd.Series(d)

    cand = (scan.select(F.col(id_col), _CODE, _CODE_SCALE)
                .withColumn("__adist", _adist(F.col(_CODE), F.col(_CODE_SCALE)))
                .orderBy(F.col("__adist").asc(), F.col(id_col).asc())
                .limit(k * refine))
    ids = [r[0] for r in cand.select(id_col).collect()]

    fetch = data.filter(F.col(id_col).isin(ids))
    out = vector_search(fetch, index.vector_col, [float(v) for v in q], k=k,
                        metric=metric, filter=filter,
                        distance_col=distance_col, tiebreaker=tiebreaker,
                        round_to=round_to)
    return out.drop(_CID, _CODE, _CODE_SCALE)


def ivf_knn_join(spark: SparkSession, index: IVFIndex, queries: DataFrame,
                 k: int = 10, nprobe: int = 8,
                 left_id: str = "left_id", right_id: str = "right_id",
                 query_vector_col: str | None = None,
                 distance_col: str = "_distance",
                 round_to: int | None = None) -> DataFrame:
    """Batch KNN through the IVF index: every query row gets its top-k
    corpus neighbors, scored only inside each query's ``nprobe`` nearest
    centroid partitions.

    This is the scale path the brute-force ``knn_join`` (O(|Q|·|corpus|)
    BroadcastNestedLoopJoin) cannot be: the corpus join is an EQUI-join on
    the centroid id, so per-query work is |corpus|·nprobe/num_centroids
    candidates, and the corpus is never replicated per query. Plan shape:

      queries → top-nprobe centroid ids per row  [executor-side matmul
          against the closure-captured centroid matrix, like
          assign_centroids — NO join, NO window, NO shuffle]
        → explode → equi-join candidates on __cid  [shuffle: bounded by
             |Q|·nprobe + corpus, never |Q|·|corpus|]
        → Arrow-batched distance → window top-k per query.

    ``nprobe = num_centroids`` probes everything, making the result EXACT
    (equal to brute-force knn_join) — the declared-query/oracle mode;
    recall at small nprobe is asserted against it in tests. The reference's
    batch shape is the k=3000 over-fetch (demo.ipynb c13:9)."""
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    from pydata_vector_search_spark.functions.vector import distance_arrow

    num_centroids, dim = index.centroids.shape
    nprobe = min(nprobe, num_centroids)
    qv = query_vector_col or index.vector_col
    metric = index.metric

    C = _normalize(index.centroids) if metric == "cosine" else index.centroids

    @pandas_udf("array<int>")
    def _shortlist(vs: pd.Series) -> pd.Series:
        if vs.empty:
            return pd.Series([], dtype="object")
        V = np.stack(vs.to_numpy()).astype(np.float64)
        if metric == "cosine":
            V = _normalize(V)
            d = -(V @ C.T)
        else:
            d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        # stable argsort == (distance asc, centroid id asc) tie order
        order = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype("int32") for row in order])

    qs = queries.select(F.col(left_id), F.col(qv).alias("__qv"))
    probes = (qs.withColumn(_CID, F.explode(_shortlist(F.col("__qv"))))
                .select(left_id, _CID, "__qv"))

    data = (spark.read.parquet(index.data_path)
                 .select(F.col(_CID),
                         F.col(right_id),
                         F.col(index.vector_col).alias("__cv")))
    dist = distance_arrow(index.metric, F.col("__qv"), F.col("__cv"))
    if round_to is not None:    # round BEFORE the rank for cross-engine ties
        dist = F.round(dist, round_to)
    cand = probes.join(data, _CID).withColumn(distance_col, dist)
    wk = Window.partitionBy(left_id).orderBy(F.col(distance_col).asc(),
                                             F.col(right_id).asc())
    return (cand.withColumn("__rn", F.row_number().over(wk))
                .filter(F.col("__rn") <= k)
                .select(left_id, right_id, distance_col))
