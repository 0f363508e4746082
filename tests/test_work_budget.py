"""Work budgets: how many Spark jobs an operator launches.

Each operator call runs under its own job group and the group's jobs are
counted from the status store. Job counts do not depend on host speed,
so these pins catch a lost pruning or an extra listing pass without the
flakiness of a wall-clock gate.
"""

import itertools

import pytest
from pyspark.sql import functions as F

from pydata_vector_search_spark.catalog import read_table
from pydata_vector_search_spark.operators import ann, pq

_groups = itertools.count()


def _jobs(spark, fn) -> int:
    """Spark jobs launched while ``fn`` runs — plan construction (file
    listing, schema inference) and actions alike."""
    sc = spark.sparkContext
    group = f"work-budget-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def query(emb):
    return [float(x) for x in
            emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]


@pytest.fixture(scope="module")
def index(emb, tmp_path_factory):
    return ann.ivf_build(emb, "embedding",
                         str(tmp_path_factory.mktemp("budget_ivf")),
                         num_centroids=8, seed=42)


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM."""
    return (spark.sparkContext._jvm.org.apache.spark.metrics.source
            .CodegenMetrics.METRIC_COMPILATION_TIME().getCount())


def test_exact_search_is_query_independent(spark, emb, query):
    """After one warm exact search, a search with a different query vector
    generates no new code (the query lives in the distance kernel's
    closure, not in the plan's expressions) and is one job: the
    TakeOrderedAndProject collect."""
    from pydata_vector_search_spark.operators import knn

    def search(q):
        return lambda: knn.vector_search(emb, "embedding", q, k=10,
                                         tiebreaker="vec_id",
                                         round_to=4).collect()

    _jobs(spark, search(query))
    c0 = _compiles(spark)
    n = _jobs(spark, search([x + 0.5 for x in query]))
    assert _compiles(spark) == c0
    assert n == 1


def test_ivf_search_is_one_job(spark, index, query):
    """No listing job, no footer job: the probe scan is the only job."""
    n = _jobs(spark, lambda: ann.ivf_search(
        spark, index, query, k=10, nprobe=3).collect())
    assert n == 1


def test_ivf_search_int8_jobs(spark, index, query):
    """Candidate collect + exact re-rank collect; the two reads share one
    driver-side listing."""
    n = _jobs(spark, lambda: ann.ivf_search_int8(
        spark, index, query, "vec_id", k=10, nprobe=3, refine=4).collect())
    assert n == 2


def test_ivfpq_search_jobs(spark, emb, query, tmp_path):
    cb = pq.pq_train(emb, "embedding", m=8, k_codes=32, seed=3,
                     metric="cosine")
    idx = ann.ivf_build(pq.pq_encode(emb, "embedding", cb), "embedding",
                        str(tmp_path / "ivfpq"), num_centroids=8, seed=42,
                        quantize=False)
    n = _jobs(spark, lambda: pq.ivfpq_search(
        spark, idx, cb, query, k=10, nprobe=3, shortlist=64).collect())
    assert n == 1


def test_ivf_patch_job_budget(spark, emb, tmp_path):
    """An upper bound: the guard collect, the checkpoint of the new rows,
    the stats aggregate and the one write, each with its exchange stages.
    The key relation is built from the guard's keys, not by re-running
    the CDC lineage."""
    idx = ann.ivf_build(emb, "embedding", str(tmp_path / "patch"),
                        num_centroids=8, seed=42)
    batch = (emb.filter(F.col("vec_id") < 20)
                .withColumn("label", F.lit(9))
                .withColumn("_deleted", F.col("vec_id") < 5))
    n = _jobs(spark, lambda: ann.ivf_patch(spark, idx, batch, "vec_id"))
    assert n <= 9


def test_ivf_knn_join_jobs(spark, emb, index):
    """Three jobs: the exchanges' map stages and the collect, as AQE
    plans them. The index is read with its footer schema; inferring the
    schema would add a fourth job."""
    queries = emb.filter(F.col("vec_id") < 5) \
                 .select(F.col("vec_id").alias("left_id"), "embedding")
    n = _jobs(spark, lambda: ann.ivf_knn_join(
        spark, index, queries, k=3, nprobe=2, right_id="vec_id",
        query_vector_col="embedding").collect())
    assert n == 3


def test_stale_read_merges_on_read(spark, emb, query, tmp_path):
    """A stale ANN read (changes below the compaction threshold) is at
    most 5 jobs — the change log is read with an explicit schema, the
    changed keys are collected once, the probe merges them — and writes
    nothing: every index file keeps its inode and mtime."""
    import glob
    import os

    from pydata_vector_search_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "eng"))
    eng.ingest(emb, "emb", key="vec_id")
    eng.ann_index_create("emb", "embedding", num_centroids=8, seed=42)
    files = glob.glob(eng.catalog.index_info("emb")["path"]
                      + "/data/**/*.parquet", recursive=True)
    before = {f: (os.stat(f).st_ino, os.stat(f).st_mtime_ns) for f in files}
    eng.upsert("emb", emb.filter(F.col("vec_id") < 20)
                         .withColumn("label", F.lit(9)))
    n = _jobs(spark, lambda: eng.ann_search(
        "emb", query, k=10, nprobe=3, on_stale="patch").collect())
    assert n <= 5
    after = glob.glob(eng.catalog.index_info("emb")["path"]
                      + "/data/**/*.parquet", recursive=True)
    assert sorted(after) == sorted(files)
    assert {f: (os.stat(f).st_ino, os.stat(f).st_mtime_ns)
            for f in after} == before


@pytest.fixture
def part_table(spark, tmp_path):
    """A keyed table partitioned three ways, one file per partition."""
    from pydata_vector_search_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.write("t", spark.createDataFrame(
        [(i, "abc"[i % 3], float(i)) for i in range(30)],
        "k int, p string, x double").coalesce(1), key="k",
        partition_by=["p"])
    return cat


def test_partitioned_upsert_job_budget(spark, part_table):
    """An upper bound (7 at the rename-swap layout too): the footer read
    of the load, the touched-partition collect, the log write, the
    touched-file lookup and the merged write. The rewrite reads the
    current version while writing a new one, so no checkpoint job."""
    from pydata_vector_search_spark.operators.upsert import upsert_table

    batch = spark.createDataFrame([(1, "b", -1.0), (99, "b", 9.0)],
                                  "k int, p string, x double")
    n = _jobs(spark, lambda: upsert_table(part_table, "t", batch))
    assert n <= 7


def test_partitioned_delete_job_budget(spark, part_table):
    """An upper bound (13 at the in-place layout, which checkpointed the
    kept rows and collected the survivors): the footer read, the doomed-
    row checkpoint and count, the log write, the touched-partition
    collect, the touched-file lookup and the kept-row write."""
    from pydata_vector_search_spark.operators.upsert import delete_where

    n = _jobs(spark, lambda: delete_where(part_table, "t",
                                          "p = 'a' OR k = 4"))
    assert n <= 9
