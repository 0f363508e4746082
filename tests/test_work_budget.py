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
