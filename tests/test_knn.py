"""KNN operator properties: k=n equals full sort, pre-filter ⊆ unfiltered
corpus top-k semantics, plan shape = TakeOrderedAndProject (no global sort
shuffle) — SURVEY.md §5.3 + §4 O4."""

import pytest
from pyspark.sql import functions as F

from pydata_vector_search_spark.catalog import read_table
from pydata_vector_search_spark.operators import knn


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def qvec(emb):
    row = emb.filter(F.col("vec_id") == 0).head()
    return [float(x) for x in row.embedding]


def test_knn_k_equals_n_is_full_sort(emb, qvec):
    n = emb.count()
    allk = knn.vector_search(emb, "embedding", qvec, k=n, tiebreaker="vec_id")
    rows = allk.select("vec_id", "_distance").collect()
    assert len(rows) == n
    dists = [r._distance for r in rows]
    assert dists == sorted(dists)
    assert rows[0].vec_id == 0 and abs(rows[0]._distance) < 1e-6  # self-match


def test_knn_topk_subset_of_full(emb, qvec):
    top5 = {r.vec_id for r in knn.vector_search(emb, "embedding", qvec, k=5,
                                                tiebreaker="vec_id").collect()}
    top20 = {r.vec_id for r in knn.vector_search(emb, "embedding", qvec, k=20,
                                                 tiebreaker="vec_id").collect()}
    assert top5 <= top20


def test_prefilter_all_satisfy_predicate(emb, qvec):
    got = knn.vector_search(emb, "embedding", qvec, k=10,
                            filter=F.col("label") == 3,
                            tiebreaker="vec_id").collect()
    assert len(got) == 10
    assert all(r.label == 3 for r in got)


def test_postfilter_subset_of_prefilter(emb, qvec):
    """Post-filter (reference semantics) returns a subset of pre-filter
    results — equality only when fetch_k covers the filtered region."""
    pre = [r.vec_id for r in knn.vector_search(
        emb, "embedding", qvec, k=5, filter=F.col("label") == 3,
        round_to=2, tiebreaker="vec_id").collect()]
    post = [r.vec_id for r in knn.hybrid_search_postfilter(
        emb, "embedding", qvec, filter=F.col("label") == 3, k=5,
        fetch_k=10_000, round_to=2, tiebreaker="vec_id").collect()]
    assert post == pre  # fetch_k >= n → modes agree


def test_plan_is_take_ordered(emb, qvec):
    plan = knn.vector_search(emb, "embedding", qvec, k=10)._jdf \
        .queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_filters_push_into_the_scan_past_the_distance(spark, emb, qvec,
                                                      tmp_path):
    """The distance column is deterministic, so a filter reaches the
    parquet scan whether ``vector_search`` applies it or a caller filters
    after adding the distance."""
    from pydata_vector_search_spark.functions.vector import distance_expr_lit
    emb.write.parquet(str(tmp_path / "emb"))
    raw = spark.read.parquet(str(tmp_path / "emb"))  # not the cached frame
    for df in (
        knn.vector_search(raw, "embedding", qvec, k=5,
                          filter=F.col("label") == 3),
        raw.withColumn("d", distance_expr_lit("cosine", "embedding", qvec))
           .filter(F.col("label") == 3),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EqualTo(label,3)" in plan, plan


def test_knn_join_shapes(emb, qvec, spark):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("left_id"), "embedding")
    corpus = emb.select(F.col("vec_id").alias("right_id"), "embedding")
    got = knn.knn_join(queries, corpus, "embedding", k=4).collect()
    assert len(got) == 12  # 3 queries × 4 neighbors
    by_left = {}
    for r in got:
        by_left.setdefault(r.left_id, []).append(r)
    for lid, rows in by_left.items():
        assert any(r.right_id == lid for r in rows)  # self among neighbors


def test_knn_join_max_pairs_guard(emb, spark):
    queries = emb.select(F.col("vec_id").alias("left_id"), "embedding")
    corpus = emb.select(F.col("vec_id").alias("right_id"), "embedding")
    with pytest.raises(ValueError, match="ivf_knn_join"):
        knn.knn_join(queries, corpus, "embedding", k=2, max_pairs=10)
    # explicit opt-out still runs
    assert len(knn.knn_join(queries, corpus, "embedding", k=1,
                            max_pairs=None).collect()) > 0
    # an under-cap product passes the bounded-count guard and runs
    small_q = queries.limit(2)
    n_c = corpus.count()
    assert len(knn.knn_join(small_q, corpus, "embedding", k=1,
                            max_pairs=2 * n_c).collect()) == 2
    # empty corpus never trips the guard regardless of query count
    empty = corpus.filter(F.lit(False))
    assert knn.knn_join(queries, empty, "embedding", k=1,
                        max_pairs=1).count() == 0


def test_null_vectors_rank_last(spark):
    """A NULL vector has no distance and ranks after every scored row —
    under ``asc()`` (NULLS FIRST) it ranked first."""
    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None)],
                               "id long, v array<float>")
    for fn in (
        lambda: knn.vector_search(df, "v", [1.0, 0.0], k=3),
        lambda: knn.hybrid_search_postfilter(df, "v", [1.0, 0.0],
                                             filter=F.col("id") > 0, k=3,
                                             fetch_k=3),
    ):
        got = [(r.id, r._distance) for r in fn().collect()]
        assert got == [(1, 0.0), (2, 1.0), (3, None)]
    assert [r.id for r in knn.vector_search(
        df, "v", [1.0, 0.0], k=2).collect()] == [1, 2]
