"""Smoke: the driver contract (entry + every declared query) runs at sf0.001."""

import pytest

import __spark_entry__ as entry


def test_entry_returns_rows(spark):
    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"vec_id", "score", "lang"} <= set(df.columns)


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_declared_query_runs(spark, sf_dir, name):
    df = entry.queries()[name](spark, sf_dir)
    assert df.columns  # schema resolves
    df.limit(5).collect()  # executes


def test_oracle_keys_subset_of_queries():
    assert set(entry.oracle_sql()) <= set(entry.queries())


def test_vector_knn_tvf_ranks_null_vector_last(spark, sf_dir, tmp_path):
    """A NULL vector has no distance: the TVF query's outer ORDER BY
    puts its row after every scored row (Spark reads a bare ASC as NULLS
    FIRST)."""
    from pydata_vector_search_spark.catalog import register_sf_dir

    spark.createDataFrame(
        [(0, [1.0, 0.0], 1), (1, None, 2), (2, [0.0, 1.0], 3),
         (3, [1.0, 1.0], 4)],
        "vec_id long, embedding array<float>, label int") \
        .write.parquet(str(tmp_path / "embeddings.parquet"))
    try:
        got = [(r.vec_id, r.score) for r in
               entry.q_vector_knn_tvf(spark, str(tmp_path)).collect()]
    finally:
        register_sf_dir(spark, sf_dir, tables=("embeddings",))
    assert got == [(0, 1.0), (3, 0.71), (2, 0.0), (1, None)]
