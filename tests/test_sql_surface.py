"""SQL surface: registered SQL functions inline into the same plans as the
DataFrame spelling; the reference's c11 SQL query runs verbatim-shaped."""

import pytest
from pyspark.sql import functions as F

from pydata_vector_search_spark.catalog import read_table, register_sf_dir
from pydata_vector_search_spark.functions.sql import register_sql_functions
from pydata_vector_search_spark.functions.vector import cosine_similarity


@pytest.fixture(scope="module", autouse=True)
def _register(spark, sf_dir):
    register_sql_functions(spark)
    register_sf_dir(spark, sf_dir, tables=("embeddings", "documents"))


def test_sql_matches_dataframe_cosine(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    df_scores = (emb.select("vec_id",
                            F.round(cosine_similarity("embedding", "embedding"),
                                    6).alias("s")).collect())
    sql_scores = spark.sql("""
        SELECT vec_id, round(cosine_similarity(
            CAST(embedding AS ARRAY<DOUBLE>),
            CAST(embedding AS ARRAY<DOUBLE>)), 6) AS s
        FROM embeddings""").collect()
    assert {r.vec_id: r.s for r in df_scores} == {r.vec_id: r.s for r in sql_scores}


def test_reference_c11_query_shape(spark):
    qv = spark.sql("SELECT CAST(embedding AS ARRAY<DOUBLE>) AS q_vec "
                   "FROM embeddings WHERE vec_id = 0")
    qv.createOrReplaceTempView("query_input")
    rows = spark.sql("""
        SELECT e.vec_id,
               round(1 - cosine_distance(CAST(e.embedding AS ARRAY<DOUBLE>),
                                         q.q_vec), 2) AS score
        FROM embeddings e CROSS JOIN query_input q
        ORDER BY score DESC, e.vec_id ASC
        LIMIT 10
    """).collect()
    assert len(rows) == 10
    assert rows[0].vec_id == 0 and rows[0].score == 1.0
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_sql_function_inlines_no_python_udf(spark):
    plan = spark.sql("""
        SELECT dot_product(CAST(embedding AS ARRAY<DOUBLE>),
                           CAST(embedding AS ARRAY<DOUBLE>)) AS d
        FROM embeddings""")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_scalar_text_functions(spark):
    r = spark.sql("""SELECT token_count('a b  c') AS n,
                            fingerprint_md5(' A  b ') = fingerprint_md5('a b') AS same
                  """).head()
    assert r.n == 3
    assert r.same is True


def test_sql_token_count_matches_dataframe_on_edge_cases(spark):
    """SQL and DataFrame token_count agree, including the empty string
    (SQL split('') yields [''] — the CASE guard pins it to 0)."""
    from pydata_vector_search_spark.functions.text import token_count
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one"), (4, "two words"), (5, "  padded  ")],
        "id int, t string")
    df.createOrReplaceTempView("tc_edge")
    sql = {r.id: r.n for r in spark.sql(
        "SELECT id, token_count(t) AS n FROM tc_edge").collect()}
    dfv = {r.id: r.n for r in df.select(
        "id", token_count("t").alias("n")).collect()}
    assert sql == dfv == {1: 0, 2: 0, 3: 1, 4: 2, 5: 1}


def _plan_ops(df):
    import re
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [re.sub(r"[#(].*", "", ln.strip("*+- :")).strip()
            for ln in plan.splitlines()
            if re.match(r"^[\s*+:-]*[A-Z]", ln)]


def test_tvf_rewrite_matches_dataframe_plan_and_rows(spark, sf_dir):
    """The reference's TVF spelling must produce the IDENTICAL physical
    plan to the DataFrame spelling — the rewrite swaps text for the plan,
    not for a slower SQL re-derivation."""
    from pydata_vector_search_spark.catalog import read_table
    from pydata_vector_search_spark.functions.sql import sql_with_tvf
    from pydata_vector_search_spark.operators import knn

    emb = read_table(spark, sf_dir, "embeddings")
    emb.createOrReplaceTempView("embeddings")
    qv = [float(x) for x in emb.filter("vec_id = 0").head().embedding]

    tvf = sql_with_tvf(spark, """
        SELECT * FROM vector_search('embeddings', 'embedding',
            (SELECT embedding FROM embeddings WHERE vec_id = 0),
            5, 'cosine', 'vec_id', 2)
    """)
    df = knn.vector_search(emb, "embedding", qv, k=5, metric="cosine",
                           tiebreaker="vec_id", round_to=2)
    assert [r.vec_id for r in tvf.collect()] == [r.vec_id for r in df.collect()]
    assert _plan_ops(tvf) == _plan_ops(df)


def test_tvf_hudi_alias_and_path_resolution(spark, sf_dir):
    """hudi_vector_search alias accepted; first arg may be a parquet path
    (the reference passes TABLE_PATH, demo.ipynb c11:7)."""
    import os

    from pydata_vector_search_spark.functions.sql import sql_with_tvf
    path = os.path.join(sf_dir, "embeddings.parquet")
    got = sql_with_tvf(spark, f"""
        SELECT vec_id, round(1 - _distance, 2) AS score
        FROM hudi_vector_search('{path}', 'embedding',
            (SELECT embedding FROM parquet.`{path}` WHERE vec_id = 0),
            3, 'l2', 'vec_id')
    """).collect()
    assert len(got) == 3 and got[0].vec_id == 0


def test_tvf_arg_validation(spark):
    import pytest as _pytest

    from pydata_vector_search_spark.functions.sql import rewrite_vector_search_sql
    with _pytest.raises(ValueError, match="arguments"):
        rewrite_vector_search_sql(spark, "SELECT * FROM vector_search('t')")
    with _pytest.raises(ValueError, match="string literal"):
        rewrite_vector_search_sql(
            spark, "SELECT * FROM vector_search(tbl, 'c', array(1.0), 3)")


def test_engine_sql_tvf_route(spark, sf_dir, tmp_path):
    from pydata_vector_search_spark.catalog import read_table
    from pydata_vector_search_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "eng"))
    eng.ingest(read_table(spark, sf_dir, "embeddings"), "emb_tvf")
    # resolve through the engine catalog (no temp view registered)
    qv = [float(x) for x in eng.table("emb_tvf").filter("vec_id = 0")
          .head().embedding]
    arr = "array(" + ",".join(str(v) for v in qv) + ")"
    got = eng.sql(f"""
        SELECT vec_id FROM vector_search('emb_tvf', 'embedding', {arr},
                                         4, 'cosine', 'vec_id', 2)
    """).collect()
    assert len(got) == 4 and got[0].vec_id == 0
