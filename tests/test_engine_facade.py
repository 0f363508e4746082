"""Engine facade: the one-object surface a reference user switches to."""

import pytest
from pyspark.sql import functions as F

from pydata_vector_search_spark.catalog import read_table
from pydata_vector_search_spark.engine import Engine


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    eng = Engine(spark, str(tmp_path_factory.mktemp("engine_root")))
    eng.ingest(read_table(spark, sf_dir, "embeddings"), "emb", key="vec_id")
    eng.ingest(read_table(spark, sf_dir, "documents"), "docs", key="doc_id")
    return eng


def test_ingest_and_vector_search(engine):
    qv = [float(x) for x in engine.table("emb")
          .filter(F.col("vec_id") == 0).head().embedding]
    hits = engine.vector_search("emb", "embedding", qv, k=5,
                                tiebreaker="vec_id").collect()
    assert len(hits) == 5 and hits[0].vec_id == 0


def test_sql_surface_via_engine(engine):
    engine.register_sql("emb")
    n = engine.sql("SELECT count(*) AS n FROM emb").head().n
    assert n == engine.table("emb").count()


def test_embed_and_ann(engine, tmp_path):
    emb64 = engine.embed(engine.table("docs").limit(64), "text", "vec")
    idx = engine.ann_build(emb64, "vec", str(tmp_path / "ivf"),
                           num_centroids=4)
    qv = [float(x) for x in emb64.head().vec]
    got = engine.ann_search(idx, qv, k=3, nprobe=4, tiebreaker="doc_id").collect()
    assert len(got) == 3
    assert got[0]._distance == pytest.approx(0.0, abs=1e-6)


def test_neardup_via_engine(engine):
    pairs = engine.neardup_pairs("docs", "text", "doc_id", method="minhash")
    assert {"id_1", "id_2", "jaccard"} <= set(pairs.columns)


def test_dedup_clusters_via_engine(engine):
    comps = engine.dedup_clusters("docs", "text", "doc_id", method="jaccard",
                                  n=3, threshold=0.5)
    rows = comps.collect()
    assert set(comps.columns) == {"node", "component"}
    # every member's component is the minimum id of its cluster
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r.node)
    for c, members in by_comp.items():
        assert c == min(members)


def test_upsert_via_engine(engine, spark):
    before = engine.table("emb").count()
    one = engine.table("emb").limit(1).withColumn("label", F.lit(999))
    engine.upsert("emb", one)
    after = engine.table("emb")
    assert after.count() == before
    assert after.filter(F.col("label") == 999).count() == 1


def test_delete_via_engine(engine, spark):
    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame(
        {"k": [1, 2, 3], "v": ["a", "b", "c"]}))
    engine.ingest(df, "del_t", key="k")
    assert engine.delete_where("del_t", "k = 2") == 1
    assert sorted(r.k for r in engine.table("del_t").collect()) == [1, 3]


def test_catalog_compact_reduces_files(spark, tmp_path):
    import glob

    from pydata_vector_search_spark.catalog import Catalog, read_table

    cat = Catalog(spark, str(tmp_path / "cat"))
    o = read_table(spark, "/root/testdata/sf0.001", "orders").repartition(16)
    cat.write("orders_frag", o, key="o_orderkey")
    before = len(glob.glob(f"{cat.info('orders_frag').path}/*.parquet"))
    n = cat.load("orders_frag").count()
    cat.compact("orders_frag", target_partitions=2)
    after = len(glob.glob(f"{cat.info('orders_frag').path}/*.parquet"))
    assert after < before and after <= 2
    assert cat.load("orders_frag").count() == n


def test_chunk_and_temporal_joins_via_engine(engine, spark, sf_dir):
    chunks = engine.chunk("docs", "text", "doc_id", divisor=16)
    assert {"doc_id", "chunk_idx", "chunk_text", "n_tokens"} <= set(chunks.columns)
    assert chunks.count() > engine.table("docs").count()

    from pydata_vector_search_spark.catalog import read_table
    ev = read_table(spark, "/root/testdata/sf0.001", "events")
    left = ev.filter(F.col("event_type") == "signup") \
             .select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "purchase") \
              .select("user_id", "ts", "value")
    out = engine.asof_join(left, right, on="user_id", time_col="ts",
                           value_cols=["value"])
    assert "value_r" in out.columns and out.count() == left.count()


def test_stream_and_maintenance_via_engine(engine, spark, tmp_path):
    st = engine.stream_events("/root/testdata/sf0.001/events.parquet")
    assert st.isStreaming
    q = engine.stream_upsert(
        st.select("user_id", "ts", "value"), "user_latest", key="user_id",
        order_by="ts", checkpoint=str(tmp_path / "ck"))
    q.awaitTermination(120)
    n = engine.table("user_latest").count()
    assert n > 0
    engine.compact("user_latest", target_partitions=1)
    assert engine.table("user_latest").count() == n
    engine.drop("user_latest")
    assert "user_latest" not in engine.catalog


def test_engine_merge_and_retention_facade(spark, tmp_path):
    from pydata_vector_search_spark.engine import Engine
    eng = Engine(spark, str(tmp_path / "emr"))
    eng.ingest(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
               "t", key="k")
    res = eng.merge("t", spark.createDataFrame(
        [(2, "B"), (3, "c")], "k int, v string"))
    assert res == {"updated": 1, "deleted": 0, "inserted": 1}
    eng.upsert("t", spark.createDataFrame([(4, "d")], "k int, v string"))
    eng.expire_commits("t", 2)
    assert eng.catalog.info("t").history_start == 2
    got = sorted((r.k, r.v) for r in eng.read_asof("t", 2).collect())
    assert got == [(1, "a"), (2, "B"), (3, "c")]


def test_engine_retrieval_and_gates(spark, tmp_path):
    """Round-5 facade surface: bm25, hybrid RRF, semantic/cross dedup,
    validation — each delegates to the oracle-checked operator."""
    from pydata_vector_search_spark.engine import Engine
    from pydata_vector_search_spark.operators import quality as Q

    eng = Engine(spark, str(tmp_path / "r5"))
    docs = spark.createDataFrame(
        [(1, "vector search engine", [1.0, 0.0]),
         (2, "hash join planner", [0.0, 1.0]),
         (3, "vector search engine", [1.0, 0.01])],
        "doc_id int, text string, embedding array<double>")
    eng.ingest(docs, "docs", key="doc_id")

    lex = eng.bm25_search("docs", "text", "doc_id", ("vector",), k=5)
    assert {r.doc_id for r in lex.collect()} == {1, 3}

    hyb = eng.hybrid_search_rrf("docs", "text", "doc_id", "embedding",
                                ("vector",), [1.0, 0.0], k=3)
    rows = hyb.collect()
    assert rows[0].doc_id in (1, 3)          # in both rank lists
    assert {r.doc_id for r in rows} == {1, 2, 3}

    # a NULL or (under cosine) zero-norm vector has no distance: it takes
    # the last vector ranks, never the first
    eng.ingest(spark.createDataFrame(
        [(1, "vector", [1.0, 0.0]), (2, "hash", [0.0, 1.0]),
         (3, "join", None), (4, "stream", [0.0, 0.0])],
        "doc_id int, text string, embedding array<double>"), "nulls",
        key="doc_id")
    ranks = {r.doc_id: r.rank_vec for r in eng.hybrid_search_rrf(
        "nulls", "text", "doc_id", "embedding", ("absent",), [1.0, 0.0],
        k=4, fetch_k=4).collect()}
    assert ranks[1] == 1 and ranks[2] == 2 and {ranks[3], ranks[4]} == {3, 4}

    kept = eng.semantic_dedup("docs", "embedding", "doc_id", dim=2,
                              threshold=0.99, num_planes=1)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2]

    ref = spark.createDataFrame([(9, "vector search engine")],
                                "doc_id int, text string")
    surv = eng.cross_dedup("docs", ref, "text", "doc_id", threshold=0.9)
    assert sorted(r.doc_id for r in surv.collect()) == [2]

    rep = {r.rule: r.violations for r in eng.validate("docs", [
        Q.not_null("text"), Q.unique("doc_id")]).collect()}
    assert rep == {"not_null:text": 0, "unique:doc_id": 0}


def test_engine_pq_facade(spark, tmp_path, sf_dir):
    from pydata_vector_search_spark.catalog import read_table
    from pydata_vector_search_spark.engine import Engine
    from pydata_vector_search_spark.operators import knn

    eng = Engine(spark, str(tmp_path / "pqf"))
    emb = read_table(spark, sf_dir, "embeddings")
    eng.ingest(emb, "emb", key="vec_id")
    coded, cb = eng.pq_index("emb", "embedding", m=8, k_codes=32)
    qv = [float(x) for x in emb.orderBy("vec_id").first().embedding]
    got = [r.vec_id for r in eng.pq_search(
        coded, cb, "embedding", qv, k=5, shortlist=emb.count(),
        tiebreaker="vec_id", round_to=6).collect()]
    want = [r.vec_id for r in knn.vector_search(
        emb, "embedding", qv, k=5, metric="cosine",
        tiebreaker="vec_id", round_to=6).collect()]
    assert got == want


def test_engine_training_assembly_facade(spark, tmp_path, sf_dir):
    """Round-6 facade surface: sub-document dedup, LM/DSIR scoring,
    pack/mix/shuffle — each delegates to its oracle-checked operator."""
    from pydata_vector_search_spark.catalog import read_table
    from pydata_vector_search_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "r6"))
    docs = read_table(spark, sf_dir, "documents")

    spans = eng.dedup_spans(docs, "text", "doc_id", n=8)
    assert spans.count() == docs.count()
    assert {"text", "n_tokens", "n_removed", "n_spans"} <= set(spans.columns)

    paras = eng.dedup_paragraphs(
        docs.withColumn("text", F.regexp_replace("text", " ", "\n")),
        "text", "doc_id")
    assert paras.count() == docs.count()

    lm = eng.lm_score(docs, "text", "doc_id")
    assert lm.filter(F.col("nll_micro") <= 0).count() == 0

    sel = eng.dsir_select(docs, docs.filter(F.col("lang") == "en"),
                          "text", "doc_id", k=9)
    assert sel.count() == 9

    shards = eng.shuffle_shards(docs.select("doc_id"), "doc_id", 4)
    assert shards.select("shard").distinct().count() == 4

    packed = eng.pack(docs.withColumn("nt", F.size(F.split("text", " "))),
                      "doc_id", "nt", max_len=256)
    assert packed.count() > 0


def test_jaccard_strategies_via_engine(engine):
    """method='jaccard' routes through the auto rule (r07); the explicit
    count/prefix spellings skip the probe scan and all three agree."""
    auto = {(r.id_1, r.id_2) for r in engine.neardup_pairs(
        "docs", "text", "doc_id", method="jaccard",
        threshold=0.5).collect()}
    cnt = {(r.id_1, r.id_2) for r in engine.neardup_pairs(
        "docs", "text", "doc_id", method="jaccard_count",
        threshold=0.5).collect()}
    pre = {(r.id_1, r.id_2) for r in engine.neardup_pairs(
        "docs", "text", "doc_id", method="jaccard_prefix",
        threshold=0.5).collect()}
    assert auto == cnt == pre


def test_neardup_pairs_winnow_method(engine):
    """method='winnow' (r08) routes to the fingerprint pair join and
    honors its kwargs; agrees with the operator called directly."""
    from pydata_vector_search_spark.operators.fingerprint import \
        fingerprint_neardup_pairs

    via = {(r.id_1, r.id_2, r.n_shared) for r in engine.neardup_pairs(
        "docs", "text", "doc_id", method="winnow",
        k=12, window=6, min_shared=20, max_fp_df=50).collect()}
    direct = {(r.id_1, r.id_2, r.n_shared) for r in
              fingerprint_neardup_pairs(
                  engine.table("docs"), "text", "doc_id",
                  k=12, window=6, min_shared=20, max_fp_df=50).collect()}
    assert via == direct and via


def test_classify_facade(engine, spark):
    """Engine.classify (r08): train-on-labeled / score-corpus matches
    the operator pair called directly."""
    from pydata_vector_search_spark.operators.classify import (nb_score,
                                                               nb_train)
    rows = [(i, ("alpha beta" if i % 2 else "gamma delta") + f" w{i}",
             "odd" if i % 2 else "even") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string, y string")
    via = {r.doc_id: (r.pred_label, r.score_micro) for r in
           engine.classify(df, df, "text", "y", "doc_id").collect()}
    model = nb_train(df, "text", "y")
    direct = {r.doc_id: (r.pred_label, r.score_micro) for r in
              nb_score(df, model, "text", "doc_id").collect()}
    assert via == direct and via


def test_classify_facade_return_model(engine, spark):
    """return_model=True (r12 ADVICE): same scored result, plus the
    trained model handle so callers can release its persisted
    training-count table after materializing."""
    rows = [(i, ("alpha beta" if i % 2 else "gamma delta") + f" w{i}",
             "odd" if i % 2 else "even") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string, y string")
    scored, model = engine.classify(df, df, "text", "y", "doc_id",
                                    return_model=True)
    got = {r.doc_id: (r.pred_label, r.score_micro)
           for r in scored.collect()}
    plain = {r.doc_id: (r.pred_label, r.score_micro) for r in
             engine.classify(df, df, "text", "y", "doc_id").collect()}
    assert got == plain and got
    assert model._counts is not None and model._counts.is_cached
    model.unpersist()
    assert not model._counts.is_cached


def test_pagerank_facade(engine, spark):
    """Engine.pagerank (r09): edge-table routing matches the operator
    called directly, on a DataFrame and a registered table."""
    from pydata_vector_search_spark.operators.graph import pagerank_exact
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], "src long, dst long")
    via = {r.node: r.rank_units
           for r in engine.pagerank(edges, iterations=3).collect()}
    direct = {r.node: r.rank_units
              for r in pagerank_exact(edges, iterations=3).collect()}
    assert via == direct and via


def test_kmeans_facade(engine, spark):
    """Engine.kmeans (r09): ingested-table routing matches
    train+assign called directly."""
    from pydata_vector_search_spark.operators.clustering import (
        kmeans_assign, kmeans_train)
    via = {r.vec_id: (r.cluster_id, r.dist_units) for r in
           engine.kmeans("emb", "embedding", "vec_id",
                         k=4, iterations=2).collect()}
    emb = engine.table("emb")
    model = kmeans_train(emb, "embedding", "vec_id", k=4, iterations=2)
    direct = {r.vec_id: (r.cluster_id, r.dist_units) for r in
              kmeans_assign(emb, model, "embedding").collect()}
    assert via == direct and via


def test_semantic_dedup_kmeans_facade(engine, spark):
    """Engine.semantic_dedup_kmeans: survivors are a subset containing
    every component's min id; high threshold keeps everything."""
    surv = engine.semantic_dedup_kmeans("emb", "embedding", "vec_id",
                                        k=4, iterations=1,
                                        threshold=1.000001)
    assert surv.count() == engine.table("emb").count()


def test_triangles_facade(engine, spark):
    """Engine.triangles: K4 gives every node 3 triangles."""
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(k4, "src long, dst long")
    got = {r.node: r.triangles for r in engine.triangles(edges).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_bpe_train_facade(engine, spark):
    """Engine.bpe_train: ingested-table routing matches the operator."""
    from pydata_vector_search_spark.operators.bpe import bpe_train
    via = [tuple(r) for r in
           engine.bpe_train("docs", "text", num_merges=5).collect()]
    direct = [tuple(r) for r in
              bpe_train(engine.table("docs"), "text",
                        num_merges=5).collect()]
    assert via == direct and via


def test_cluster_sample_facade(engine, spark):
    """Engine.cluster_sample: per_cluster bound holds, ids unique."""
    s = engine.cluster_sample("emb", "embedding", "vec_id",
                              k=4, per_cluster=6).collect()
    per = {}
    for r in s:
        per[r.cluster_id] = per.get(r.cluster_id, 0) + 1
    assert per and all(v <= 6 for v in per.values())
    assert len({r.vec_id for r in s}) == len(s)
