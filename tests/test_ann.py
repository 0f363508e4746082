"""IVF index: build/load round-trip, partition pruning, recall vs exact."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pydata_vector_search_spark.catalog import read_table
from pydata_vector_search_spark.operators import ann, knn


@pytest.fixture(scope="module")
def index(spark, sf_dir, tmp_path_factory):
    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path_factory.mktemp("ivf"))
    return ann.ivf_build(emb, "embedding", path, num_centroids=8, seed=42)


def _query(spark, sf_dir, vec_id=0):
    emb = read_table(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == vec_id).select("embedding").head()
    return [float(x) for x in row[0]]


def test_ivf_full_probe_equals_exact(spark, sf_dir, index):
    """nprobe = all centroids ⇒ identical to exact KNN (ANN is a pruned
    scan + the same exact re-rank plan)."""
    emb = read_table(spark, sf_dir, "embeddings")
    qv = _query(spark, sf_dir)
    exact = [r.vec_id for r in knn.vector_search(
        emb, "embedding", qv, k=10, tiebreaker="vec_id").collect()]
    probed = [r.vec_id for r in ann.ivf_search(
        spark, index, qv, k=10, nprobe=8, tiebreaker="vec_id").collect()]
    assert probed == exact


def test_ivf_recall_at_small_nprobe(spark, sf_dir, index):
    emb = read_table(spark, sf_dir, "embeddings")
    hits = 0
    for vec_id in range(5):
        qv = _query(spark, sf_dir, vec_id)
        exact = {r.vec_id for r in knn.vector_search(
            emb, "embedding", qv, k=10, tiebreaker="vec_id").collect()}
        got = {r.vec_id for r in ann.ivf_search(
            spark, index, qv, k=10, nprobe=3, tiebreaker="vec_id").collect()}
        hits += len(got & exact)
    assert hits / 50 >= 0.6  # nprobe=3 of 8 partitions


def test_ivf_partition_pruning_in_plan(spark, sf_dir, index):
    """The probe literally prunes partitions: __cid IN (...) must appear as
    a PartitionFilter on the scan, not a post-scan Filter."""
    qv = _query(spark, sf_dir)
    df = ann.ivf_search(spark, index, qv, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "__cid" in plan.split("PartitionFilters", 1)[1][:400]


def test_ivf_load_round_trip(spark, sf_dir, index):
    loaded = ann.IVFIndex.load(spark, index.path)
    assert loaded.metric == "cosine"
    assert loaded.vector_col == "embedding"
    np.testing.assert_allclose(loaded.centroids, index.centroids)
    qv = _query(spark, sf_dir)
    a = [r.vec_id for r in ann.ivf_search(spark, index, qv, k=5,
                                          tiebreaker="vec_id").collect()]
    b = [r.vec_id for r in ann.ivf_search(spark, loaded, qv, k=5,
                                          tiebreaker="vec_id").collect()]
    assert a == b


def test_ivf_hybrid_filter(spark, sf_dir, index):
    """Pre-filter composes with the pruned scan (filter + partition prune
    in one Catalyst plan)."""
    qv = _query(spark, sf_dir)
    got = ann.ivf_search(spark, index, qv, k=5, nprobe=8,
                         filter=F.col("label") == 3,
                         tiebreaker="vec_id").collect()
    assert len(got) == 5
    assert all(r.label == 3 for r in got)


def test_train_centroids_mllib_backend(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    C = ann.train_centroids(emb, "embedding", 4, backend="mllib", max_iter=2)
    assert C.shape[0] == 4
    assert C.shape[1] == len(
        read_table(spark, sf_dir, "embeddings").head().embedding)
    # centroids are means of unit vectors: norms in (0, 1]
    norms = np.linalg.norm(C, axis=1)
    assert (norms > 0).all() and (norms <= 1.0 + 1e-9).all()


def test_ivf_knn_join_full_probe_equals_brute_force(spark, sf_dir, index):
    """nprobe = all centroids ⇒ ivf_knn_join == brute-force knn_join."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5) \
                 .select(F.col("vec_id").alias("left_id"), "embedding")
    corpus = emb.select(F.col("vec_id").alias("right_id"), "embedding")
    brute = {(r.left_id, r.right_id): r._distance for r in knn.knn_join(
        queries, corpus, "embedding", k=4, round_to=6).collect()}
    ivf = {(r.left_id, r.vec_id): r._distance for r in ann.ivf_knn_join(
        spark, index, queries, k=4, nprobe=8, right_id="vec_id",
        query_vector_col="embedding", round_to=6).collect()}
    assert ivf == brute and len(ivf) == 20


def test_ivf_knn_join_recall_small_nprobe(spark, sf_dir, index):
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10) \
                 .select(F.col("vec_id").alias("left_id"), "embedding")
    corpus = emb.select(F.col("vec_id").alias("right_id"), "embedding")
    exact = {(r.left_id, r.right_id) for r in knn.knn_join(
        queries, corpus, "embedding", k=5, round_to=6).collect()}
    got = {(r.left_id, r.vec_id) for r in ann.ivf_knn_join(
        spark, index, queries, k=5, nprobe=3, right_id="vec_id",
        query_vector_col="embedding", round_to=6).collect()}
    assert len(got & exact) / len(exact) >= 0.6


def test_ivf_knn_join_plans_equi_join_not_cross(spark, sf_dir, index):
    """The corpus side must arrive via an equi-join on the centroid id —
    never a nested-loop cross product."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3) \
                 .select(F.col("vec_id").alias("left_id"), "embedding")
    df = ann.ivf_knn_join(spark, index, queries, k=2, nprobe=2,
                          right_id="vec_id", query_vector_col="embedding")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the corpus arrives through a hash EQUI-join keyed on the centroid id
    assert "BroadcastHashJoin [__cid" in plan or "SortMergeJoin [__cid" in plan
    # nested-loop joins appear only for the query×centroid shortlist (the
    # centroid ExistingRDD build side), never against the corpus file scan
    for seg in plan.split("BroadcastNestedLoopJoin")[1:]:
        build = seg.split("BroadcastExchange", 1)[-1][:300]
        assert "__cent" in build


def test_ivf_int8_full_probe_equals_exact(spark, sf_dir, index):
    """nprobe=all + refine margin ⇒ the int8 candidate cut keeps the true
    top-k, and the exact re-rank makes the result identical to exact KNN."""
    emb = read_table(spark, sf_dir, "embeddings")
    qv = _query(spark, sf_dir)
    exact = [r.vec_id for r in knn.vector_search(
        emb, "embedding", qv, k=10, tiebreaker="vec_id").collect()]
    got = [r.vec_id for r in ann.ivf_search_int8(
        spark, index, qv, "vec_id", k=10, nprobe=8, refine=8,
        tiebreaker="vec_id").collect()]
    assert got == exact


def test_ivf_int8_recall_small_refine(spark, sf_dir, index):
    """Even refine=2 (a 2× candidate margin) recovers ≥90% of the exact
    top-10 — int8 cosine error is ~1e-2 at dim=64."""
    emb = read_table(spark, sf_dir, "embeddings")
    hits = 0
    for vec_id in range(5):
        qv = _query(spark, sf_dir, vec_id)
        exact = {r.vec_id for r in knn.vector_search(
            emb, "embedding", qv, k=10, tiebreaker="vec_id").collect()}
        got = {r.vec_id for r in ann.ivf_search_int8(
            spark, index, qv, "vec_id", k=10, nprobe=8, refine=2,
            tiebreaker="vec_id").collect()}
        hits += len(got & exact)
    assert hits / 50 >= 0.9


def test_ivf_int8_code_column_bytes(index):
    """The byte claim itself: the packed int8 code column occupies well
    under half the parquet bytes of the float vector column (≈4× less
    uncompressed; both are high-entropy so compression doesn't close it)."""
    import glob

    import pyarrow.parquet as pq

    emb_b = code_b = 0
    for f in glob.glob(index.data_path + "/**/*.parquet", recursive=True):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                p = col.path_in_schema
                if p.startswith("embedding"):
                    emb_b += col.total_compressed_size
                elif p.startswith("__q8") and "scale" not in p:
                    code_b += col.total_compressed_size
    assert emb_b > 0 and code_b > 0
    assert code_b < emb_b * 0.5


def test_ivf_int8_rerank_fetch_is_pushed_down(spark, sf_dir, index):
    """The exact re-rank must fetch candidates via a parquet-pushed IN
    filter on the id — not a full scan filtered post-hoc."""
    qv = _query(spark, sf_dir)
    df = ann.ivf_search_int8(spark, index, qv, "vec_id", k=5, nprobe=2,
                             refine=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters", 1)[1][:400]
    assert "In(vec_id" in pushed


def test_ivf_int8_hybrid_filter(spark, sf_dir, index):
    qv = _query(spark, sf_dir)
    got = ann.ivf_search_int8(spark, index, qv, "vec_id", k=5, nprobe=8,
                              refine=8, filter=F.col("label") == 3,
                              tiebreaker="vec_id").collect()
    assert len(got) == 5
    assert all(r.label == 3 for r in got)


def test_ivf_int8_requires_quantized_index(spark, sf_dir, tmp_path):
    emb = read_table(spark, sf_dir, "embeddings")
    idx = ann.ivf_build(emb, "embedding", str(tmp_path / "noq"),
                        num_centroids=4, seed=42, quantize=False)
    with pytest.raises(ValueError, match="quantize"):
        ann.ivf_search_int8(spark, idx, _query(spark, sf_dir), "vec_id")


def test_catalog_index_staleness_contract(spark, sf_dir, tmp_path):
    """Table-scoped index lifecycle: create → search ok; upsert → search
    raises StaleIndexError; on_stale='rebuild' re-registers at the current
    commit and serves post-mutation data; 'ignore' serves the stale one."""
    from pydata_vector_search_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "eng"))
    emb = read_table(spark, sf_dir, "embeddings")
    eng.ingest(emb, "emb", key="vec_id")
    eng.ann_index_create("emb", "embedding", num_centroids=4, seed=42)
    qv = _query(spark, sf_dir)

    fresh = eng.ann_search("emb", qv, k=5, nprobe=4, tiebreaker="vec_id")
    assert fresh.count() == 5
    assert eng.catalog.index_info("emb", "embedding")["stale"] is False

    # upsert advances the table past the index's pinned commit
    batch = emb.filter(F.col("vec_id") < 3).withColumn("label", F.lit(99))
    eng.upsert("emb", batch)
    assert eng.catalog.index_info("emb", "embedding")["stale"] is True
    with pytest.raises(ann.StaleIndexError, match="rebuild"):
        eng.ann_search("emb", qv, k=5, nprobe=4)

    # stale read is an explicit opt-in and serves PRE-mutation labels
    stale = eng.ann_search("emb", qv, k=5, nprobe=4, on_stale="ignore",
                           tiebreaker="vec_id")
    assert all(r.label != 99 for r in stale.filter(F.col("vec_id") < 3).collect())

    # rebuild re-registers and serves the upserted labels
    rebuilt = eng.ann_search("emb", qv, k=5, nprobe=4, on_stale="rebuild",
                             tiebreaker="vec_id")
    got = {r.vec_id: r.label for r in rebuilt.collect()}
    assert eng.catalog.index_info("emb", "embedding")["stale"] is False
    for vid, label in got.items():
        if vid < 3:
            assert label == 99


def test_ann_search_requires_registered_index(spark, tmp_path, sf_dir):
    from pydata_vector_search_spark.engine import Engine
    eng = Engine(spark, str(tmp_path / "eng2"))
    emb = read_table(spark, sf_dir, "embeddings")
    eng.ingest(emb, "emb2", key="vec_id")
    with pytest.raises(ValueError, match="ann_index_create"):
        eng.ann_search("emb2", _query(spark, sf_dir), k=5)


def test_ivf_patch_repairs_index_incrementally(spark, sf_dir, tmp_path):
    """on_stale='patch': upserts + deletes since the index commit are
    merged into the read from the CDC feed — the result equals exact KNN
    over the mutated table. Five changed keys stay below the compaction
    threshold, so the index stays pinned at its commit;
    test_stale_read_compacts_past_threshold covers the index state after
    a compaction."""
    from pydata_vector_search_spark.engine import Engine
    from pydata_vector_search_spark.operators import knn

    eng = Engine(spark, str(tmp_path / "patch"))
    emb = read_table(spark, sf_dir, "embeddings")
    eng.ingest(emb, "emb", key="vec_id")
    eng.ann_index_create("emb", "embedding", num_centroids=8, seed=42)

    # mutate: relabel a few rows, delete a few others
    eng.upsert("emb", emb.filter(F.col("vec_id") < 3)
               .withColumn("label", F.lit(77)))
    eng.delete_where("emb", "vec_id = 498 OR vec_id = 499")

    qv = _query(spark, sf_dir)
    hits = eng.ann_search("emb", qv, k=8, nprobe=8, on_stale="patch",
                          tiebreaker="vec_id")
    got = [(r.vec_id, r.label) for r in hits.collect()]

    exact_src = eng.table("emb")
    want = [(r.vec_id, r.label) for r in knn.vector_search(
        exact_src, "embedding", qv, k=8, tiebreaker="vec_id").collect()]
    assert got == want
    assert eng.catalog.index_info("emb", "embedding")["stale"] is True
    # the registration did not move, so the default read still refuses
    with pytest.raises(ann.StaleIndexError):
        eng.ann_search("emb", qv, k=8)


def test_stale_read_compacts_past_key_threshold(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """Once the changed keys pass half of MAX_PATCH_KEYS, a stale read
    compacts them into the index (ivf_patch) and re-registers it:
    deleted keys are gone from the index, updated keys carry their new
    labels, no key is duplicated, and partitions that hold no changed
    key keep their files."""
    import glob
    import os

    from pydata_vector_search_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "compact"))
    emb = read_table(spark, sf_dir, "embeddings")
    eng.ingest(emb, "emb", key="vec_id")
    eng.ann_index_create("emb", "embedding", num_centroids=8, seed=42)
    idx_path = eng.catalog.index_info("emb", "embedding")["path"]
    by_cid = {}
    for r in spark.read.parquet(idx_path + "/data") \
                  .select("vec_id", "__cid").collect():
        by_cid.setdefault(r["__cid"], []).append(r.vec_id)
    big = max(by_cid, key=lambda c: len(by_cid[c]))
    keys = sorted(by_cid[big])      # more keys than the mean partition
    assert len(keys) > 500 / 8
    mtimes_before = {f: os.path.getmtime(f) for f in glob.glob(
        idx_path + "/data/**/*.parquet", recursive=True)}

    # relabel every row of the largest partition (vectors unchanged, so
    # they stay in it), then delete two of them
    eng.upsert("emb", emb.filter(F.col("vec_id").isin(keys))
               .withColumn("label", F.lit(77)))
    doomed = keys[:2]
    eng.delete_where("emb", f"vec_id IN ({doomed[0]}, {doomed[1]})")

    qv = _query(spark, sf_dir)
    monkeypatch.setattr(ann, "MAX_PATCH_KEYS", 2 * len(keys) - 1)
    hits = eng.ann_search("emb", qv, k=8, nprobe=8, on_stale="patch",
                          tiebreaker="vec_id")
    got = [(r.vec_id, r.label) for r in hits.collect()]
    exact_src = eng.table("emb")
    want = [(r.vec_id, r.label) for r in knn.vector_search(
        exact_src, "embedding", qv, k=8, tiebreaker="vec_id").collect()]
    assert got == want
    assert eng.catalog.index_info("emb", "embedding")["stale"] is False

    data = spark.read.parquet(idx_path + "/data")
    assert data.filter(F.col("vec_id").isin(doomed)).count() == 0
    assert {r.label for r in data.filter(F.col("vec_id").isin(keys))
                                 .collect()} == {77}
    assert data.count() == exact_src.count()
    assert data.select("vec_id").distinct().count() == data.count()
    # only the changed partition was rewritten
    same = {f for f, t in mtimes_before.items()
            if os.path.exists(f) and os.path.getmtime(f) == t}
    assert same == {f for f in mtimes_before
                    if f"/__cid={big}/" not in f}


def _exact_top(eng, qv, k=8):
    return [(r.vec_id, r.label) for r in knn.vector_search(
        eng.table("emb"), "embedding", qv, k=k, tiebreaker="vec_id")
        .collect()]


def test_stale_read_compacts_after_commit_bound(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """A stale read compacts once the table is COMPACT_COMMITS commits
    past the index, however few keys changed: the same two keys
    rewritten again and again still add a commit each to every merge."""
    from pydata_vector_search_spark.engine import Engine

    monkeypatch.setattr(ann, "COMPACT_COMMITS", 3)
    eng = Engine(spark, str(tmp_path / "bound"))
    emb = read_table(spark, sf_dir, "embeddings")
    eng.ingest(emb, "emb", key="vec_id")
    eng.ann_index_create("emb", "embedding", num_centroids=8, seed=42)
    built = eng.catalog.index_info("emb", "embedding")["commit"]
    qv = _query(spark, sf_dir)
    for label in (71, 72, 73):
        eng.upsert("emb", emb.filter(F.col("vec_id") < 2)
                   .withColumn("label", F.lit(label)))
        got = [(r.vec_id, r.label) for r in eng.ann_search(
            "emb", qv, k=8, nprobe=8, on_stale="patch",
            tiebreaker="vec_id").collect()]
        assert got == _exact_top(eng, qv)
        entry = eng.catalog.index_info("emb", "embedding")
        assert entry["stale"] is (label < 73)
    assert entry["commit"] == built + 3


def test_stale_reads_keep_working_past_max_patch_keys(spark, sf_dir,
                                                      tmp_path, monkeypatch):
    """Changes piling up across reads never reach the key guard: with
    MAX_PATCH_KEYS far below the rows of an index partition, a read
    compacts once the changed keys pass half of it, so more distinct keys
    than MAX_PATCH_KEYS change over the reads and every read still
    answers."""
    from pydata_vector_search_spark.engine import Engine

    monkeypatch.setattr(ann, "MAX_PATCH_KEYS", 8)
    eng = Engine(spark, str(tmp_path / "guard"))
    emb = read_table(spark, sf_dir, "embeddings")
    eng.ingest(emb, "emb", key="vec_id")
    eng.ann_index_create("emb", "embedding", num_centroids=2, seed=42)
    qv = _query(spark, sf_dir)
    compacted = 0
    for step in range(5):
        keys = [10 + 3 * step + i for i in range(3)]
        eng.upsert("emb", emb.filter(F.col("vec_id").isin(keys))
                   .withColumn("label", F.lit(50 + step)))
        got = [(r.vec_id, r.label) for r in eng.ann_search(
            "emb", qv, k=8, nprobe=2, on_stale="patch",
            tiebreaker="vec_id").collect()]
        assert got == _exact_top(eng, qv)
        compacted += not eng.catalog.index_info("emb", "embedding")["stale"]
    assert compacted == 2          # at 6 changed keys, twice


def test_stale_read_after_expire_commits(spark, sf_dir, tmp_path):
    """expire_commits past a stale index's commit compacts the index
    first, so a later merge-on-read still has the history it needs."""
    from pydata_vector_search_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "expire"))
    emb = read_table(spark, sf_dir, "embeddings")
    eng.ingest(emb, "emb", key="vec_id")
    eng.ann_index_create("emb", "embedding", num_centroids=8, seed=42)
    qv = _query(spark, sf_dir)
    eng.upsert("emb", emb.filter(F.col("vec_id") < 3)
               .withColumn("label", F.lit(77)))
    eng.ann_search("emb", qv, k=8, on_stale="patch").collect()
    assert eng.catalog.index_info("emb", "embedding")["stale"] is True

    eng.delete_where("emb", "vec_id = 498")
    eng.expire_commits("emb", eng.catalog.current_commit("emb"))
    entry = eng.catalog.index_info("emb", "embedding")
    assert entry["commit"] == eng.catalog.current_commit("emb")

    eng.upsert("emb", emb.filter(F.col("vec_id").isin(3, 4))
               .withColumn("label", F.lit(78)))
    got = [(r.vec_id, r.label) for r in eng.ann_search(
        "emb", qv, k=8, nprobe=8, on_stale="patch",
        tiebreaker="vec_id").collect()]
    assert got == _exact_top(eng, qv)


def test_ivf_patch_refuses_oversized_batch(spark, sf_dir, tmp_path):
    """The driver-side key collect is guarded: a CDC batch with more
    distinct keys than max_patch_keys raises (pointing at rebuild)
    instead of collecting them all; at the threshold it still patches."""
    from pydata_vector_search_spark.operators import ann

    emb = read_table(spark, sf_dir, "embeddings")
    idx = ann.ivf_build(emb, "embedding", str(tmp_path / "guard"),
                        num_centroids=4, seed=1)
    batch = emb.filter(F.col("vec_id") < 10) \
               .withColumn("_deleted", F.lit(False))
    with pytest.raises(ValueError, match="[Rr]ebuild"):
        ann.ivf_patch(spark, idx, batch, "vec_id", max_patch_keys=5)
    out = ann.ivf_patch(spark, idx, batch, "vec_id", max_patch_keys=10)
    assert out["appended"] == 10


def test_index_registration_survives_session_reattach(spark, sf_dir, tmp_path):
    """The index registration is catalog metadata: a NEW Engine over the
    same root sees the index, its pinned commit, and its staleness state."""
    from pydata_vector_search_spark.engine import Engine

    root = str(tmp_path / "reatt")
    eng = Engine(spark, root)
    emb = read_table(spark, sf_dir, "embeddings")
    eng.ingest(emb, "emb", key="vec_id")
    eng.ann_index_create("emb", "embedding", num_centroids=4, seed=42)

    eng2 = Engine(spark, root)                      # fresh catalog instance
    info = eng2.catalog.index_info("emb", "embedding")
    assert info is not None and info["stale"] is False
    assert info["params"] == {"num_centroids": 4, "seed": 42}
    hits = eng2.ann_search("emb", _query(spark, sf_dir), k=5, nprobe=4,
                           tiebreaker="vec_id")
    assert hits.count() == 5
    # staleness carries across sessions too
    eng2.upsert("emb", emb.limit(2))
    eng3 = Engine(spark, root)
    with pytest.raises(ann.StaleIndexError):
        eng3.ann_search("emb", _query(spark, sf_dir), k=5)


def test_train_centroids_order_insensitive(spark):
    """VERDICT r05 #4: the sample backend draws by seeded content hash —
    row order (sorted vs reverse) cannot bias the trained centroids."""
    import numpy as np

    rows = [(i, [float((i * 37 + j * 11) % 17) for j in range(8)])
            for i in range(300)]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    c1 = ann.train_centroids(df.orderBy("id"), "v", 4, seed=5,
                             sample_size=128)
    c2 = ann.train_centroids(df.orderBy(F.col("id").desc()), "v", 4,
                             seed=5, sample_size=128)
    assert np.array_equal(c1, c2)


def test_ivf_patch_removes_emptied_partition(spark, sf_dir, tmp_path):
    """A tombstone batch that deletes EVERY key of a centroid removes
    that partition directory entirely (the emptied-dirs branch) and the
    surviving index still serves exact results — pins the branch the
    r13 collect-fusion change sits directly above."""
    import glob
    import os

    from pydata_vector_search_spark.operators import ann, knn

    emb = read_table(spark, sf_dir, "embeddings")
    idx = ann.ivf_build(emb, "embedding", str(tmp_path / "emptied"),
                        num_centroids=4, seed=1)
    data = spark.read.parquet(idx.data_path)
    # pick the smallest centroid and tombstone all of its keys
    cid, n_cid = min(
        ((r["__cid"], r["n"]) for r in
         data.groupBy("__cid").agg(F.count(F.lit(1)).alias("n")).collect()),
        key=lambda t: t[1])
    n_before = data.count()
    victims = (data.filter(F.col("__cid") == cid)
                   .select("vec_id", "label", "embedding")
                   .withColumn("_deleted", F.lit(True))
                   .localCheckpoint(eager=True))  # pin rows: the patch
    # deletes the very files this frame's lazy plan would re-read
    out = ann.ivf_patch(spark, idx, victims, "vec_id")
    assert out["appended"] == 0 and out["removed_partitions"] >= 1

    dirs = {os.path.basename(d) for d in
            glob.glob(idx.data_path + "/__cid=*")}
    assert f"__cid={cid}" not in dirs and dirs, dirs
    after = spark.read.parquet(idx.data_path)
    assert after.count() == n_before - n_cid
    assert after.filter(F.col("__cid") == cid).count() == 0

    # the patched index serves exact top-k over the surviving rows
    qv = _query(spark, sf_dir)
    got = [r.vec_id for r in ann.ivf_search(
        spark, idx, qv, k=5, nprobe=4, tiebreaker="vec_id").collect()]
    survivors = emb.join(victims.select("vec_id"), "vec_id", "left_anti")
    want = [r.vec_id for r in knn.vector_search(
        survivors, "embedding", qv, k=5, tiebreaker="vec_id").collect()]
    assert got == want


def test_ivf_patch_emptied_detection_with_null_id_rows(spark, tmp_path):
    """r16-ADVICE fix: a touched centroid partition whose non-NULL-id
    rows are ALL stale must be deleted even when NULL-id rows share the
    partition — the old ``__tot == __stale`` test read it as non-empty,
    the dynamic overwrite then wrote nothing for it (keep has no rows
    there), and the stale vectors persisted beside their re-appended
    versions."""
    import glob
    import os

    from pydata_vector_search_spark.operators import ann

    rows = [(i, [float(i % 4), float((i * 7) % 5)]) for i in range(40)]
    rows.append((None, [0.0, 0.0]))                  # NULL-id resident
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = ann.ivf_build(df, "embedding", str(tmp_path / "nullid"),
                        num_centroids=4, seed=3)
    data = spark.read.parquet(idx.data_path)
    null_cid = data.filter(F.col("vec_id").isNull()) \
                   .select("__cid").collect()[0][0]
    # tombstone EVERY keyed row of that centroid
    victims = (data.filter((F.col("__cid") == null_cid)
                           & F.col("vec_id").isNotNull())
                   .select("vec_id", "embedding")
                   .withColumn("_deleted", F.lit(True))
                   .localCheckpoint(eager=True))
    out = ann.ivf_patch(spark, idx, victims, "vec_id")
    assert out["appended"] == 0 and out["removed_partitions"] >= 1
    dirs = {os.path.basename(d)
            for d in glob.glob(idx.data_path + "/__cid=*")}
    assert f"__cid={null_cid}" not in dirs
    after = spark.read.parquet(idx.data_path)
    assert after.filter(F.col("__cid") == null_cid).count() == 0


def _files_per_partition(idx):
    import glob
    import os

    return {os.path.basename(d): len(glob.glob(d + "/*.parquet"))
            for d in glob.glob(idx.data_path + "/__cid=*")}


def test_ivf_patch_keeps_rows_of_partition_only_receiving_new_rows(
        spark, sf_dir, tmp_path):
    """Dynamic overwrite replaces every partition present in the written
    data: a partition that holds none of the changed keys but receives a
    moved row must be rewritten WITH its existing rows. Successive
    patches keep every partition at exactly one file."""
    emb = read_table(spark, sf_dir, "embeddings")
    idx = ann.ivf_build(emb, "embedding", str(tmp_path / "moved"),
                        num_centroids=8, seed=42)
    before = {r.vec_id: r["__cid"] for r in
              spark.read.parquet(idx.data_path)
                   .select("vec_id", "__cid").collect()}
    by_cid = {}
    for vid, cid in sorted(before.items()):
        by_cid.setdefault(cid, []).append(vid)
    src, dst = sorted(by_cid, key=lambda c: -len(by_cid[c]))[:2]
    mover, donor = by_cid[src][0], by_cid[dst][0]
    donor_vec = emb.filter(F.col("vec_id") == donor) \
                   .select("embedding").head()[0]
    batch = (emb.filter(F.col("vec_id") == mover)
                .withColumn("embedding", F.lit(donor_vec))
                .withColumn("_deleted", F.lit(False)))
    out = ann.ivf_patch(spark, idx, batch, "vec_id")
    assert out == {"removed_partitions": 1, "appended": 1}

    after = {r.vec_id: r["__cid"] for r in
             spark.read.parquet(idx.data_path)
                  .select("vec_id", "__cid").collect()}
    assert after[mover] == dst
    assert {v for v, c in after.items() if c == dst} == \
        set(by_cid[dst]) | {mover}
    assert {v for v, c in after.items() if c == src} == \
        set(by_cid[src]) - {mover}
    assert len(after) == len(before)
    assert set(_files_per_partition(idx).values()) == {1}

    # two more patches: relabels spread over many partitions, then a mix
    # of deletes and moves
    ann.ivf_patch(spark, idx,
                  emb.filter(F.col("vec_id") % 7 == 0)
                     .withColumn("label", F.lit(5))
                     .withColumn("_deleted", F.lit(False)), "vec_id")
    ann.ivf_patch(spark, idx,
                  emb.filter(F.col("vec_id") % 11 == 1)
                     .withColumn("embedding", F.lit(donor_vec))
                     .withColumn("_deleted", F.col("vec_id") % 2 == 0),
                  "vec_id")
    files = _files_per_partition(idx)
    assert files and set(files.values()) == {1}, files
    final = spark.read.parquet(idx.data_path)
    deleted = emb.filter((F.col("vec_id") % 11 == 1)
                         & (F.col("vec_id") % 2 == 0)).count()
    assert final.count() == emb.count() - deleted
    assert final.select("vec_id").distinct().count() == final.count()


def test_ivf_probe_skips_partition_removed_by_patch(spark, sf_dir, tmp_path):
    """After an emptying patch deletes a partition directory, a full
    probe (which names that directory) still equals exact KNN on every
    tier, and a probe whose only directory is gone returns no rows with
    the index's columns."""
    emb = read_table(spark, sf_dir, "embeddings")
    idx = ann.ivf_build(emb, "embedding", str(tmp_path / "gone"),
                        num_centroids=4, seed=1)
    data = spark.read.parquet(idx.data_path)
    cid = min(((r["__cid"], r["n"]) for r in
               data.groupBy("__cid").count().withColumnRenamed("count", "n")
                   .collect()), key=lambda t: t[1])[0]
    victims = (data.filter(F.col("__cid") == cid)
                   .select("vec_id", "label", "embedding")
                   .withColumn("_deleted", F.lit(True))
                   .localCheckpoint(eager=True))
    ann.ivf_patch(spark, idx, victims, "vec_id")
    assert f"__cid={cid}" not in _files_per_partition(idx)

    survivors = emb.join(victims.select("vec_id"), "vec_id", "left_anti")
    qv = _query(spark, sf_dir)
    want = [r.vec_id for r in knn.vector_search(
        survivors, "embedding", qv, k=10, tiebreaker="vec_id").collect()]
    full = ann.ivf_search(spark, idx, qv, k=10, nprobe=4,
                          tiebreaker="vec_id")
    assert [r.vec_id for r in full.collect()] == want
    assert [r.vec_id for r in ann.ivf_search_int8(
        spark, idx, qv, "vec_id", k=10, nprobe=4, refine=8,
        tiebreaker="vec_id").collect()] == want

    gone_q = [float(x) for x in victims.head().embedding]
    assert ann.probe_cids(idx, gone_q, 1) == [cid]
    empty = ann.ivf_search(spark, idx, gone_q, k=10, nprobe=1)
    assert empty.collect() == []
    assert empty.schema == full.schema
    assert ann.ivf_search_int8(spark, idx, gone_q, "vec_id", k=10,
                               nprobe=1).collect() == []


def test_ivf_index_rooted_at_file_uri(spark, sf_dir, tmp_path):
    """An index built and loaded at a ``file://`` URI is probed and
    patched like one at a plain path: the probe's footer read and
    directory checks resolve the URI, and the patch builds its key
    relation with Arrow conversion on or off."""
    emb = read_table(spark, sf_dir, "embeddings")
    uri = (tmp_path / "uri").as_uri()
    ann.ivf_build(emb, "embedding", uri, num_centroids=4, seed=1)
    idx = ann.IVFIndex.load(spark, uri)
    qv = _query(spark, sf_dir)

    def exact(df):
        return [r.vec_id for r in knn.vector_search(
            df, "embedding", qv, k=10, tiebreaker="vec_id").collect()]

    assert [r.vec_id for r in ann.ivf_search(
        spark, idx, qv, k=10, nprobe=4, tiebreaker="vec_id").collect()] \
        == exact(emb)

    data = spark.read.parquet(idx.data_path)
    cid = ann.probe_cids(idx, qv, 1)[0]
    victims = (data.filter(F.col("__cid") == cid)
                   .select("vec_id", "label", "embedding")
                   .withColumn("_deleted", F.lit(True))
                   .localCheckpoint(eager=True))
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        out = ann.ivf_patch(spark, idx, victims, "vec_id")
    finally:
        spark.conf.set(conf, prior)
    assert out == {"removed_partitions": 1, "appended": 0}
    assert not (tmp_path / "uri" / "data" / f"__cid={cid}").exists()

    survivors = emb.join(victims.select("vec_id"), "vec_id", "left_anti")
    assert [r.vec_id for r in ann.ivf_search_int8(
        spark, idx, qv, "vec_id", k=10, nprobe=4, refine=8,
        tiebreaker="vec_id").collect()] == exact(survivors)


def test_merge_on_read_equals_compaction_then_probe(spark, tmp_path,
                                                     monkeypatch):
    """Seeded interleaving of upsert, delete_where, merge and purge_keys
    with stale reads. At every step the merge-on-read top-k (ids and
    distances) equals the top-k of a copy of the index compacted with
    the same changes (ivf_patch) and probed alike, and at nprobe =
    num_centroids it equals exact KNN over the table. The changes pile
    up until a read crosses the compaction threshold (lowered to three
    commits), so both read paths run; expire_commits compacts a stale
    index before it drops the history."""
    import shutil

    from pydata_vector_search_spark.engine import Engine

    rng = np.random.default_rng(11)
    n, dim, cents = 120, 8, 4
    schema = "vec_id long, label int, embedding array<float>"

    def rows(ids, label):
        return spark.createDataFrame(
            [(int(i), int(label), [float(x) for x in rng.standard_normal(dim)])
             for i in ids], schema)

    def top(df):
        return [(r.vec_id, r._distance) for r in df.collect()]

    def same(got, want):
        assert [i for i, _ in got] == [i for i, _ in want]
        assert [d for _, d in got] == pytest.approx([d for _, d in want],
                                                    abs=1e-12)

    monkeypatch.setattr(ann, "COMPACT_COMMITS", 3)
    eng = Engine(spark, str(tmp_path / "mor"))
    eng.ingest(rows(range(n), 0), "t", key="vec_id")
    eng.ann_index_create("t", "embedding", num_centroids=cents, seed=5)
    next_key, reads = n, {True: 0, False: 0}
    for step in range(1, 11):
        live = sorted(r.vec_id for r in eng.table("t").select("vec_id")
                                           .collect())
        pick = [int(x) for x in rng.choice(live, 8, replace=False)]
        op = ("upsert", "delete", "merge", "purge", "expire")[step % 5]
        if op == "upsert":       # moved vectors plus one new key
            eng.upsert("t", rows(pick + [next_key], step))
            next_key += 1
        elif op == "delete":
            eng.delete_where("t", f"vec_id IN ({pick[0]}, {pick[1]})")
        elif op == "merge":      # label -1 deletes, others update/insert
            src = rows(pick[:4] + [next_key], step).withColumn(
                "label", F.when(F.col("vec_id") == pick[0], -1)
                          .otherwise(F.col("label")))
            eng.merge("t", src, matched_delete="label = -1")
            next_key += 1
        elif op == "purge":
            eng.purge_keys("t", pick[:2])
        else:                    # after an upsert, so something to expire
            eng.upsert("t", rows(pick[:2], step))
            eng.expire_commits("t", eng.catalog.current_commit("t") - 1)

        q = [float(x) for x in rng.standard_normal(dim)]
        entry = eng.catalog.index_info("t", "embedding")
        probe = dict(k=5, nprobe=2, tiebreaker="vec_id")
        copy = ann.IVFIndex.load(spark, entry["path"])
        if entry["stale"]:
            shutil.copytree(entry["path"], tmp_path / f"c{step}")
            copy = ann.IVFIndex.load(spark, str(tmp_path / f"c{step}"))
            ann.ivf_patch(spark, copy, eng.catalog.read_incremental(
                "t", entry["commit"]), "vec_id")
        want = top(ann.ivf_search(spark, copy, q, **probe))
        exact = top(knn.vector_search(eng.table("t"), "embedding", q, k=5,
                                      tiebreaker="vec_id"))
        same(top(eng.ann_search("t", q, k=5, nprobe=cents,
                                on_stale="patch", tiebreaker="vec_id")),
             exact)
        same(top(eng.ann_search("t", q, on_stale="patch", **probe)), want)
        if entry["stale"]:      # merged (still stale) or compacted
            reads[eng.catalog.index_info("t", "embedding")["stale"]] += 1
    assert reads[True] and reads[False], reads
