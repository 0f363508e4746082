"""Incremental / CDC reads — the reference stack's Hudi incremental-query
semantics (the headline lakehouse feature beyond snapshot reads) rebuilt as
a commit-partitioned parquet change log.

Contract: every upsert is a commit appended to ``<name>__changes/commit=N``;
``read_incremental(t, since)`` returns the latest value per key among
commits > since, as a PARTITION-PRUNED scan (cost ∝ changed data, never
table size — the property that matters at 100 TB).
"""

import pytest
from pyspark.sql import functions as F

from pydata_vector_search_spark.catalog import Catalog
from pydata_vector_search_spark.engine import Engine
from pydata_vector_search_spark.operators.upsert import upsert_table


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path))


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_incremental_pull_latest_per_key(spark, cat):
    cat.write("t", _df(spark, [(1, "a"), (2, "b"), (3, "c")]), key="k")
    assert cat.current_commit("t") == 1  # bootstrap

    upsert_table(cat, "t", _df(spark, [(2, "B"), (4, "d")]))   # commit 2
    upsert_table(cat, "t", _df(spark, [(4, "D"), (5, "e")]))   # commit 3
    assert cat.current_commit("t") == 3

    # everything since bootstrap: key 4 appears in commits 2 and 3 → latest
    inc = cat.read_incremental("t", 1)
    assert {(r.k, r.v, r.commit) for r in inc.collect()} == {
        (2, "B", 2), (4, "D", 3), (5, "e", 3)}

    # a consumer already caught up to commit 2 sees only commit 3
    inc2 = cat.read_incremental("t", 2)
    assert {(r.k, r.v) for r in inc2.collect()} == {(4, "D"), (5, "e")}

    # snapshot reflects all merges, no history columns
    snap = {(r.k, r.v) for r in cat.load("t").collect()}
    assert snap == {(1, "a"), (2, "B"), (3, "c"), (4, "D"), (5, "e")}
    assert cat.load("t").columns == ["k", "v"]


def test_incremental_all_versions_mode(spark, cat):
    cat.write("t", _df(spark, [(1, "a")]), key="k")
    upsert_table(cat, "t", _df(spark, [(1, "a2")]))
    upsert_table(cat, "t", _df(spark, [(1, "a3")]))
    hist = cat.read_incremental("t", 1, latest_only=False)
    assert [(r.v, r.commit) for r in hist.orderBy("commit").collect()] == [
        ("a2", 2), ("a3", 3)]


def test_incremental_caught_up_is_empty(spark, cat):
    cat.write("t", _df(spark, [(1, "a")]), key="k")
    upsert_table(cat, "t", _df(spark, [(2, "b")]))
    assert cat.read_incremental("t", cat.current_commit("t")).count() == 0
    # fresh table with no upserts yet: empty too, with a stable schema
    cat.write("u", _df(spark, [(9, "z")]), key="k")
    out = cat.read_incremental("u", 1)
    assert out.count() == 0 and set(out.columns) == {"k", "v", "_deleted", "commit"}


def test_incremental_bootstrap_guard(spark, cat):
    cat.write("t", _df(spark, [(1, "a")]), key="k")
    with pytest.raises(ValueError):
        cat.read_incremental("t", 0)


def test_incremental_scan_is_partition_pruned(spark, cat):
    cat.write("t", _df(spark, [(1, "a")]), key="k")
    for i in range(4):
        upsert_table(cat, "t", _df(spark, [(i, f"v{i}")]))
    df = cat.read_incremental("t", 3, latest_only=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "commit" in plan.split("PartitionFilters", 1)[1][:300]


def test_compact_preserves_history(spark, cat):
    cat.write("t", _df(spark, [(1, "a"), (2, "b")]), key="k")
    upsert_table(cat, "t", _df(spark, [(2, "B")]))
    cat.compact("t", target_partitions=2)
    assert cat.current_commit("t") == 2
    assert {(r.k, r.v) for r in cat.read_incremental("t", 1).collect()} == {(2, "B")}
    # fresh overwrite DOES reset history (it is a new bootstrap)
    cat.write("t", _df(spark, [(7, "x")]), key="k")
    assert cat.current_commit("t") == 1
    assert cat.read_incremental("t", 1).count() == 0


def test_drop_removes_change_log(spark, cat, tmp_path):
    import os
    cat.write("t", _df(spark, [(1, "a")]), key="k")
    upsert_table(cat, "t", _df(spark, [(1, "b")]))
    assert os.path.isdir(str(tmp_path / "t__changes"))
    cat.drop("t")
    assert not os.path.isdir(str(tmp_path / "t__changes"))


def test_engine_facade_incremental(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "eng"))
    eng.ingest(_df(spark, [(1, "a")]), "t", key="k")
    eng.upsert("t", _df(spark, [(2, "b")]))
    assert eng.current_commit("t") == 2
    assert {(r.k, r.v) for r in eng.read_incremental("t", 1).collect()} == {(2, "b")}


def test_stream_changes_exactly_once_across_restart(spark, cat, tmp_path):
    """CDC tail-follow: an availableNow pass drains all existing commits;
    after new commits land, a restart from the SAME checkpoint delivers
    only the unseen files (file-source offset tracking = exactly-once)."""
    from pydata_vector_search_spark.streaming import read_changes_stream

    cat.write("t", _df(spark, [(1, "a")]), key="k")
    upsert_table(cat, "t", _df(spark, [(2, "b")]))   # commit 2
    upsert_table(cat, "t", _df(spark, [(2, "c")]))   # commit 3
    ckpt = str(tmp_path / "ckpt")

    def drain():
        got = []
        q = (read_changes_stream(spark, cat, "t")
             .writeStream.foreachBatch(
                 lambda b, _id: got.extend(
                     (r.k, r.v, r.commit) for r in b.collect()))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return set(got)

    assert drain() == {(2, "b", 2), (2, "c", 3)}

    upsert_table(cat, "t", _df(spark, [(3, "d")]))   # commit 4
    assert drain() == {(3, "d", 4)}                  # ONLY the new commit


def test_replay_reconstructs_snapshot(spark, cat):
    """The CDC invariant: bootstrap ⊕ replay(change log) == snapshot.
    A consumer applying commits in order must converge to exactly the
    table's current state — this is what makes the log a correct
    replication/derived-view feed."""
    import random
    rng = random.Random(7)
    boot = [(i, f"v{i}") for i in range(50)]
    cat.write("t", _df(spark, boot), key="k")
    state = dict(boot)
    for c in range(4):
        batch = [(rng.randrange(80), f"c{c}_{j}") for j in range(15)]
        batch = list({k: (k, v) for k, v in batch}.values())  # unique keys/batch
        upsert_table(cat, "t", _df(spark, batch))
        state.update(batch)

    replayed = dict(boot)
    for r in (cat.read_incremental("t", 1, latest_only=False)
                 .orderBy("commit").collect()):
        replayed[r.k] = r.v
    assert replayed == state
    assert {(r.k, r.v) for r in cat.load("t").collect()} == set(state.items())


def test_stream_changes_requires_commits(spark, cat):
    # keyless tables log no bootstrap and take no upserts → no change log
    from pydata_vector_search_spark.streaming import read_changes_stream
    cat.write("t", _df(spark, [(1, "a")]))
    with pytest.raises(ValueError):
        read_changes_stream(spark, cat, "t")


def test_partitioned_upsert_logs_commits(spark, cat):
    df = spark.createDataFrame([(1, "p1", "a"), (2, "p2", "b")],
                               "k int, p string, v string")
    cat.write("t", df, key="k", partition_by=["p"])
    new = spark.createDataFrame([(1, "p1", "A")], "k int, p string, v string")
    upsert_table(cat, "t", new)
    assert cat.current_commit("t") == 2
    inc = cat.read_incremental("t", 1)
    assert {(r.k, r.p, r.v) for r in inc.collect()} == {(1, "p1", "A")}
    # empty batch stays a full no-op: no rewrite, no commit
    upsert_table(cat, "t", new.filter(F.lit(False)))
    assert cat.current_commit("t") == 2


def test_delete_where_removes_rows_and_logs_tombstones(spark, cat):
    from pydata_vector_search_spark.operators.upsert import delete_where
    cat.write("d", _df(spark, [(1, "a"), (2, "b"), (3, "c")]), key="k")
    upsert_table(cat, "d", _df(spark, [(2, "b2")]))
    n = delete_where(cat, "d", "k = 2")
    assert n == 1
    assert sorted((r.k, r.v) for r in cat.load("d").collect()) == \
        [(1, "a"), (3, "c")]
    # incremental consumers see the tombstone as the key's latest state
    inc = cat.read_incremental("d", 1)
    by_key = {r.k: (r.v, r._deleted) for r in inc.collect()}
    assert by_key[2] == ("b2", True)


def test_delete_where_no_match_is_noop(spark, cat):
    from pydata_vector_search_spark.operators.upsert import delete_where
    cat.write("d2", _df(spark, [(1, "a")]), key="k")
    before = cat.current_commit("d2")
    assert delete_where(cat, "d2", "k = 99") == 0
    assert cat.current_commit("d2") == before
    assert cat.load("d2").count() == 1


def test_delete_where_drops_fully_deleted_partition(spark, cat):
    """A partition whose rows ALL match the predicate must be removed from
    disk — dynamic partition overwrite alone never rewrites a partition
    that contributes zero surviving rows."""
    import os

    from pydata_vector_search_spark.operators.upsert import delete_where
    df = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p2")],
        "k int, v string, part string")
    cat.write("pd", df, key="k", partition_by=["part"])
    n = delete_where(cat, "pd", "part = 'p1'")
    assert n == 2
    got = sorted((r.k, r.part) for r in cat.load("pd").collect())
    assert got == [(3, "p2"), (4, "p2")]
    # the emptied partition dir is gone, not just unlisted
    assert not os.path.isdir(os.path.join(cat.info("pd").path, "part=p1"))
    # tombstones logged for every deleted row
    inc = cat.read_incremental("pd", 1, latest_only=False)
    assert sorted(r.k for r in inc.filter("_deleted").collect()) == [1, 2]


def test_delete_where_null_predicate_rows_survive(spark, cat):
    """SQL DELETE removes rows where the predicate is TRUE; NULL-predicate
    rows are retained (and not silently dropped from the rewrite)."""
    from pydata_vector_search_spark.operators.upsert import delete_where
    df = spark.createDataFrame([(1, 10), (2, None), (3, 30)], "k int, x int")
    cat.write("nd", df, key="k")
    n = delete_where(cat, "nd", "x > 15")
    assert n == 1
    assert sorted(r.k for r in cat.load("nd").collect()) == [1, 2]


def test_delete_where_null_predicate_partitioned(spark, cat):
    from pydata_vector_search_spark.operators.upsert import delete_where
    df = spark.createDataFrame(
        [(1, 20, "p1"), (2, None, "p1"), (3, 5, "p2")],
        "k int, x int, part string")
    cat.write("npd", df, key="k", partition_by=["part"])
    n = delete_where(cat, "npd", "x > 15")
    assert n == 1
    assert sorted(r.k for r in cat.load("npd").collect()) == [2, 3]


def test_stream_changes_carries_tombstones(spark, cat, tmp_path):
    """Streaming CDC consumers must see delete commits as tombstones
    (_deleted=true), mirroring read_incremental's contract — otherwise a
    downstream upsert sink resurrects deleted keys."""
    from pydata_vector_search_spark import streaming as S
    from pydata_vector_search_spark.operators.upsert import delete_where
    cat.write("cd", _df(spark, [(1, "a"), (2, "b")]), key="k")
    upsert_table(cat, "cd", _df(spark, [(2, "b2")]))     # commit 2
    delete_where(cat, "cd", "k = 1")                     # commit 3
    st = S.read_changes_stream(spark, cat, "cd")
    assert "_deleted" in st.columns
    q = (st.writeStream.format("memory").queryName("cdc_tomb")
         .option("checkpointLocation", str(tmp_path / "ck_tomb"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {(r.k, r.commit): r._deleted
            for r in spark.table("cdc_tomb").collect()}
    assert rows[(2, 2)] is False
    assert rows[(1, 3)] is True


def test_incremental_merges_legacy_commits_without_deleted(spark, cat):
    """Change logs written before the _deleted column existed must still
    read: the log's read schema (recorded as commits are logged) gives
    them a NULL flag, which coalesces to false (those commits were all
    upserts)."""
    import os
    cat.write("lg", _df(spark, [(1, "a")]), key="k")
    croot = cat._changes_root("lg")
    # simulate a legacy (pre-_deleted) commit file
    _df(spark, [(1, "a2")]).write.parquet(os.path.join(croot, "commit=2"))
    cat.info("lg").last_commit = 2
    cat._persist()
    upsert_table(cat, "lg", _df(spark, [(2, "b")]))      # commit 3, new-style
    inc = cat.read_incremental("lg", 1, latest_only=False)
    got = {(r.k, r.commit): r._deleted for r in inc.collect()}
    assert got == {(1, 2): False, (2, 3): False}


def test_read_asof_replays_each_commit(spark, cat):
    """Time travel: bootstrap → upsert → delete; read_asof(N) equals the
    state the snapshot had right after commit N."""
    from pydata_vector_search_spark.operators.upsert import delete_where
    cat.write("tt", _df(spark, [(1, "a"), (2, "b"), (3, "c")]), key="k")
    upsert_table(cat, "tt", _df(spark, [(2, "B"), (4, "d")]))   # commit 2
    delete_where(cat, "tt", "k = 1")                            # commit 3
    upsert_table(cat, "tt", _df(spark, [(1, "a2")]))            # commit 4

    def state(n):
        return sorted((r.k, r.v) for r in cat.read_asof("tt", n).collect())

    assert state(1) == [(1, "a"), (2, "b"), (3, "c")]
    assert state(2) == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    assert state(3) == [(2, "B"), (3, "c"), (4, "d")]
    assert state(4) == [(1, "a2"), (2, "B"), (3, "c"), (4, "d")]
    # as-of current commit == live snapshot
    assert state(4) == sorted((r.k, r.v) for r in cat.load("tt").collect())


def test_read_asof_guards(spark, cat):
    cat.write("g1", _df(spark, [(1, "a")]))          # keyless
    cat.log_commit("g1", _df(spark, [(2, "b")]))     # commit 2 (append-ish)
    with pytest.raises(ValueError, match="record key"):
        cat.read_asof("g1", 1)
    with pytest.raises(ValueError, match="commits start at 1"):
        cat.read_asof("g1", 0)
    # future instants raise (Hudi/Delta semantics), never silently
    # return the current snapshot
    with pytest.raises(ValueError, match="does not exist"):
        cat.read_asof("g1", 999)


def test_read_asof_requires_bootstrap_log(spark, cat):
    import os
    import shutil
    cat.write("g2", _df(spark, [(1, "a")]), key="k")
    upsert_table(cat, "g2", _df(spark, [(2, "b")]))
    shutil.rmtree(os.path.join(cat._changes_root("g2"), "commit=1"))
    with pytest.raises(ValueError, match="bootstrap"):
        cat.read_asof("g2", 1)


def test_stream_changes_excludes_bootstrap_commit(spark, cat, tmp_path):
    from pydata_vector_search_spark import streaming as S
    cat.write("sb", _df(spark, [(1, "a"), (2, "b")]), key="k")
    upsert_table(cat, "sb", _df(spark, [(2, "B")]))
    st = S.read_changes_stream(spark, cat, "sb")
    q = (st.writeStream.format("memory").queryName("sb_cdc")
         .option("checkpointLocation", str(tmp_path / "ck_sb"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = [(r.k, r.commit) for r in spark.table("sb_cdc").collect()]
    assert rows == [(2, 2)]


def test_read_asof_timestamp(spark, cat):
    """Wall-clock time travel: instants recorded per commit resolve to the
    newest commit at-or-before the asked-for timestamp."""
    from pydata_vector_search_spark.operators.upsert import delete_where
    cat.write("ts", _df(spark, [(1, "a"), (2, "b")]), key="k")
    t1 = cat.info("ts").commit_times["1"]
    upsert_table(cat, "ts", _df(spark, [(2, "B")]))             # commit 2
    t2 = cat.info("ts").commit_times["2"]
    delete_where(cat, "ts", "k = 1")                            # commit 3
    assert t1 <= t2 <= cat.info("ts").commit_times["3"]

    def state_at(ts):
        return sorted((r.k, r.v)
                      for r in cat.read_asof_timestamp("ts", ts).collect())

    assert state_at(t1) == [(1, "a"), (2, "b")]
    assert state_at(t2) == [(1, "a"), (2, "B")]
    assert state_at(t2 + 10**6) == [(2, "B")]          # far future = live
    with pytest.raises(ValueError, match="no commit"):
        cat.read_asof_timestamp("ts", t1 - 10**6)


def test_expire_commits_collapses_timeline(spark, cat):
    """Retention: expire through commit N collapses older history into a
    materialized base at N; time travel >= N still replays exactly,
    reads before N raise, incremental reads since >= N are unchanged."""
    from pydata_vector_search_spark.operators.upsert import delete_where
    cat.write("ex", _df(spark, [(1, "a"), (2, "b"), (3, "c")]), key="k")
    upsert_table(cat, "ex", _df(spark, [(2, "B"), (4, "d")]))   # commit 2
    delete_where(cat, "ex", "k = 1")                            # commit 3
    upsert_table(cat, "ex", _df(spark, [(5, "e")]))             # commit 4
    want3 = sorted((r.k, r.v) for r in cat.read_asof("ex", 3).collect())
    want4 = sorted((r.k, r.v) for r in cat.read_asof("ex", 4).collect())

    cat.expire_commits("ex", 3)
    assert cat.info("ex").history_start == 3
    import os
    croot = cat._changes_root("ex")
    assert not os.path.isdir(os.path.join(croot, "commit=1"))
    assert not os.path.isdir(os.path.join(croot, "commit=2"))

    # retained history replays identically off the collapsed base
    assert sorted((r.k, r.v)
                  for r in cat.read_asof("ex", 3).collect()) == want3
    assert sorted((r.k, r.v)
                  for r in cat.read_asof("ex", 4).collect()) == want4
    # expired history refuses loudly
    with pytest.raises(ValueError, match="predates the retained"):
        cat.read_asof("ex", 2)
    with pytest.raises(ValueError, match="expired"):
        cat.read_incremental("ex", 1)
    # incremental since the collapse point sees only the real new commits
    inc = {(r.k, r.v) for r in cat.read_incremental("ex", 3).collect()}
    assert inc == {(5, "e")}
    # timeline keeps advancing normally after expiry
    upsert_table(cat, "ex", _df(spark, [(6, "f")]))             # commit 5
    got5 = sorted((r.k, r.v) for r in cat.read_asof("ex", 5).collect())
    assert got5 == sorted(want4 + [(6, "f")])


def test_expire_commits_guards(spark, cat):
    cat.write("ex2", _df(spark, [(1, "a")]), key="k")
    upsert_table(cat, "ex2", _df(spark, [(2, "b")]))
    cat.expire_commits("ex2", 1)          # no-op: nothing before start
    assert cat.info("ex2").history_start == 1
    with pytest.raises(ValueError, match="cannot expire"):
        cat.expire_commits("ex2", 99)


def test_purge_keys_erases_history_and_index(spark, cat, tmp_path):
    """GDPR purge: keys vanish from the snapshot, from EVERY retained
    commit (read_asof no longer returns them), and from a registered
    index's data files; other rows and the commit structure survive."""
    import numpy as np

    from pydata_vector_search_spark.operators import ann
    from pydata_vector_search_spark.operators.upsert import upsert_table

    rows = [(i, f"u{i}", [float(i), 1.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "k int, v string, emb array<double>")
    cat.write("p", df, key="k")                                 # commit 1
    upsert_table(cat, "p", spark.createDataFrame(
        [(3, "u3b", [3.0, 2.0]), (30, "u30", [30.0, 1.0])],
        "k int, v string, emb array<double>"))                  # commit 2
    idx = ann.ivf_build(cat.load("p"), "emb",
                        str(tmp_path / "pidx"), num_centroids=2, seed=1)
    cat.register_index("p", "emb", idx.path)

    out = cat.purge_keys("p", [3, 7])
    assert out["purged"] == 2 and out["indexes_patched"] == ["emb"]
    assert out["commits_rewritten"] == 2      # both commits held key 3/7

    snap = cat.load("p")
    assert snap.filter("k in (3, 7)").count() == 0
    assert snap.count() == 19                 # 21 live - 2 purged
    # history: as-of commit 1 no longer contains the purged keys
    asof1 = cat.read_asof("p", 1)
    assert asof1.filter("k in (3, 7)").count() == 0
    assert asof1.count() == 18                # 20 bootstrap - 2
    # incremental feed: no tombstone row leaks the purged keys
    inc = cat.read_incremental("p", 1, latest_only=False)
    assert inc.filter("k in (3, 7)").count() == 0
    # index data physically clean
    assert spark.read.parquet(idx.path + "/data") \
        .filter("k in (3, 7)").count() == 0

    with pytest.raises(ValueError, match="max_keys"):
        cat.purge_keys("p", list(range(10)), max_keys=5)


def test_purge_every_key_of_a_centroid_drops_its_index_partition(
        spark, cat, tmp_path):
    """Purging ALL keys of one centroid leaves that ``__cid`` partition
    with no kept rows: its directory must go (a dynamic overwrite never
    touches a partition it writes no rows to), so no purged key remains
    in the index files and a full probe equals exact KNN over the
    survivors."""
    import math

    from pydata_vector_search_spark.operators import ann, knn

    # three well-separated directions, ten jittered keys each
    rows = [(i, [math.cos(2 * math.pi * (i % 3) / 3 + 0.01 * i),
                 math.sin(2 * math.pi * (i % 3) / 3 + 0.01 * i)])
            for i in range(30)]
    cat.write("pc", spark.createDataFrame(rows, "k int, emb array<double>"),
              key="k")
    idx = ann.ivf_build(cat.load("pc"), "emb", str(tmp_path / "pcidx"),
                        num_centroids=3, seed=1)
    cat.register_index("pc", "emb", idx.path)
    data = spark.read.parquet(idx.data_path)
    cid = data.filter("k = 0").head()["__cid"]
    doomed = [r.k for r in data.filter(F.col("__cid") == cid).collect()]
    assert 0 < len(doomed) < 30

    out = cat.purge_keys("pc", doomed)
    assert out["purged"] == len(doomed) and out["indexes_patched"] == ["emb"]
    assert spark.read.parquet(idx.data_path) \
        .filter(F.col("k").isin(doomed)).count() == 0
    q = rows[0][1]
    exact = [r.k for r in knn.vector_search(
        cat.load("pc"), "emb", q, k=10, tiebreaker="k").collect()]
    probed = [r.k for r in ann.ivf_search(
        spark, ann.IVFIndex.load(spark, idx.path), q, k=10, nprobe=3,
        tiebreaker="k").collect()]
    assert probed == exact and not set(exact) & set(doomed)


def test_purge_keys_keeps_null_key_rows(spark, cat):
    """ADVICE r06 (medium): under three-valued logic ~isin(NULL) is NULL
    — NULL-key rows must survive every purge rewrite (snapshot, commit
    log), not be silently destroyed beyond the requested keys."""
    df = spark.createDataFrame([(1, "a"), (2, "b"), (None, "n")],
                               "k int, v string")
    cat.write("pn", df, key="k")
    out = cat.purge_keys("pn", [1])
    assert out["purged"] == 1
    snap = cat.load("pn")
    assert snap.count() == 2
    assert snap.filter("k IS NULL").count() == 1
    asof = cat.read_asof("pn", 1)
    assert asof.filter("k IS NULL").count() == 1
    assert asof.filter("k = 1").count() == 0


def test_purge_partitioned_rewrites_only_touched(spark, cat):
    """VERDICT r05 #7: on a partitioned table the snapshot rewrite is
    scoped to partitions containing purged keys — untouched partitions'
    files keep their mtimes — and a partition left empty has its
    directory dropped."""
    import glob
    import os

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b")], "k int, p string")
    cat.write("pp", df, key="k", partition_by=["p"])

    def files_of(part):
        # the current version's directory: every purge writes a new one
        d = os.path.join(cat.info("pp").path, part)
        return {os.path.basename(f): (os.stat(f).st_ino, os.path.getmtime(f))
                for f in glob.glob(os.path.join(d, "*.parquet"))}

    b_files = files_of("p=b")
    assert b_files

    out = cat.purge_keys("pp", [1])
    assert out["purged"] == 1
    assert cat.load("pp").count() == 3
    assert files_of("p=b") == b_files   # p=b never rewritten: same inodes

    cat.purge_keys("pp", [2])        # empties partition a entirely
    assert not os.path.isdir(os.path.join(cat.info("pp").path, "p=a"))
    assert cat.load("pp").count() == 2
    assert {r.k for r in cat.load("pp").collect()} == {3, 4}
