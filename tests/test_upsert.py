"""Upsert semantics (reference U1: Hudi keyed last-write-wins, c8:17-23)."""

import pytest
from pyspark.sql import functions as F

from pydata_vector_search_spark.catalog import Catalog
from pydata_vector_search_spark.operators.upsert import merge_last_write_wins, upsert_table


def test_merge_replaces_and_appends(spark):
    old = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    new = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    got = {r.k: r.v for r in merge_last_write_wins(old, new, "k").collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_merge_idempotent(spark):
    old = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    new = spark.createDataFrame([(2, "B")], "k int, v string")
    once = merge_last_write_wins(old, new, "k")
    twice = merge_last_write_wins(once, new, "k")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_catalog_upsert_roundtrip(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat"))
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, x double")
    cat.write("t", df, key="k")
    upsert_table(cat, "t", spark.createDataFrame([(2, 99.0), (5, 50.0)], "k int, x double"))
    got = {r.k: r.x for r in cat.load("t").collect()}
    assert got == {1: 10.0, 2: 99.0, 5: 50.0}
    # reattach from disk (catalog persistence)
    cat2 = Catalog(spark, str(tmp_path / "cat"))
    assert "t" in cat2 and cat2.info("t").key == "k"


def test_partition_scoped_upsert_leaves_other_partitions_untouched(spark, tmp_path):
    import os
    from pyspark.sql import functions as F

    from pydata_vector_search_spark.catalog import Catalog, read_table
    from pydata_vector_search_spark.operators.upsert import upsert_table

    cat = Catalog(spark, str(tmp_path / "cat"))
    ev = read_table(spark, "/root/testdata/sf0.001", "events") \
        .select("event_id", "event_type", "value")
    cat.write("ev_part", ev, key="event_id", partition_by=["event_type"])

    def files_of(part):
        # the current version's directory: every commit writes a new one
        d = os.path.join(cat.info("ev_part").path, f"event_type={part}")
        return {f: (os.stat(os.path.join(d, f)).st_ino,
                    os.path.getmtime(os.path.join(d, f)))
                for f in os.listdir(d) if f.endswith(".parquet")}

    before_error = files_of("error")
    batch = (ev.filter(F.col("event_type") == "purchase").limit(5)
               .withColumn("value", F.lit(-1.0)))
    n_before = cat.load("ev_part").count()
    upsert_table(cat, "ev_part", batch)

    after = cat.load("ev_part")
    assert after.count() == n_before                      # pure update
    assert after.filter(F.col("value") == -1.0).count() == 5
    assert files_of("error") == before_error   # untouched: same inode+mtime


def test_partition_scoped_upsert_inserts_new_keys(spark, tmp_path):
    from pyspark.sql import functions as F

    from pydata_vector_search_spark.catalog import Catalog, read_table
    from pydata_vector_search_spark.operators.upsert import upsert_table

    cat = Catalog(spark, str(tmp_path / "cat"))
    ev = read_table(spark, "/root/testdata/sf0.001", "events") \
        .select("event_id", "event_type", "value")
    cat.write("ev_part", ev, key="event_id", partition_by=["event_type"])
    n = cat.load("ev_part").count()
    new_rows = spark.createDataFrame(
        [(10_000_001, "purchase", 1.5), (10_000_002, "newtype", 2.5)],
        "event_id long, event_type string, value double")
    upsert_table(cat, "ev_part", new_rows)
    after = cat.load("ev_part")
    assert after.count() == n + 2
    assert after.filter(F.col("event_type") == "newtype").count() == 1


def test_partition_scoped_upsert_empty_batch_is_noop(spark, tmp_path):
    from pydata_vector_search_spark.catalog import Catalog, read_table
    from pydata_vector_search_spark.operators.upsert import upsert_table

    cat = Catalog(spark, str(tmp_path / "cat"))
    ev = read_table(spark, "/root/testdata/sf0.001", "events") \
        .select("event_id", "event_type", "value")
    cat.write("ev_part", ev, key="event_id", partition_by=["event_type"])
    n = cat.load("ev_part").count()
    upsert_table(cat, "ev_part", ev.limit(0))
    assert cat.load("ev_part").count() == n


def test_write_refuses_external_and_bucketed_conversion(spark, tmp_path):
    """write/upsert/compact must not silently convert an external or
    bucketed registration into a managed parquet table."""
    import pytest as _pytest
    from pydata_vector_search_spark.catalog import Catalog
    cat = Catalog(spark, str(tmp_path / "cat"))
    df = spark.createDataFrame([(1, "a")], "id int, v string")

    csv_dir = str(tmp_path / "ext.csv")
    df.write.mode("overwrite").option("header", True).csv(csv_dir)
    cat.register_path("ext", csv_dir, format="csv", header=True)
    with _pytest.raises(ValueError, match="external"):
        cat.write("ext", df)
    assert cat.info("ext").format == "csv"          # registration untouched

    cat.write_bucketed("bkt", df, key="id", num_buckets=4)
    with _pytest.raises(ValueError, match="bucketed"):
        cat.write("bkt", df)
    with _pytest.raises(ValueError, match="bucketed"):
        cat.compact("bkt")
    assert cat.info("bkt").num_buckets == 4

    # managed tables still overwrite fine
    cat.write("managed", df)
    cat.write("managed", df)


def test_merge_into_clauses(spark, tmp_path):
    """MERGE: conditional update, delete-wins-over-update, insert, and
    untouched unmatched-target rows — in one commit pair."""
    from pydata_vector_search_spark.operators.upsert import merge_into

    cat = Catalog(spark, str(tmp_path / "m1"))
    cat.write("t", spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)], "k int, x double"),
        key="k")
    source = spark.createDataFrame(
        [(2, 99.0),      # matched, update cond true  -> updated
         (3, -1.0),      # matched, delete cond true  -> deleted
         (4, 0.5),       # matched, neither cond true -> kept as-is
         (9, 90.0)],     # unmatched                  -> inserted
        "k int, x double")
    res = merge_into(cat, "t", source,
                     matched_update="x > 50",
                     matched_delete="x < 0")
    assert res == {"updated": 1, "deleted": 1, "inserted": 1}
    got = {r.k: r.x for r in cat.load("t").collect()}
    assert got == {1: 10.0, 2: 99.0, 4: 40.0, 9: 90.0}
    # CDC: update+insert commit then tombstone commit
    inc = cat.read_incremental("t", 1, latest_only=False)
    by = {(r.k, r._deleted) for r in inc.collect()}
    assert by == {(2, False), (9, False), (3, True)}


def test_merge_into_partition_scoped(spark, tmp_path):
    """Partitioned MERGE: only source-touched partitions are rewritten
    (untouched partition files keep their mtimes), a partition emptied by
    deletes loses its directory, and inserts land in their partitions."""
    import os

    from pyspark.sql import functions as F

    from pydata_vector_search_spark.catalog import read_table
    from pydata_vector_search_spark.operators.upsert import merge_into

    cat = Catalog(spark, str(tmp_path / "mp"))
    ev = read_table(spark, "/root/testdata/sf0.001", "events") \
        .select("event_id", "event_type", "value")
    cat.write("ev", ev, key="event_id", partition_by=["event_type"])

    def files_of(part):
        # the current version's directory: every commit writes a new one
        d = os.path.join(cat.info("ev").path, f"event_type={part}")
        if not os.path.isdir(d):
            return None
        return {f: (os.stat(os.path.join(d, f)).st_ino,
                    os.path.getmtime(os.path.join(d, f)))
                for f in os.listdir(d) if f.endswith(".parquet")}

    before_error = files_of("error")
    n_click = ev.filter("event_type = 'click'").count()
    assert before_error and n_click > 0

    # source: update 3 purchases, delete EVERY click (empties the
    # partition), insert 2 rows of a brand-new partition value
    upd = (ev.filter("event_type = 'purchase'").limit(3)
             .withColumn("value", F.lit(-5.0)))
    dels = ev.filter("event_type = 'click'").withColumn(
        "value", F.lit(-999.0))
    ins = spark.createDataFrame(
        [(900001, "brandnew", 1.0), (900002, "brandnew", 2.0)],
        "event_id long, event_type string, value double")
    source = upd.unionByName(dels).unionByName(ins)

    res = merge_into(cat, "ev", source, matched_delete="value = -999.0")
    assert res["updated"] == 3 and res["inserted"] == 2
    assert res["deleted"] == n_click

    got = cat.load("ev")
    assert got.filter("event_type = 'click'").count() == 0
    assert files_of("click") is None                 # emptied dir dropped
    assert got.filter("event_type = 'brandnew'").count() == 2
    assert got.filter("value = -5.0").count() == 3
    assert files_of("error") == before_error   # untouched: same inode+mtime


def test_merge_into_partitioned_key_is_partition_scoped(spark, tmp_path):
    """Hudi non-global-index semantics: the same key in a DIFFERENT
    (untouched) partition is NOT matched — the source row inserts into
    its own partition instead of updating across partitions."""
    from pydata_vector_search_spark.operators.upsert import merge_into

    cat = Catalog(spark, str(tmp_path / "mg"))
    cat.write("t", spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, p string, x double"),
        key="k", partition_by=["p"])
    # key 1 exists in partition a; source addresses partition b only
    res = merge_into(cat, "t", spark.createDataFrame(
        [(1, "b", 99.0)], "k int, p string, x double"))
    assert res == {"updated": 0, "deleted": 0, "inserted": 1}
    got = sorted((r.k, r.p, r.x) for r in cat.load("t").collect())
    assert got == [(1, "a", 10.0), (1, "b", 99.0), (2, "b", 20.0)]


def test_merge_into_unconditional_equals_upsert(spark, tmp_path):
    from pydata_vector_search_spark.operators.upsert import merge_into
    cat = Catalog(spark, str(tmp_path / "m2"))
    cat.write("t", spark.createDataFrame([(1, "a"), (2, "b")],
                                         "k int, v string"), key="k")
    res = merge_into(cat, "t", spark.createDataFrame(
        [(2, "B"), (5, "e")], "k int, v string"))
    assert res == {"updated": 1, "deleted": 0, "inserted": 1}
    assert {r.k: r.v for r in cat.load("t").collect()} == \
        {1: "a", 2: "B", 5: "e"}


def test_merge_into_no_insert_mode_and_null_condition(spark, tmp_path):
    from pydata_vector_search_spark.operators.upsert import merge_into
    cat = Catalog(spark, str(tmp_path / "m3"))
    cat.write("t", spark.createDataFrame(
        [(1, 10), (2, None)], "k int, x int"), key="k")
    source = spark.createDataFrame(
        [(2, None),      # update cond x>5 on source is NULL -> NOT updated
         (7, 70)],       # unmatched but insert disabled
        "k int, x int")
    res = merge_into(cat, "t", source, matched_update="x > 5",
                     insert_unmatched=False)
    assert res == {"updated": 0, "deleted": 0, "inserted": 0}
    assert sorted(r.k for r in cat.load("t").collect()) == [1, 2]


def test_merge_into_schema_guard(spark, tmp_path):
    from pydata_vector_search_spark.operators.upsert import merge_into
    cat = Catalog(spark, str(tmp_path / "m4"))
    cat.write("t", spark.createDataFrame([(1, "a")], "k int, v string"),
              key="k")
    with pytest.raises(ValueError, match="must match"):
        merge_into(cat, "t", spark.createDataFrame([(1,)], "k int"))


def test_upsert_schema_evolution_adds_column(spark, tmp_path):
    """Schema evolution on upsert (the lakehouse mergeSchema contract):
    a batch carrying a NEW column widens the snapshot (old rows NULL),
    and incremental readers see the widened schema too (the change log
    is read with the union of the logged batches' columns)."""
    from pydata_vector_search_spark.operators.upsert import upsert_table
    cat = Catalog(spark, str(tmp_path / "se"))
    cat.write("t", spark.createDataFrame([(1, "a"), (2, "b")],
                                         "k int, v string"), key="k")
    batch = spark.createDataFrame([(2, "B", 9.5), (3, "c", 1.0)],
                                  "k int, v string, score double")
    upsert_table(cat, "t", batch)
    got = {r.k: (r.v, r.score) for r in cat.load("t").collect()}
    assert got == {1: ("a", None), 2: ("B", 9.5), 3: ("c", 1.0)}
    inc = {r.k: r.score for r in cat.read_incremental("t", 1).collect()}
    assert inc == {2: 9.5, 3: 1.0}
    # and time travel before the widening still reconstructs (new column
    # surfaces as NULL for the historical state — merged log schema)
    old = {r.k: (r.v, r.score) for r in cat.read_asof("t", 1).collect()}
    assert old == {1: ("a", None), 2: ("b", None)}


def test_upsert_schema_evolution_partitioned(spark, tmp_path):
    """The same on a partitioned table, where the upsert rewrites only the
    partition it touches and links the others' files, so most snapshot
    files lack the new column: incremental reads, time travel and an
    expiry still carry it."""
    from pydata_vector_search_spark.operators.upsert import upsert_table
    cat = Catalog(spark, str(tmp_path / "sep"))
    cat.write("t", spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p2"), (3, "c", "p3")],
        "k int, v string, p string"), key="k", partition_by=["p"])
    upsert_table(cat, "t", spark.createDataFrame(
        [(3, "C", "p3", 9.5)], "k int, v string, p string, score double"))
    upsert_table(cat, "t", spark.createDataFrame(
        [(2, "B", "p2", 1.5)], "k int, v string, p string, score double"))
    inc = {r.k: r.score for r in cat.read_incremental("t", 1).collect()}
    assert inc == {2: 1.5, 3: 9.5}
    old = {r.k: (r.v, r.score) for r in cat.read_asof("t", 2).collect()}
    assert old == {1: ("a", None), 2: ("b", None), 3: ("C", 9.5)}
    cat.expire_commits("t", 2)
    old = {r.k: (r.v, r.score) for r in cat.read_asof("t", 2).collect()}
    assert old == {1: ("a", None), 2: ("b", None), 3: ("C", 9.5)}


def test_merge_into_rejects_dup_and_null_source_keys(spark, tmp_path):
    from pydata_vector_search_spark.operators.upsert import merge_into
    cat = Catalog(spark, str(tmp_path / "m5"))
    cat.write("t", spark.createDataFrame([(1, "a")], "k int, v string"),
              key="k")
    with pytest.raises(ValueError, match="multiple rows"):
        merge_into(cat, "t", spark.createDataFrame(
            [(2, "x"), (2, "y")], "k int, v string"))
    with pytest.raises(ValueError, match="NULL"):
        merge_into(cat, "t", spark.createDataFrame(
            [(None, "x")], "k int, v string"))
    # guards fire BEFORE any commit is logged
    assert cat.current_commit("t") == 1
