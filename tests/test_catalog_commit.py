"""Crash consistency of catalog commits, by fault injection.

Every commit path of the catalog is run once per injection point: the
k-th call of ``os.replace``, ``os.link``, ``shutil.rmtree`` or
``DataFrameWriter.parquet`` (the Spark write is hit both before and after
the real call) raises, for k = 1, 2, … until the operation completes.
After each raise a fresh ``Catalog`` attaches to the same root, and the
table must be exactly in the state before the operation or exactly in
the state after it: commit, snapshot, time travel and incremental reads
agree with one Python model, and nothing the metadata does not reference
is left on disk.
"""

import os
import shutil
from dataclasses import dataclass, field

import pytest
from pyspark.sql import DataFrameWriter

from pydata_vector_search_spark.catalog import Catalog
from pydata_vector_search_spark.operators.upsert import (
    delete_where, merge_into, upsert_table)


class Crash(Exception):
    pass


@dataclass
class State:
    commit: int
    rows: set                                   # snapshot as a set of tuples
    start: int = 1                              # history_start
    asof: dict = field(default_factory=dict)    # commit -> rows
    inc: dict = field(default_factory=dict)     # since -> {(row, _deleted)}


def _rows(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


T = "k int, v string"
P = "k int, p string, v string"
T0 = {(i, f"v{i}") for i in range(1, 7)}
P0 = {(i, "abc"[i % 3], f"v{i}") for i in range(1, 10)}


def _upsert(rows, batch):
    keys = {r[0] for r in batch}
    return {r for r in rows if r[0] not in keys} | set(batch)


def _case(spark, name):
    """(table, columns, setup(cat), op(cat), states) of one commit path."""
    df = spark.createDataFrame
    t_u1 = {(2, "b2"), (7, "v7")}
    t1 = _upsert(T0, t_u1)
    p_u1 = {(1, "b", "x1"), (4, "b", "x4")}
    p1 = _upsert(P0, p_u1)

    def setup_t(cat):
        cat.write("t", df(sorted(T0), T).coalesce(1), key="k")
        upsert_table(cat, "t", df(sorted(t_u1), T))             # commit 2

    def setup_p(cat):
        cat.write("t", df(sorted(P0), P).coalesce(1), key="k",
                  partition_by=["p"])
        upsert_table(cat, "t", df(sorted(p_u1), P))             # commit 2

    inc_t1 = {(r, False) for r in t_u1}
    before_t = State(2, t1, asof={1: T0}, inc={1: inc_t1})
    before_p = State(2, p1, asof={1: P0})
    tc, pc = ["k", "v"], ["k", "p", "v"]

    if name == "ingest_overwrite":
        new = {(i, f"n{i}") for i in range(3, 9)}
        return "t", tc, setup_t, lambda cat: cat.write(
            "t", df(sorted(new), T).coalesce(1), key="k"), [
            before_t, State(1, new, inc={1: set()})]
    if name == "upsert":
        b = {(3, "c3"), (8, "v8")}
        return "t", tc, setup_t, lambda cat: upsert_table(
            cat, "t", df(sorted(b), T)), [
            State(2, t1, asof={1: T0}, inc={2: set()}),
            State(3, _upsert(t1, b), asof={2: t1},
                  inc={2: {(r, False) for r in b}})]
    if name == "upsert_partitioned":
        b = {(2, "c", "y2"), (30, "c", "y30")}
        return "t", pc, setup_p, lambda cat: upsert_table(
            cat, "t", df(sorted(b), P)), [
            State(2, p1, asof={1: P0}, inc={2: set()}),
            State(3, _upsert(p1, b), asof={2: p1},
                  inc={2: {(r, False) for r in b}})]
    if name == "delete_emptying_partition":
        gone = {r for r in p1 if r[1] == "a" or r[0] == 4}
        return "t", pc, setup_p, lambda cat: delete_where(
            cat, "t", "p = 'a' OR k = 4"), [
            State(2, p1, asof={1: P0}, inc={2: set()}),
            State(3, p1 - gone, asof={2: p1},
                  inc={2: {(r, True) for r in gone}})]
    if name == "merge_into":
        # update k=1, delete k=4 (empties nothing), insert k=31 — two
        # commits (upsert, tombstone) that must land together
        src = {(1, "b", "m1"), (4, "b", "DEL"), (31, "c", "m31")}
        after = ({r for r in p1 if r[0] not in (1, 4)}
                 | {(1, "b", "m1"), (31, "c", "m31")})
        return "t", pc, setup_p, lambda cat: merge_into(
            cat, "t", df(sorted(src), P), matched_delete="v = 'DEL'"), [
            State(2, p1, asof={1: P0}, inc={2: set()}),
            State(4, after, asof={2: p1},
                  inc={2: {((1, "b", "m1"), False), ((31, "c", "m31"), False),
                           ((4, "b", "x4"), True)}})]
    if name == "compact":
        return "t", tc, setup_t, lambda cat: cat.compact("t", 1), [before_t]
    if name == "purge_keys":
        return "t", tc, setup_t, lambda cat: cat.purge_keys("t", [2]), [
            before_t,
            State(2, {r for r in t1 if r[0] != 2},
                  asof={1: {r for r in T0 if r[0] != 2}},
                  inc={1: {(r, False) for r in t_u1 if r[0] != 2}})]
    if name == "expire_commits":
        def setup_x(cat):
            setup_t(cat)
            delete_where(cat, "t", "k = 1")                     # commit 3
            upsert_table(cat, "t", df([(9, "v9")], T))          # commit 4
        t3 = {r for r in t1 if r[0] != 1}
        t4 = t3 | {(9, "v9")}
        inc = {3: {((9, "v9"), False)}}
        return "t", tc, setup_x, lambda cat: cat.expire_commits("t", 3), [
            State(4, t4, asof={1: T0}, inc=inc),
            State(4, t4, start=3, asof={3: t3}, inc=inc)]
    raise KeyError(name)


class _Injector:
    """Raise at the k-th call of any wrapped filesystem or write step."""

    def __init__(self, monkeypatch, k):
        self.k, self.calls = k, 0
        for mod, attr in ((os, "replace"), (os, "link"),
                          (shutil, "rmtree")):
            monkeypatch.setattr(mod, attr, self._wrap(getattr(mod, attr)))
        real = DataFrameWriter.parquet

        def parquet(writer, *a, **kw):
            self._step()
            out = real(writer, *a, **kw)
            self._step()
            return out
        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)

    def _step(self):
        self.calls += 1
        if self.calls == self.k:
            raise Crash(f"injected at step {self.k}")

    def _wrap(self, fn):
        def wrapped(*a, **kw):
            self._step()
            return fn(*a, **kw)
        return wrapped


def _check(spark, root, name, cols, states):
    cat = Catalog(spark, root)
    info = cat.info(name)
    snap = _rows(cat.load(name), cols)
    match = [s for s in states if (s.commit, s.start, s.rows)
             == (info.last_commit, info.history_start, snap)]
    assert match, (info.last_commit, info.history_start, sorted(snap))
    s = match[0]
    for c, want in s.asof.items():
        assert _rows(cat.read_asof(name, c), cols) == want, c
    for since, want in s.inc.items():
        got = {(tuple(r[c] for c in cols), r._deleted) for r in
               cat.read_incremental(name, since, latest_only=False)
                  .collect()}
        assert got == want, since
    # no residue: the root holds the metadata, the table directory with
    # exactly its current version, and the current log generation with
    # only the commits in [history_start, last_commit]
    croot = cat._changes_root(name)
    assert sorted(os.listdir(root)) == sorted(
        ["_catalog.json", name, os.path.basename(croot)])
    assert os.listdir(os.path.join(root, name)) == [
        os.path.basename(info.path)]
    commits = sorted(int(d.split("=")[1]) for d in os.listdir(croot)
                     if d.startswith("commit="))
    assert commits == list(range(info.history_start, info.last_commit + 1))
    return s


@pytest.mark.parametrize("case", [
    "ingest_overwrite", "upsert", "upsert_partitioned",
    "delete_emptying_partition", "merge_into", "compact", "purge_keys",
    "expire_commits"])
def test_crash_at_every_step_reattaches_before_or_after(
        spark, tmp_path, monkeypatch, case):
    name, cols, setup, op, states = _case(spark, case)
    root = str(tmp_path / "cat")
    template = str(tmp_path / "template")
    setup(Catalog(spark, root))
    shutil.copytree(root, template)
    seen = set()
    for k in range(1, 100):
        shutil.rmtree(root)
        shutil.copytree(template, root)
        cat = Catalog(spark, root)
        with monkeypatch.context() as m:
            inj = _Injector(m, k)
            try:
                op(cat)
                done = True
            except Crash:
                done = False
        seen.add(states.index(_check(spark, root, name, cols, states)))
        if done:
            assert inj.calls < k          # every step was injected once
            break
    else:
        pytest.fail("operation did not complete within 99 steps")
    # the final run committed: the last state was reached, and a crash
    # early enough left the first
    assert seen == set(range(len(states)))


def test_attach_refuses_unversioned_layout(spark, tmp_path):
    """A managed table whose snapshot files sit directly in
    ``<root>/<name>`` (the layout before versioned snapshots) is refused
    with a re-ingest message: a new version would nest inside the old
    directory and be deleted with it. Nothing is deleted."""
    import json

    root = tmp_path / "old"
    (root / "t").mkdir(parents=True)
    (root / "t" / "part-0.parquet").write_bytes(b"")
    (root / "_catalog.json").write_text(json.dumps(
        {"t": {"name": "t", "path": str(root / "t"), "key": "k",
               "last_commit": 1}}))
    with pytest.raises(ValueError, match="re-ingest"):
        Catalog(spark, str(root))
    assert os.listdir(root / "t") == ["part-0.parquet"]
