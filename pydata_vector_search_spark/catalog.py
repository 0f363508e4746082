"""Tiny named-table catalog: name -> Parquet path (+ key metadata).

Replaces the reference's Hudi table layer (demo.ipynb c8:15-26: record-keyed
COW table at TABLE_PATH). We keep the two things the demo actually relies on —
(1) a stable name/path for snapshot reads, (2) a record key enabling upsert
semantics — and drop the rest (timeline, meta columns in user SELECTs).

Tables are directories of Parquet files, so at 100 TB a table is simply more
files; reads stay a vectorized columnar scan with predicate pushdown + column
pruning, and optional hive-style partition columns give partition pruning.
"""

from __future__ import annotations

import json
import operator
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field, asdict, replace
from functools import reduce
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import BooleanType, IntegerType, StructType


@dataclass
class TableInfo:
    name: str
    path: str
    key: str | None = None            # record key for upsert (reference: job_id)
    partition_by: list[str] = field(default_factory=list)
    num_buckets: int = 0              # >0: bucketed table (session catalog)
    last_commit: int = 0              # monotonically increasing commit id (1 = bootstrap)
    commit_times: dict = field(default_factory=dict)  # commit id (str) -> epoch seconds
    history_start: int = 1            # earliest replayable commit (expire_commits raises it)
    format: str = "parquet"           # any Spark DataSource (csv/json/orc/text)
    options: dict = field(default_factory=dict)   # reader options (csv header, …)
    has_schema: bool = False          # an explicit schema was given at registration
    indexes: dict = field(default_factory=dict)   # vector_col -> {path, commit}
    aggregates: dict = field(default_factory=dict)  # agg table -> {group_by, sums, count_col, commit}
    log_gen: int = 0                  # change-log generation (history rewrites start a new one)
    log_schema: str | None = None     # JSON: union of the logged batches' columns (None: not recorded)


def _partition_pred(partition_by: list[str], parts: list[tuple]):
    return reduce(operator.or_, [
        reduce(operator.and_,
               [F.col(c).eqNullSafe(F.lit(v))
                for c, v in zip(partition_by, p)])
        for p in parts])


def overwrite_dir_via_swap(df: DataFrame, path: str,
                           partition_by: list[str] | None = None,
                           base: DataFrame | None = None,
                           touched: list[tuple] | None = None) -> None:
    """EVERY copy-on-write rewrite of the catalog: Spark writes ``df``
    (partitioned like the table) into the FRESH directory ``path``, then
    the files of ``base`` (a scan of the current version) the rewrite
    leaves alone are hardlinked in. ``base=None``: a full rewrite, nothing
    linked; ``touched=None``: an append, everything linked; ``touched`` =
    partition-value tuples: every partition directory except the touched
    ones, whose files are found from the touched partitions' scan
    (``_metadata.file_path``) — untouched partitions are never opened,
    and their files keep their inodes.

    Nothing staged here is visible until the caller's one atomic replace
    of ``_catalog.json`` (``Catalog._commit``); a crash before it leaves
    an unreferenced directory that the next attach deletes. The current
    version stays intact throughout, so ``df`` may read it — one
    materialization, no checkpoint. The name predates this protocol (it
    used to rename-swap a temp sibling into place) and stays because
    tracing tools patch this module-level function by name.

    INVARIANT (load-bearing for every link): part files are immutable —
    a rewrite lands NEW files and never modifies one in place. Linked
    files are shared between versions, and ``commit=1`` of a keyed table
    shares the bootstrap files' inodes, so an in-place writer would
    silently rewrite history. LOCAL-FS ONLY (hardlinks)."""
    def local(uri):               # URIs arrive percent-escaped
        return unquote(urlparse(uri).path)

    skip = set()
    if base is not None and touched:
        # one row per file (its first), so no distinct shuffle
        skip = {os.path.dirname(local(r[0])) for r in
                base.filter(_partition_pred(partition_by, touched))
                    .filter(F.col("_metadata.row_index") == 0)
                    .select("_metadata.file_path").collect()}
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    if base is None:
        return
    depth = len(partition_by or []) + 1     # partition dirs + file name
    for src in map(local, base.inputFiles()):
        if os.path.dirname(src) in skip:
            continue
        dst = os.path.join(path, *src.split(os.sep)[-depth:])
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.link(src, dst)


def _without(snap: DataFrame, doomed: DataFrame, keep_cond,
             partition_by: list[str]) -> tuple:
    """``(df, base, touched)`` for ``overwrite_dir_via_swap`` to drop the
    ``doomed`` rows of ``snap``: the whole kept table, or only the kept
    rows of the partitions holding doomed rows."""
    if not partition_by:
        return snap.filter(keep_cond), None, None
    touched = [tuple(r) for r in
               doomed.select(*partition_by).distinct().collect()]
    return (snap.filter(_partition_pred(partition_by, touched))
                .filter(keep_cond), snap, touched)


_LOG_COLUMNS = (StructType().add("_deleted", BooleanType())
                            .add("commit", IntegerType()))


def _with_columns(recorded: str | None, schema: StructType) -> str | None:
    """The recorded log schema (JSON) with the columns of ``schema`` it
    lacks appended — the log's columns are the union of every logged
    batch's, as a ``mergeSchema`` read would find them. None (a log
    written before its schema was recorded) stays None."""
    if recorded is None:
        return None
    out = StructType.fromJson(json.loads(recorded))
    for f in schema.fields:
        if f.name not in out.names:
            out.add(f)
    return out.json()


class Catalog:
    """File-backed catalog so sessions can reattach to existing tables.

    ONE commit point, the timeline pointer of the reference's Hudi table:
    every write, upsert, delete, merge, compaction, purge and expiry
    stages new immutable directories — a snapshot version
    ``<root>/<name>/v<id>``, ``commit=N`` directories of the change log
    ``<root>/<name>__changes`` (``__changes_g<N>`` after a history
    rewrite) — then publishes them with one atomic replace of
    ``_catalog.json`` (``_commit``). After a crash at any step, a
    reattached catalog shows the state before the operation or the state
    after it, and deletes whatever the metadata does not reference."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._meta_path = os.path.join(root, "_catalog.json")
        self._tables: dict[str, TableInfo] = {}
        self._schemas: dict = {}      # session-scoped explicit schemas (not persisted)
        if os.path.exists(self._meta_path + ".tmp"):   # torn persist
            os.remove(self._meta_path + ".tmp")
        if os.path.exists(self._meta_path):
            with open(self._meta_path) as f:
                for name, info in json.load(f).items():
                    self._tables[name] = TableInfo(**info)
            # only a REATTACH can see residue from a crashed writer; a
            # fresh catalog root has nothing to sweep
            self._sweep()

    def _managed(self, name: str, info: TableInfo) -> bool:
        return (not info.num_buckets and info.format == "parquet"
                and not info.options and not info.has_schema
                and os.path.join(self.root, name)
                in (info.path, os.path.dirname(info.path)))

    def _sweep(self) -> None:
        """Attach-time garbage collection of managed tables: delete other
        entries of ``<root>/<name>/``, other log generations, and commit
        directories outside ``[history_start, last_commit]``. No data
        file is opened."""
        entries = os.listdir(self.root)
        for name, info in self._tables.items():
            if not self._managed(name, info):
                continue
            tdir = os.path.join(self.root, name)
            if info.path == tdir:
                # snapshot files directly in the table directory: a
                # catalog written before versioned snapshots. A new
                # version would nest inside the old one and be deleted
                # with it.
                raise ValueError(
                    f"table {name!r} at {tdir!r} uses the unversioned "
                    "catalog layout; re-ingest it into a new catalog root")
            for d in os.listdir(tdir):
                if os.path.join(tdir, d) != info.path:
                    shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
            croot = self._changes_root(name, info.log_gen)
            gen = re.compile(re.escape(name) + r"__changes(_g\d+)?")
            for d in entries:
                p = os.path.join(self.root, d)
                if gen.fullmatch(d) and p != croot:
                    shutil.rmtree(p, ignore_errors=True)
            for d in (os.listdir(croot) if os.path.isdir(croot) else ()):
                m = re.fullmatch(r"commit=(\d+)", d)
                if m and not (info.history_start <= int(m.group(1))
                              <= info.last_commit):
                    shutil.rmtree(os.path.join(croot, d), ignore_errors=True)

    def _persist(self, tables: dict[str, TableInfo] | None = None) -> None:
        """Durable, atomic metadata write: a fsynced temp file
        ``os.replace``d over ``_catalog.json`` — never a torn file."""
        tables = self._tables if tables is None else tables
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({n: asdict(t) for n, t in tables.items()}, f, indent=2)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._meta_path)

    def _commit(self, info: TableInfo, garbage=()) -> TableInfo:
        """THE commit point: persist ``info``, adopt it in memory only once
        that succeeded, then delete ``garbage`` — the directories only the
        previous state referenced (a crash leaves it to the next attach)."""
        self._persist({**self._tables, info.name: info})
        self._tables[info.name] = info
        for p in garbage:
            shutil.rmtree(p, ignore_errors=True)
        return info

    def _new_version(self, name: str) -> str:
        return os.path.join(self.root, name, f"v{uuid.uuid4().hex[:16]}")

    # -- registration ------------------------------------------------------
    def register_path(self, name: str, path: str, key: str | None = None,
                      format: str = "parquet",
                      schema=None, **options) -> TableInfo:
        """Attach an existing file/dir as a named external table.

        ``format`` may be any Spark DataSource (parquet/csv/json/orc/text).
        Non-parquet sources are for INGEST convenience — at scale, land
        them once into a managed parquet table (``write``) so reads get
        columnar pruning + pushdown; csv/json scans re-parse text every
        query and csv can't push predicates. A provided ``schema`` avoids
        a full inference pass over the files."""
        info = TableInfo(name=name, path=path, key=key, format=format,
                         options=dict(options), has_schema=schema is not None)
        if schema is not None:
            self._schemas[name] = schema
        self._tables[name] = info
        self._persist()
        return info

    def _check_managed(self, name: str) -> TableInfo | None:
        """Refuse to rewrite an EXTERNAL (registered path / non-parquet /
        explicit-schema) or BUCKETED registration: rebuilding those as a
        managed parquet table would silently change the table's path,
        format, and bucket metadata out from under readers."""
        prior = self._tables.get(name)
        if prior is not None and not self._managed(name, prior):
            kind = "bucketed" if prior.num_buckets else "external"
            raise ValueError(
                f"table {name!r} is a {kind} registration "
                f"(format={prior.format!r}, path={prior.path!r}); "
                "a rewrite (write/upsert/delete/merge/compact/purge) would "
                "silently convert it to a managed parquet table — drop() "
                "it or register a new name")
        return prior

    def write(self, name: str, df: DataFrame, key: str | None = None,
              mode: str = "overwrite", partition_by: list[str] | None = None,
              reset_history: bool = True) -> TableInfo:
        """Write a managed table (reference S3: mode('overwrite') write, c8:26).

        A fresh write is commit 1 (the bootstrap load) and starts a new,
        empty change log; maintenance rewrites (compaction) pass
        ``reset_history=False`` to preserve commit history. ``df`` lands
        in a fresh snapshot version (``mode="append"`` links the current
        files in), so it may read the table it replaces. Commit point:
        the one ``_catalog.json`` replace at the end — a crash before it
        keeps the previous table and log, which are deleted after it.
        Refuses external or bucketed registrations (``_check_managed``)."""
        prior = self._check_managed(name)
        info = TableInfo(name=name, path=self._new_version(name), key=key,
                         partition_by=list(partition_by or []),
                         last_commit=1)
        garbage = []
        if prior is not None:
            garbage.append(prior.path)
            if reset_history:
                info.log_gen = prior.log_gen + 1
                garbage.append(self._changes_root(name, prior.log_gen))
            else:
                # COW rewrites keep history and index/aggregate
                # registrations — staleness is judged from last_commit,
                # not dropped metadata; a fresh bootstrap
                # (reset_history) is new table content, so prior
                # registrations are cleared.
                info = replace(prior, path=info.path, key=key,
                               partition_by=info.partition_by)
        overwrite_dir_via_swap(
            df, info.path, partition_by,
            base=self.load(name) if mode == "append" and prior else None)
        if reset_history:         # the new log starts empty
            shutil.rmtree(self._changes_root(name, info.log_gen),
                          ignore_errors=True)
            info.log_schema = StructType().json()
        if reset_history and key is not None:
            # Record the bootstrap as commit 1 so the change log is a
            # COMPLETE history and ``read_asof`` can reconstruct any
            # commit by replay. NON-PARTITIONED snapshots are HARDLINKED
            # into the commit=1 log partition (r16 optimization): the
            # files are immutable (see overwrite_dir_via_swap), so a
            # link is byte-equivalent to the full columnar copy a Spark
            # job would write, at zero I/O and zero extra storage. The
            # linked files lack the ``_deleted`` column; every log
            # reader already treats an absent/NULL ``_deleted`` as false
            # (mergeSchema + coalesce — the pre-``_deleted``-era
            # compatibility path), so replay semantics are identical.
            # Partitioned snapshots keep the Spark-write copy: their
            # partition columns live in DIRECTORY names, and nesting
            # them under commit=1/ would give the log inconsistent
            # partition depths. Keyless tables skip it (no merge
            # identity → no time travel).
            boot = os.path.join(self._changes_root(name, info.log_gen),
                                "commit=1")
            if not partition_by:
                os.makedirs(boot)
                for f in os.listdir(info.path):
                    if f.endswith(".parquet"):
                        os.link(os.path.join(info.path, f),
                                os.path.join(boot, f))
                logged = [df.schema]
                if mode == "append" and prior:      # its files linked too
                    logged.append(self.load(name).schema)
            else:
                copy = (self.spark.read.parquet(info.path)
                            .withColumn("_deleted", F.lit(False)))
                copy.write.mode("overwrite").parquet(boot)
                logged = [copy.schema]
            for schema in logged:
                info.log_schema = _with_columns(info.log_schema, schema)
            info.commit_times["1"] = time.time()
        return self._commit(info, garbage)

    def write_bucketed(self, name: str, df: DataFrame, key: str,
                       num_buckets: int = 32,
                       mode: str = "overwrite") -> TableInfo:
        """Bucketed managed table: rows hash-clustered AND sorted by the
        record key at write time. Two tables bucketed the same way join
        with ZERO exchanges (verified in tests) — at 100 TB this is the
        difference between re-shuffling the fact table per join and never
        shuffling it at all. Spark requires the session catalog for bucket
        metadata, so this uses ``saveAsTable`` (warehouse dir), not a bare
        path; reads go through ``spark.table``."""
        (df.write.mode(mode)
           .bucketBy(num_buckets, key).sortBy(key)
           .option("path", os.path.join(self.root, name))
           .saveAsTable(name))
        info = TableInfo(name=name, path=os.path.join(self.root, name),
                         key=key, num_buckets=num_buckets)
        self._tables[name] = info
        self._persist()
        return info

    # -- incremental / CDC (the reference stack's Hudi incremental pull) ----
    def _changes_root(self, name: str, gen: int | None = None) -> str:
        """The change log of generation ``gen`` (default: the table's
        current one). Generation 0 is ``<name>__changes``."""
        if gen is None:
            gen = self._tables[name].log_gen if name in self._tables else 0
        return os.path.join(self.root,
                            f"{name}__changes" + (f"_g{gen}" if gen else ""))

    def log_commit(self, name: str, batch: DataFrame,
                   op: str = "upsert", commit: int | None = None) -> int:
        """Append a change batch to the table's commit log.

        The log is hive-partitioned by commit id (``commit=N/``), so an
        incremental read of commits > N is a PARTITION-PRUNED scan — cost
        proportional to the changed data, never to the table. Upserts log
        their batch, ``delete_where`` the removed rows as TOMBSTONES
        (``_deleted = true`` — the CDC convention that lets incremental
        consumers retract); the snapshot itself holds no history (it
        stays a plain COW parquet table).

        Called on its own it writes commit ``last_commit + 1``, advances
        ``last_commit`` and persists. An explicit ``commit`` only STAGES
        that directory; ``_rewrite`` advances ``last_commit`` over it in
        its one final persist (readers ignore commits above it)."""
        if commit is not None:
            (batch.withColumn("_deleted", F.lit(op == "delete"))
                  .write.mode("overwrite").parquet(os.path.join(
                      self._changes_root(name), f"commit={commit}")))
            return commit
        return self._rewrite(name, None, [(batch, op)]).last_commit

    def _rewrite(self, name: str, df: DataFrame | None, changes=(),
                 base: DataFrame | None = None,
                 touched: list[tuple] | None = None) -> TableInfo:
        """Commit one keyed change: ``changes`` ((batch, op) pairs) become
        the next commit directories, ``df`` (if given) a fresh snapshot
        version (see ``overwrite_dir_via_swap``), and one ``_commit``
        publishes ``last_commit`` and the new path together."""
        info = self._tables[name]
        if df is not None:
            self._check_managed(name)
        new = replace(info, commit_times=dict(info.commit_times))
        for batch, op in changes:
            new.last_commit = self.log_commit(name, batch, op,
                                              commit=new.last_commit + 1)
            new.log_schema = _with_columns(new.log_schema, batch.schema)
            # wall-clock instant of the commit (the Hudi-timeline
            # timestamp), enabling read_asof_timestamp; stored as
            # JSON-string keys
            new.commit_times[str(new.last_commit)] = time.time()
        if df is None:
            return self._commit(new)
        new.path = self._new_version(name)
        overwrite_dir_via_swap(df, new.path, info.partition_by, base, touched)
        return self._commit(new, [info.path])

    def _log(self, name: str) -> DataFrame:
        """The committed log (commits up to ``last_commit``), ``_deleted``
        non-NULL. Read with the schema recorded as commits were logged
        (``TableInfo.log_schema``), so Spark infers nothing — a
        ``mergeSchema`` read is a footer-merge job over every log file,
        growing with history; it remains for a log written before the
        schema was recorded. The log mixes files without ``_deleted``
        (pre-``_deleted`` commits, the hardlinked bootstrap) with current
        ones; they read it as NULL, coalesced to false."""
        recorded = self._tables[name].log_schema
        reader = (self.spark.read.option("mergeSchema", "true")
                  if recorded is None else self.spark.read.schema(
                      StructType.fromJson(json.loads(
                          _with_columns(recorded, _LOG_COLUMNS)))))
        df = (reader.parquet(self._changes_root(name))
              .filter(F.col("commit") <= self._tables[name].last_commit))
        if "_deleted" not in df.columns:
            return df.withColumn("_deleted", F.lit(False))
        return df.withColumn("_deleted",
                             F.coalesce(F.col("_deleted"), F.lit(False)))

    def _new_log_gen(self, info: TableInfo, df: DataFrame,
                     commits: list[int]) -> int:
        """Stage the next log generation for a history rewrite: ``df``
        (rows with a ``commit`` column) replaces the ``commits``
        directories in one Spark write, and every other commit directory
        is hardlinked. It becomes current in the caller's ``_commit``."""
        gen = info.log_gen + 1
        overwrite_dir_via_swap(df, self._changes_root(info.name, gen),
                               ["commit"], base=self._log(info.name),
                               touched=[(c,) for c in commits])
        return gen

    def current_commit(self, name: str) -> int:
        return self._tables[name].last_commit

    def read_incremental(self, name: str, since_commit: int,
                         latest_only: bool = True) -> DataFrame:
        """Hudi-style incremental pull: rows changed AFTER ``since_commit``.

        ``latest_only`` keeps one row per record key (the latest commit's
        value) when the same key was upserted several times in the range —
        the semantics a downstream incremental consumer wants. The returned
        frame carries a ``commit`` column. Only commits up to
        ``last_commit`` are read (later ones are staged, not committed).

        Commit 1 is the bootstrap load and lives only in the snapshot;
        consumers start from ``since_commit >= 1``."""
        info = self._tables[name]
        if since_commit < 1:
            raise ValueError(
                "commit 1 is the bootstrap load: read it via load(), then "
                "consume incrementally with since_commit >= 1")
        if since_commit < info.history_start and info.history_start > 1:
            raise ValueError(
                f"commits before {info.history_start} were expired "
                f"(expire_commits); an incremental read since "
                f"{since_commit} cannot be served faithfully — re-bootstrap "
                "the consumer from the snapshot")
        if (since_commit >= info.last_commit
                or not os.path.isdir(self._changes_root(name))):
            empty = (self.load(name)
                     .withColumn("_deleted", F.lit(False))
                     .withColumn("commit", F.lit(0).cast("int")))
            return empty.filter(F.lit(False))
        df = self._log(name).filter(F.col("commit") > since_commit)
        if latest_only and info.key:
            w = Window.partitionBy(info.key).orderBy(F.col("commit").desc())
            df = (df.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1).drop("__rn"))
        return df

    def read_asof(self, name: str, commit: int) -> DataFrame:
        """Snapshot time travel: the table's state AS OF ``commit``.

        The Hudi-timeline semantics the reference stack configures
        (demo.ipynb c8:20-24): reads against an earlier commit see the
        table as it was then — the reproducible-training-run contract.
        Reconstruction is a replay of the commit log up to ``commit``:
        last-write-wins per key (window on commit desc), minus tombstoned
        keys. Cost ∝ the log through commit N (partition-pruned on the
        hive ``commit=`` dirs), never the live table; asking for the
        current commit short-circuits to the plain snapshot scan.

        Requires a record key and a complete history (tables bootstrapped
        before bootstrap-logging, or written with ``reset_history=False``
        compaction only, can't replay commit 1)."""
        info = self._tables[name]
        if commit < 1:
            raise ValueError("commits start at 1 (the bootstrap load)")
        if commit > info.last_commit:
            raise ValueError(
                f"commit {commit} does not exist for table {name!r} "
                f"(last commit is {info.last_commit}); Hudi/Delta time "
                "travel raises on future instants rather than silently "
                "returning the current snapshot")
        if commit == info.last_commit:
            return self.load(name)
        if info.key is None:
            raise ValueError(
                f"table {name!r} has no record key; time travel requires "
                "keyed last-write-wins history")
        if commit < info.history_start:
            raise ValueError(
                f"commit {commit} of table {name!r} predates the retained "
                f"history (expire_commits collapsed the timeline at "
                f"{info.history_start})")
        boot = os.path.join(self._changes_root(name),
                            f"commit={info.history_start}")
        if not os.path.isdir(boot):
            raise ValueError(
                f"table {name!r} has no base commit in its change "
                "log (created before bootstrap logging, or history was "
                "compacted away); read_asof cannot replay")
        df = self._log(name).filter(F.col("commit") <= commit)
        w = Window.partitionBy(info.key).orderBy(F.col("commit").desc())
        return (df.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1)
                  .filter(~F.col("_deleted"))
                  .drop("__rn", "_deleted", "commit"))

    def read_asof_timestamp(self, name: str, ts) -> DataFrame:
        """Time travel by WALL-CLOCK instant (the Hudi timeline is
        timestamp-keyed; commit ids are this catalog's compact spelling):
        resolves the newest commit whose recorded instant is <= ``ts``
        (epoch seconds or datetime) and delegates to ``read_asof``.

        Instants are recorded at commit time in the catalog metadata —
        resolution is a dict lookup, no file listing."""
        from datetime import datetime

        if isinstance(ts, datetime):
            ts = ts.timestamp()
        info = self._tables[name]
        eligible = [int(c) for c, t in info.commit_times.items()
                    if t <= float(ts)]
        if not eligible:
            raise ValueError(
                f"no commit of table {name!r} at or before timestamp {ts} "
                "(first recorded instant is "
                f"{min(info.commit_times.values()) if info.commit_times else 'absent — table predates instant recording'})")
        return self.read_asof(name, max(eligible))

    def expire_commits(self, name: str, upto: int) -> None:
        """Commit-log retention (the lakehouse VACUUM for the timeline):
        collapse commits < ``upto`` into one materialized base — the
        table's full state AS OF ``upto`` written as the ``commit=upto``
        log partition — and drop the older commits.

        Afterwards: ``read_asof(c >= upto)`` replays from the collapsed
        base (time travel keeps working for retained history);
        ``read_asof``/``read_incremental`` for commits before ``upto``
        raise explicitly (history expired) instead of silently returning
        wrong reconstructions. Without retention the log grows with every
        commit forever — at 100 TB the timeline itself becomes a table.

        The collapsed log is a new log generation (``_new_log_gen``: the
        base in one write, later commits hardlinked), switched to by one
        ``_catalog.json`` replace; a crash before it keeps the full
        history, and the old generation is deleted only after it. A
        running CDC tail (``streaming.read_changes_stream``) follows the
        old generation's directory and must be restarted afterwards, from
        the snapshot: the collapsed base is new files under a new root.

        A registered vector index pinned before ``upto`` is first
        compacted to the current commit (``compact_index``): a stale
        index is read by merge-on-read, which needs the history back to
        its commit."""
        info = self._tables[name]
        if upto <= info.history_start:
            return
        if upto > info.last_commit:
            raise ValueError(
                f"cannot expire through commit {upto}: table "
                f"{name!r} is at commit {info.last_commit}")
        for vcol, entry in list(info.indexes.items()):
            if info.history_start <= entry["commit"] < upto:
                self.compact_index(name, vcol)
        base = (self.read_asof(name, upto)
                    .withColumn("_deleted", F.lit(False))
                    .withColumn("commit", F.lit(upto)))
        gen = self._new_log_gen(info, base,
                                list(range(info.history_start, upto + 1)))
        self._commit(replace(info, history_start=upto, log_gen=gen,
                             commit_times={c: t for c, t in
                                           info.commit_times.items()
                                           if int(c) >= upto}),
                     [self._changes_root(name)])

    # -- vector indexes (table-scoped, like the reference's Lance index) ---
    def register_index(self, table: str, vector_col: str, path: str,
                       params: dict | None = None) -> None:
        """Record a vector index as TABLE-SCOPED metadata (the reference's
        index is table-scoped too — "Same vector index", demo.ipynb c14:1),
        pinned to the table's CURRENT commit. Any later upsert/delete
        advances ``last_commit`` past the pinned commit, making the index
        detectably STALE — the contract ``Engine.ann_search`` enforces
        (an unsuspecting search against a silently stale index returns
        pre-mutation vectors). ``params`` are the build kwargs, persisted
        so a rebuild reproduces the SAME index geometry (num_centroids,
        metric, …) — a rebuild that silently changed num_centroids would
        break every caller's nprobe assumptions."""
        info = self._tables[table]
        info.indexes[vector_col] = {"path": path,
                                    "commit": info.last_commit,
                                    "params": dict(params or {})}
        self._persist()

    def compact_index(self, table: str, vector_col: str) -> None:
        """Fold the table's changes since a registered index's commit into
        the index (``ann.ivf_patch``: the touched partitions rewritten,
        centroids kept) and re-register it at the current commit."""
        from pydata_vector_search_spark.operators.ann import (IVFIndex,
                                                              ivf_patch)
        info, entry = self._tables[table], self.index_info(table, vector_col)
        ivf_patch(self.spark, IVFIndex.load(self.spark, entry["path"]),
                  self.read_incremental(table, entry["commit"]),
                  id_col=info.key)
        self.register_index(table, vector_col, entry["path"],
                            params=entry.get("params", {}))

    def index_info(self, table: str, vector_col: str | None = None) -> dict | None:
        """The registered index entry (+ its ``vector_col`` and a ``stale``
        flag), or None. ``vector_col=None`` resolves an only index."""
        info = self._tables[table]
        if vector_col is None:
            if len(info.indexes) != 1:
                return None
            vector_col = next(iter(info.indexes))
        entry = info.indexes.get(vector_col)
        if entry is None:
            return None
        return {**entry, "vector_col": vector_col,
                "stale": entry["commit"] < info.last_commit}

    # -- access ------------------------------------------------------------
    def load(self, name: str) -> DataFrame:
        """Snapshot scan (reference S4: spark.read.format('hudi').load, c11:5).
        Bucketed tables load via the session catalog so the bucket spec
        survives into join planning."""
        info = self._tables[name]
        if info.num_buckets:
            return self.spark.table(name)
        reader = self.spark.read.options(**info.options)
        if name in self._schemas:
            reader = reader.schema(self._schemas[name])
        return reader.format(info.format).load(info.path)

    def info(self, name: str) -> TableInfo:
        return self._tables[name]

    def __contains__(self, name: str) -> bool:
        return name in self._tables

    def names(self) -> list[str]:
        return sorted(self._tables)

    def create_view(self, name: str, view_name: str | None = None) -> None:
        """Temp-view registration (reference S5: createOrReplaceTempView, c11:2,5)."""
        self.load(name).createOrReplaceTempView(view_name or name)

    def compact(self, name: str, target_partitions: int | None = None) -> None:
        """Small-files maintenance: rewrite the table at a sane file count
        (streaming upsert sinks and frequent small batches accrete files;
        at scale every extra file is a task + a footer read per query).
        Partitioned tables keep their layout; ``target_partitions``
        defaults to the session's parallelism."""
        info = self._tables[name]
        n = target_partitions or self.spark.sparkContext.defaultParallelism
        df = self.load(name)
        if info.partition_by:
            df = df.repartition(n, *info.partition_by)
        else:
            df = df.repartition(n)
        # one pass: the rewrite reads the current version while writing
        # a new one (see overwrite_dir_via_swap)
        self.write(name, df, key=info.key,
                   partition_by=info.partition_by or None,
                   reset_history=False)

    def purge_keys(self, name: str, keys: list, key: str | None = None,
                   max_keys: int = 1_000_000) -> dict:
        """Right-to-be-forgotten: PHYSICALLY remove the given record keys
        from the snapshot, from EVERY retained commit in the change log,
        and from any registered vector index's data files.

        This is the compliance operation ``delete_where`` is not:
        delete_where logs tombstones and keeps prior images replayable
        via ``read_asof`` — exactly what a GDPR erasure request forbids.
        After a purge, historical reads still work but no longer contain
        the purged keys (compliance trumps reproducibility — the same
        trade Delta's VACUUM + DELETE and Hudi's cleaner make), and no
        tombstone row records the purged key's prior image.

        Cost: PARTITIONED snapshots rewrite only the partitions that
        contain a purged key (the others are hardlinked into the new
        version, same economics as ``merge_into``/``delete_where``; a
        partition left empty is simply not written); unpartitioned
        snapshots pay one full COW. The commits holding a purged key are
        rewritten in ONE Spark write into a new log generation, the
        other commits hardlinked; plus a pruned partition rewrite per
        registered index. ``keys`` is a driver-side list by design
        (erasure requests are bounded); ``max_keys`` guards against
        abuse of that assumption.

        Commit point: the new snapshot version and the new log
        generation are switched to by ONE ``_catalog.json`` replace — a
        crash before it keeps the unpurged table and history, after it
        both are purged (old files are deleted after the replace). The
        index and aggregate rewrites follow that commit. A running CDC
        tail (``streaming.read_changes_stream``) follows the old log
        generation's directory and must be restarted afterwards, from the
        snapshot.

        NULL-key rows are never purge targets: every keep-filter uses
        ``NOT coalesce(hit, false)`` so SQL three-valued logic cannot
        silently drop them (``~isin`` alone evaluates to NULL on a NULL
        key and would destroy data beyond the request)."""
        self._check_managed(name)
        info = self._tables[name]
        key = key or info.key
        if key is None:
            raise ValueError(
                f"table {name!r} has no record key; purge needs one")
        if len(keys) > max_keys:
            raise ValueError(
                f"{len(keys):,} keys exceeds max_keys={max_keys:,}; "
                "split the request or raise the limit explicitly")
        keys = list(keys)
        hit = F.col(key).isin(keys)
        # NULL-safe keep: a NULL key makes `hit` NULL, and `~NULL` is
        # NULL — a plain `filter(~hit)` would drop NULL-key rows from
        # every rewrite. Purge must remove EXACTLY the requested keys.
        keep_cond = ~F.coalesce(hit, F.lit(False))

        snap = self.load(name)
        doomed = snap.filter(hit).localCheckpoint(eager=True)
        n_purged = doomed.count()
        new, garbage = replace(info), []
        if n_purged:
            df, base, touched = _without(snap, doomed, keep_cond,
                                         info.partition_by)
            new.path = self._new_version(name)
            overwrite_dir_via_swap(df, new.path, info.partition_by, base,
                                   touched)
            garbage.append(info.path)

        commits = []
        if os.path.isdir(self._changes_root(name)):
            log = self._log(name)
            if key in log.columns:
                commits = sorted(r[0] for r in log.filter(hit)
                                 .select("commit").distinct().collect())
            if commits:
                new.log_gen = self._new_log_gen(
                    info, log.filter(F.col("commit").isin(commits))
                             .filter(keep_cond), commits)
                garbage.append(self._changes_root(name))
        if garbage:
            self._commit(new, garbage)

        indexes_patched = []
        for vcol, entry in info.indexes.items():
            data_path = os.path.join(entry["path"], "data")
            if not os.path.isdir(data_path):
                continue
            idx = self.spark.read.parquet(data_path)
            if key not in idx.columns:
                continue
            stale = idx.filter(hit)
            touched = [r[0] for r in
                       stale.select("__cid").distinct().collect()]
            if not touched:
                continue
            keep_idx = (idx.filter(F.col("__cid").isin(touched))
                           .filter(keep_cond).localCheckpoint(eager=True))
            survivors = {r[0] for r in
                         keep_idx.select("__cid").distinct().collect()}
            (keep_idx.write.mode("overwrite")
                     .option("partitionOverwriteMode", "dynamic")
                     .partitionBy("__cid").parquet(data_path))
            # a partition whose rows were ALL purged contributes nothing
            # to the dynamic overwrite, so its old file would survive —
            # drop it, as ivf_patch does (probes skip missing partitions)
            for c in set(touched) - survivors:
                shutil.rmtree(os.path.join(data_path, f"__cid={c}"),
                              ignore_errors=True)
            indexes_patched.append(vcol)

        # Materialized aggregates still CONTAIN the purged rows'
        # contributions, and a purge is not a commit — incremental
        # refresh would never retract them. Rebuild each registered
        # rollup from the purged snapshot (rollups are small by
        # definition; correctness beats the one full-aggregate pass).
        aggs_rebuilt = []
        for agg_name, spec in info.aggregates.items():
            from pydata_vector_search_spark.operators.incremental_agg \
                import _aggregate
            rebuilt = _aggregate(self.load(name), spec["group_by"],
                                 spec["sums"], spec["count_col"],
                                 spec.get("mins"), spec.get("maxs"))
            self.write(agg_name, rebuilt)
            spec["commit"] = info.last_commit
            aggs_rebuilt.append(agg_name)
        if aggs_rebuilt:
            self._persist()

        return {"purged": n_purged, "commits_rewritten": len(commits),
                "indexes_patched": indexes_patched,
                "aggregates_rebuilt": aggs_rebuilt}

    def drop(self, name: str, delete_files: bool = True) -> None:
        """Table drop (reference S7: shutil.rmtree(TABLE_PATH), c8:10-11)."""
        info = self._tables.get(name)
        self._persist({n: t for n, t in self._tables.items() if n != name})
        self._tables.pop(name, None)
        if info and delete_files and info.path.startswith(self.root):
            shutil.rmtree(os.path.join(self.root, name)
                          if self._managed(name, info) else info.path,
                          ignore_errors=True)
        if info and delete_files:
            shutil.rmtree(self._changes_root(name, info.log_gen),
                          ignore_errors=True)
            for entry in info.indexes.values():
                if entry["path"].startswith(self.root):
                    shutil.rmtree(entry["path"], ignore_errors=True)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table, normalizing nanosecond timestamps.

    The events table stores ``ts`` as parquet TIMESTAMP(NANOS), which Spark's
    reader rejects by default; we read nanos as long and truncate to
    microseconds with integer division (``DIV`` — double division would lose
    precision above 2^53 ns), matching DuckDB's nanos→micros truncation so
    oracle comparisons agree.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def register_sf_dir(spark: SparkSession, sf_dir: str,
                    tables: tuple[str, ...] = ("region", "nation", "customer",
                                               "supplier", "part", "orders",
                                               "lineitem", "events",
                                               "documents", "embeddings")) -> None:
    """Register the driver's testdata parquet files as temp views."""
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            read_table(spark, sf_dir, t).createOrReplaceTempView(t)
