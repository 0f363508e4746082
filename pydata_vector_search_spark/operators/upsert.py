"""Keyed upsert (last-write-wins) — the reference's Hudi COW semantics.

Reference: record key = job_id, write op = upsert, DefaultSparkRecordMerger
(demo.ipynb c8:17-23, raw L518-524): a second write with the same key replaces
the row. Re-expressed relationally: union old+new with a monotonically
increasing commit timestamp, keep row_number()=1 per key ordered by commit
desc, rewrite (copy-on-write).

Scale note: v0 rewrites the whole table (fine for fixtures; matches COW on a
non-partitioned table, which is exactly what the reference configures —
NonpartitionedKeyGenerator, c8:18-19). At 100 TB the table must be
partitioned; then the anti-join prunes to only the partitions containing
updated keys and only those are rewritten (classic COW). ``upsert`` takes
``partition_by`` to enable that layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from pydata_vector_search_spark.catalog import _partition_pred, _without

META_TS = "_commit_ts"


def merge_last_write_wins(old: DataFrame, new: DataFrame, key: str,
                          ts_col: str = META_TS) -> DataFrame:
    """Pure-plan merge: rows from ``new`` replace same-key rows in ``old``.

    Implemented as union + window dedup so it composes with any plan. The
    window shuffles by key once — at scale the union inherits the scan
    partitioning and AQE handles skewed keys.
    """
    old_t = old.withColumn(ts_col, F.lit(0)) if ts_col not in old.columns else old
    new_t = new.withColumn(ts_col, F.lit(1)) if ts_col not in new.columns else new
    u = old_t.unionByName(new_t, allowMissingColumns=True)
    w = Window.partitionBy(key).orderBy(F.col(ts_col).desc())
    return (u.withColumn("__rn", F.row_number().over(w))
             .filter(F.col("__rn") == 1)
             .drop("__rn", ts_col))


def upsert_table(catalog, name: str, new: DataFrame, key: str | None = None) -> None:
    """COW upsert into a catalog table.

    Non-partitioned: read snapshot → merge → full rewrite (exactly the
    reference's NonpartitionedKeyGenerator COW behavior, c8:18-19).

    Partitioned: classic partition-scoped COW — only the partitions the
    new batch touches are read (partition pruning), merged, and written;
    the untouched partitions' files are hardlinked into the new version,
    never opened or rewritten. At 100 TB this is the difference between
    a full-table rewrite per batch and work proportional to the batch.

    The batch is logged as commit N (incremental pulls — the Hudi
    incremental-query semantics of the reference stack) and ONE
    ``_catalog.json`` replace publishes it with the new snapshot
    (``Catalog._rewrite``): a crash reattaches to N-1 or to N, whole."""
    info = catalog.info(name)
    key = key or info.key
    if key is None:
        raise ValueError(f"table {name!r} has no record key; register with key=")
    old = base = catalog.load(name)
    touched = None
    if info.partition_by:
        touched = [tuple(r) for r in
                   new.select(*info.partition_by).distinct().collect()]
        if not touched:           # empty batch: nothing to rewrite, no commit
            return
        old = old.filter(_partition_pred(info.partition_by, touched))
    catalog._rewrite(name, merge_last_write_wins(old, new, key),
                     [(new, "upsert")], base if touched else None, touched)


def merge_into(catalog, name: str, source: DataFrame,
               key: str | None = None,
               matched_update=None,
               matched_delete=None,
               insert_unmatched: bool = True) -> dict:
    """Conditional MERGE (the Delta/Iceberg ``MERGE INTO`` shape,
    generalizing the reference's unconditional Hudi upsert —
    demo.ipynb c8:17-23, raw L518-524 — to clause-conditional writes):

    * WHEN MATCHED [AND ``matched_delete``] THEN DELETE
    * WHEN MATCHED [AND ``matched_update``] THEN UPDATE SET * (take the
      source row; ``None`` = always, like plain upsert)
    * WHEN NOT MATCHED THEN INSERT * (``insert_unmatched=False`` turns
      the merge into update/delete-only)

    Conditions are Columns or SQL strings over the SOURCE row's columns;
    delete wins over update when both match. NULL conditions count as
    not-satisfied (SQL semantics). Relational formulation — ONE outer
    join on the key, no driver row loop:

      target ⟗ source → per-row case: unmatched-target → keep; matched
      + delete-cond → drop (tombstone); matched + update-cond → source
      row; matched otherwise → keep; unmatched-source → insert.

    CDC: the applied (update+insert) rows log as an upsert commit, the
    deleted rows as a tombstone commit — incremental consumers replay
    the merge exactly. Both commits and the new snapshot version become
    current in ONE ``_catalog.json`` replace (``Catalog._rewrite``).
    Returns {"updated", "deleted", "inserted"}.

    Scale: non-partitioned tables COW-rewrite fully (matching the
    reference's NonpartitionedKeyGenerator config). PARTITIONED tables
    get the same economics as ``upsert_table``/``delete_where``: the
    outer join reads only the partitions the SOURCE touches (partition
    pruning), only those are written, and a touched partition left with
    zero surviving rows is simply absent from the new version. Untouched
    partitions' files are hardlinked, never opened. Semantics note (Hudi
    partition-scoped/non-global-index, the default): the partition
    columns are part of record identity — a source row whose key exists
    only in an UNTOUCHED partition counts as NOT MATCHED there and
    inserts into its own partition."""
    info = catalog.info(name)
    key = key or info.key
    if key is None:
        raise ValueError(f"table {name!r} has no record key; register with key=")
    old = catalog.load(name)
    if set(source.columns) != set(old.columns):
        raise ValueError(
            f"merge source columns {sorted(source.columns)} must match "
            f"target columns {sorted(old.columns)} (MERGE ... SET * form)")
    # Standard MERGE precondition (what Delta enforces as
    # MERGE_MATCHED_MULTIPLE_SOURCE_ROWS): several source rows for one key
    # would join-fan the target row and silently break the table's
    # one-row-per-key invariant; NULL keys can never match and would land
    # as keyless inserts. Pre-aggregate the batch (last-write-wins window,
    # like stream_upsert_sink does) if duplicates are expected. Record
    # identity is (key + partition columns) on a partitioned table.
    ident = [key] + [c for c in (info.partition_by or []) if c != key]
    bad = (source.groupBy(*ident).agg(F.count(F.lit(1)).alias("__n"))
                 .filter(F.col("__n") > 1).limit(1).count())
    if bad:
        raise ValueError(
            f"merge source has multiple rows for at least one {key!r}; "
            "collapse the batch to one row per key first (e.g. a "
            "row_number window on the precombine ordering)")
    if source.filter(F.col(key).isNull()).limit(1).count():
        raise ValueError(f"merge source contains NULL {key!r} keys")

    def _cond(c, default):
        if c is None:
            return default
        c = F.expr(c) if isinstance(c, str) else c
        return F.coalesce(c, F.lit(False))   # NULL condition = not satisfied

    # Partitioned: scope the join to source-touched partitions only.
    touched: list[tuple] = []
    target = old
    if info.partition_by:
        touched = [tuple(r) for r in
                   source.select(*info.partition_by).distinct().collect()]
        if not touched:            # empty source: no-op, no commit
            return {"updated": 0, "deleted": 0, "inserted": 0}
        target = old.filter(_partition_pred(info.partition_by, touched))

    # Evaluate the clause conditions in the SOURCE's own scope (before any
    # join introduces duplicate column names), then prefix both sides so
    # the joined frame has unambiguous flat attributes — which also makes
    # it safe to localCheckpoint (checkpointing drops alias qualifiers).
    cols = old.columns
    src = (source.withColumn("__upd", _cond(matched_update, F.lit(True)))
                 .withColumn("__del", _cond(matched_delete, F.lit(False))))
    t = target.select(*[F.col(c).alias(f"__t_{c}") for c in cols])
    s = src.select(*[F.col(c).alias(f"__s_{c}") for c in cols],
                   "__upd", "__del")
    # Join on the full record identity: key alone when non-partitioned,
    # key + partition columns when partitioned (partition-scoped match).
    join_cond = F.col(f"__t_{key}") == F.col(f"__s_{key}")
    for c in ident[1:]:
        join_cond = join_cond & F.col(f"__t_{c}").eqNullSafe(
            F.col(f"__s_{c}"))
    j = t.join(s, join_cond, "full_outer").localCheckpoint(eager=True)

    t_k, s_k = F.col(f"__t_{key}"), F.col(f"__s_{key}")
    matched = t_k.isNotNull() & s_k.isNotNull()
    del_hit = matched & F.col("__del")
    upd_hit = matched & ~F.col("__del") & F.col("__upd")
    ins_hit = t_k.isNull() & F.lit(insert_unmatched)

    take_source = upd_hit | ins_hit
    keep_target = (s_k.isNull() | (matched & ~del_hit & ~upd_hit))
    out_cols = [F.when(take_source, F.col(f"__s_{c}"))
                 .otherwise(F.col(f"__t_{c}")).alias(c)
                for c in cols]
    # no checkpoint here: ``j`` above is already materialized, and the
    # rewrite lands in a new version, so nothing it reads is replaced
    # under it
    merged = j.filter(take_source | keep_target).select(*out_cols)

    counts = j.agg(
        F.sum(upd_hit.cast("long")).alias("u"),
        F.sum(del_hit.cast("long")).alias("d"),
        F.sum(ins_hit.cast("long")).alias("i")).head()
    changes = []
    if counts.u or counts.i:
        changes.append((j.filter(take_source).select(
            *[F.col(f"__s_{c}").alias(c) for c in cols]), "upsert"))
    if counts.d:
        changes.append((j.filter(del_hit).select(
            *[F.col(f"__t_{c}").alias(c) for c in cols]), "delete"))
    # merged holds every surviving row of the TOUCHED partitions (plus
    # inserts, whose partition values are touched by construction)
    catalog._rewrite(name, merged, changes, old if touched else None,
                     touched or None)
    return {"updated": int(counts.u or 0), "deleted": int(counts.d or 0),
            "inserted": int(counts.i or 0)}


def delete_where(catalog, name: str, predicate) -> int:
    """Keyed delete — the OTHER Hudi write operation ('delete'): rows
    matching ``predicate`` are removed by COW rewrite, and the removed
    rows are logged to the commit log as tombstones (``_deleted=true``)
    so incremental consumers can retract them downstream.

    Partitioned tables rewrite only the partitions containing matches —
    work proportional to affected data, the same economics as the
    partition-scoped upsert; the other partitions are hardlinked into the
    new version, and a touched partition left with ZERO surviving rows is
    simply absent from it. The tombstones and the new version become
    current in ONE ``_catalog.json`` replace (``Catalog._rewrite``).
    Returns the number of rows deleted; a no-match delete writes nothing
    and logs nothing.

    SQL DELETE semantics: only rows where the predicate is TRUE are
    deleted; rows where it evaluates to NULL are retained (``keep_cond``
    is ``NOT coalesce(pred, false)``, not ``NOT pred``)."""
    info = catalog.info(name)
    old = catalog.load(name)
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    doomed = old.filter(cond).localCheckpoint(eager=True)
    n = doomed.count()
    if n == 0:
        return 0
    # NULL-predicate rows are neither doomed nor dropped: keep = NOT TRUE.
    keep_cond = ~F.coalesce(cond, F.lit(False))
    df, base, touched = _without(old, doomed, keep_cond, info.partition_by)
    catalog._rewrite(name, df, [(doomed, "delete")], base, touched)
    return n
