"""Incrementally-maintained materialized aggregates (IVM) off the commit
log — keep a rollup table in sync with a mutating base table for the
cost of the CHANGED data, never a full rescan.

The lakehouse version of incremental view maintenance: the base table's
commit log (upserts + ``_deleted`` tombstones — what ``read_incremental``
emits) is a complete delta stream, and SUM/COUNT are self-maintainable
aggregates, so a refresh is:

1. changed keys   = distinct record keys in commits (R, N]
                    (R = the aggregate's last refresh commit);
2. old image      = ``read_asof(R)`` filtered to those keys — the rows
                    whose contributions must be RETRACTED. Cost: commit-
                    pruned log replay of the changed keys, not the table;
3. new image      = current snapshot filtered to those keys (deleted
                    keys simply absent);
4. delta          = per-group (new aggregate − old aggregate), full-outer
                    on the group keys;
5. apply          = agg_table ⟗ delta: counts/sums add, groups whose
                    count reaches 0 drop, brand-new groups insert.

Work scales with |changed keys| × log depth + |agg table| — at 100 TB
the agg table is the small output of a rollup and the changed keys are
one batch, so a refresh is orders of magnitude cheaper than the full
groupBy it replaces. The same shape Materialize/Delta Live Tables sell;
here it is ~100 lines of Catalyst over the engine's own CDC feed.

Maintainable measures: COUNT(*) and SUM(numeric) — the classic
self-maintainable set under insert+delete; these refresh by pure delta
arithmetic (no base-table rescan at all). MIN/MAX are NOT delta-
maintainable under deletes (retracting the current minimum needs the
runner-up, which the rollup discarded); asking for them switches the
refresh to GROUP-SCOPED RECOMPUTE: changed keys → affected group set →
one groupBy over ONLY those groups' rows (semi-join pushed into the
snapshot scan), merged with the untouched rollup rows by anti-join.
Work ∝ data of changed groups — still never a full rescan — which is
exactly the affordable price of non-maintainable measures (the same
fallback Materialize's MIN/MAX reduction and DBSP take).

Float caveat: an incrementally-maintained SUM(double) equals the batch
recompute up to floating-point reassociation (~1 ulp per refresh);
round at read time, or use decimal measures for exact parity. NULL
measures contribute 0 (an all-NULL group reads 0, where a batch SUM
reads NULL) — documented divergence, same as most IVM engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_META_KEY = "aggregates"


def _aggregate(df: DataFrame, group_by: list[str],
               sums: dict[str, str], count_col: str,
               mins: dict[str, str] | None = None,
               maxs: dict[str, str] | None = None) -> DataFrame:
    aggs = [F.count(F.lit(1)).cast("long").alias(count_col)]
    aggs += [F.coalesce(F.sum(src), F.lit(0.0)).alias(out)
             for out, src in sums.items()]
    aggs += [F.min(src).alias(out) for out, src in (mins or {}).items()]
    aggs += [F.max(src).alias(out) for out, src in (maxs or {}).items()]
    return df.groupBy(*group_by).agg(*aggs)


def create_agg(catalog, source: str, name: str, group_by: list[str],
               sums: dict[str, str], count_col: str = "n_rows",
               mins: dict[str, str] | None = None,
               maxs: dict[str, str] | None = None) -> None:
    """Full build of the rollup at the source's CURRENT commit, plus the
    metadata pin that makes incremental refresh possible.

    ``sums``/``mins``/``maxs`` map output column -> source column;
    ``count_col`` names the row count (always maintained — it decides
    group death). Any ``mins``/``maxs`` switch refreshes from pure delta
    arithmetic to group-scoped recompute (see module docstring)."""
    info = catalog.info(source)
    if info.key is None:
        raise ValueError(
            f"source {source!r} has no record key; incremental refresh "
            "replays per-key history (register with key=)")
    agg = _aggregate(catalog.load(source), group_by, sums, count_col,
                     mins, maxs)
    catalog.write(name, agg)
    aggs = getattr(info, _META_KEY)
    aggs[name] = {"group_by": list(group_by), "sums": dict(sums),
                  "count_col": count_col, "commit": info.last_commit,
                  "mins": dict(mins or {}), "maxs": dict(maxs or {})}
    catalog._persist()


def refresh_agg(catalog, source: str, name: str) -> dict:
    """Incremental refresh: apply the delta of commits since the last
    refresh to the materialized table. Returns {"refreshed", "from",
    "to"}; a no-change call is a cheap no-op (metadata compare only)."""
    info = catalog.info(source)
    meta = getattr(info, _META_KEY).get(name)
    if meta is None:
        raise ValueError(f"no aggregate {name!r} registered on {source!r}")
    r, n = meta["commit"], info.last_commit
    if r == n:
        return {"refreshed": False, "from": r, "to": n}
    gb, sums, cnt = meta["group_by"], meta["sums"], meta["count_col"]
    mins, maxs = meta.get("mins") or {}, meta.get("maxs") or {}
    key = info.key

    # materialize the changed-key set ONCE: it anchors BOTH the old-image
    # and new-image joins, and without the barrier the commit-log scan + distinct
    # subtree is planned twice — runtime stage reuse across the two
    # broadcast sides is AQE's call, not a guarantee. The key set is
    # bounded by the changed data (tiny next to either image); one
    # cheap materialization pins one commit-log execution per refresh.
    changed = (catalog.read_incremental(source, r, latest_only=False)
               .select(key).distinct().localCheckpoint(eager=True))
    old_img = catalog.read_asof(source, r).join(changed, key, "inner")
    new_img = catalog.load(source).join(changed, key, "inner")

    if mins or maxs:
        # MIN/MAX are not delta-maintainable under deletes — recompute
        # ONLY the affected groups from the snapshot (semi-join pushes
        # the tiny group set into the scan; broadcast by size) and merge
        # with the untouched rollup rows (anti-join, null-safe on group
        # keys). Dead groups vanish (absent from the scoped groupBy),
        # new groups appear. Work ∝ changed groups' data.
        from functools import reduce as _reduce

        groups = (old_img.select(*gb).unionByName(new_img.select(*gb))
                         .distinct())
        g2 = F.broadcast(groups.select(
            *[F.col(g).alias(f"__g_{g}") for g in gb]))
        cond = _reduce(lambda a, b: a & b,
                       [F.col(g).eqNullSafe(F.col(f"__g_{g}"))
                        for g in gb])
        scoped = catalog.load(source).join(g2, cond, "left_semi")
        fresh = _aggregate(scoped, gb, sums, cnt, mins, maxs)
        untouched = catalog.load(name).join(g2, cond, "left_anti")
        catalog.write(name, untouched.unionByName(fresh))
        meta["commit"] = n
        catalog._persist()
        return {"refreshed": True, "from": r, "to": n}

    old_agg = _aggregate(old_img, gb, sums, cnt)
    new_agg = _aggregate(new_img, gb, sums, cnt)

    # NULL-SAFE outer joins on the group keys: a NULL group value is a
    # legitimate group (groupBy treats it as one), and plain equality
    # would split it into disjoint old/new/current rows.
    def nsjoin(left, right, how):
        cond = None
        for g in gb:
            c = left[f"__l_{g}"].eqNullSafe(right[f"__r_{g}"])
            cond = c if cond is None else cond & c
        j = left.join(right, cond, how)
        merged = [F.coalesce(left[f"__l_{g}"], right[f"__r_{g}"]).alias(g)
                  for g in gb]
        return j, merged

    o = old_agg.select(*[F.col(g).alias(f"__l_{g}") for g in gb],
                       *[F.col(c).alias(f"__o_{c}") for c in (cnt, *sums)])
    nw = new_agg.select(*[F.col(g).alias(f"__r_{g}") for g in gb],
                        *[F.col(c).alias(f"__n_{c}") for c in (cnt, *sums)])
    j1, merged1 = nsjoin(o, nw, "full_outer")
    delta = j1.select(*merged1, *[
        (F.coalesce(F.col(f"__n_{c}"), F.lit(0))
         - F.coalesce(F.col(f"__o_{c}"), F.lit(0)))
        .alias(f"__d_{c}") for c in (cnt, *sums)])

    cur = catalog.load(name)
    c = cur.select(*[F.col(g).alias(f"__l_{g}") for g in gb],
                   *[F.col(x).alias(f"__c_{x}") for x in (cnt, *sums)])
    d = delta.select(*[F.col(g).alias(f"__r_{g}") for g in gb],
                     *[F.col(f"__d_{x}") for x in (cnt, *sums)])
    j2, merged2 = nsjoin(c, d, "full_outer")
    applied = (j2.select(*merged2, *[
                    (F.coalesce(F.col(f"__c_{x}"), F.lit(0))
                     + F.coalesce(F.col(f"__d_{x}"), F.lit(0))).alias(x)
                    for x in (cnt, *sums)])
                .filter(F.col(cnt) > 0)
                .withColumn(cnt, F.col(cnt).cast("long")))
    # catalog.write lands in a fresh version, so ``applied`` may read the
    # rollup it replaces
    catalog.write(name, applied)
    meta["commit"] = n
    catalog._persist()
    return {"refreshed": True, "from": r, "to": n}
