"""The traced run and the per-layer metrics computed from it."""

from __future__ import annotations

import os
import statistics
import time

from tracing import Recorder, SparkCounters, StageTotals, install, union_ms
from workload import OPS, READ_OPS, count_parquet_files, tree_bytes


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


class Tracer:
    """Per-op hooks for ``Run.run_op``: opens the op's span, reads the
    JVM counters around it and, once it has returned, the Spark
    counters of every span it opened."""

    def __init__(self, run):
        sc = run.spark.sparkContext
        self.run = run
        self.rec = Recorder(sc)
        self.counters = SparkCounters(sc)
        self._uninstall = install(self.rec)

    def before(self, rec: dict) -> None:
        self._c0 = self.counters.compiles()
        self._g0 = self.counters.gc_ms()
        self._read0 = self.counters.read_bytes()
        self._self0 = self.rec.self_s
        self._span = self.rec.begin_op(len(self.rec.spans), rec["kind"])

    def abort(self) -> None:
        self.rec.unwind()

    def after(self, rec: dict) -> None:
        self.rec.pop(self._span)
        self.rec.op = None
        rec["trace_s"] = self.rec.self_s - self._self0
        rec["read_bytes"] = self.counters.read_bytes() - self._read0
        c1 = self.counters.compiles()
        rec["compiles"] = c1[0] - self._c0[0]
        rec["compile_ms"] = c1[1] - self._c0[1]
        rec["gc_ms"] = self.counters.gc_ms() - self._g0
        self.counters.drain()
        spans = self.rec.spans[self._span.id:]
        own = {s.id: self.counters.for_group(s.group) for s in spans}
        for s in spans:
            s.jobs = own[s.id].jobs
        # inclusive totals: a span's own jobs plus its descendants'
        incl = {s.id: StageTotals() for s in spans}
        for s in reversed(spans):           # children after parents
            incl[s.id].add(own[s.id])
            if s.parent in incl:
                incl[s.parent].add(incl[s.id])
        rec["totals"] = incl[self._span.id]
        rec["spans"] = [(s.name, (s.end - s.start) * 1000.0, incl[s.id])
                        for s in spans[1:]]
        if rec["kind"] == "upsert":
            rec["commit"] = self.run.engine.current_commit("jobs")

    def finish(self, recs: list, wall: float, drift: dict, env: dict) -> dict:
        """Remove the wrappers, write the spans out and return the
        per-layer metrics."""
        self._uninstall()
        metrics = per_layer(self.run, recs, wall, drift)
        out = os.path.join(self.run.out_dir, f"spans-{env['workload']}-"
                                             f"{env['seed']}.json")
        ops = [{"kind": r["kind"], "wall_ms": r["wall"] * 1e3,
                "compiles": r["compiles"], "jobs": r["totals"].jobs,
                "tasks": r["totals"].tasks} for r in recs]
        self.rec.dump(out, {"env": env, "metrics": metrics, "ops": ops,
                            "written": time.time()})
        return metrics


def _spans(recs, name):
    return [(ms, tot) for r in recs for n, ms, tot in r["spans"] if n == name]


def per_layer(run, recs: list, wall: float, drift: dict) -> dict:
    """The per-layer metrics of ``metrics.PER_LAYER`` from the traced
    ops' records."""
    by = {k: [r for r in recs if r["kind"] == k] for k in OPS}
    m: dict[str, float] = {}
    for k in OPS:
        ops = by[k]
        m[f"spark.jobs_per_op.{k}"] = _mean(r["totals"].jobs for r in ops)
        m[f"spark.tasks_per_op.{k}"] = _mean(r["totals"].tasks for r in ops)
        m[f"spark.executor_cpu_ms_per_op.{k}"] = _mean(
            r["totals"].cpu_ms for r in ops)
        m[f"engine.plan_build_ms.{k}"] = _mean(r["call"] * 1e3 for r in ops)
        m[f"engine.action_ms.{k}"] = _mean(r["action"] * 1e3 for r in ops)
        m[f"engine.driver_ms.{k}"] = _mean(
            r["wall"] * 1e3 - union_ms(r["totals"].job_intervals)
            for r in ops)
        m[f"drift.p50_pct.{k}"] = drift[k]
    m["spark.gc_ms_per_op"] = _mean(r["gc_ms"] for r in recs)
    m["spark.spill_bytes"] = sum(r["totals"].spill_bytes for r in recs)

    reads = [r for r in recs if r["kind"] in READ_OPS]
    m["functions.vector.compiles_per_search"] = _mean(
        r["compiles"] for r in reads)
    m["functions.vector.compile_ms_per_search"] = _mean(
        r["compile_ms"] for r in reads)
    m["functions.sql.rewrite_ms"] = _mean(
        ms for ms, _ in _spans(recs, "functions.sql.rewrite"))

    for k in ("search", "hybrid"):
        m[f"operators.knn.rows_examined_per_result.{k}"] = _mean(
            r["totals"].input_records / r["rows"] for r in by[k])
    m["operators.knn.input_bytes_per_search"] = _mean(
        r["read_bytes"] for r in by["search"])

    rows = run.size.rows
    probe, patch_ms, patch_jobs = [], [], []
    for r in by["ann"]:
        patches = _spans([r], "operators.ann.ivf_patch")
        patched_records = sum(t.input_records for _, t in patches)
        probe.append((r["totals"].input_records - patched_records) / rows)
        patch_ms.append(sum(ms for ms, _ in patches))
        patch_jobs.append(sum(t.jobs for _, t in patches))
    m["operators.ann.probe_fraction"] = _mean(probe)
    m["operators.ann.patch_ms"] = _mean(patch_ms)
    m["operators.ann.patch_jobs"] = _mean(patch_jobs)
    m["operators.ann.index_files"] = count_parquet_files(
        os.path.join(run.root, "jobs__idx_embedding", "data"))

    m["catalog.load_ms"] = _mean(ms for ms, _ in _spans(recs, "catalog.load"))
    m["catalog.snapshot_files"] = count_parquet_files(
        os.path.join(run.root, "jobs"))
    for metric, span in (("catalog.log_commit_ms", "catalog.log_commit"),
                         ("catalog.rewrite_ms", "catalog.rewrite"),
                         ("catalog.read_incremental_ms",
                          "catalog.read_incremental")):
        m[metric] = _mean(ms for ms, _ in _spans(recs, span))

    ups = by["upsert"]
    batch_bytes = sum(tree_bytes(os.path.join(
        run.root, "jobs__changes", f"commit={r['commit']}")) for r in ups)
    m["operators.upsert.bytes_written_per_byte_upserted"] = (
        sum(r["totals"].output_bytes for r in ups) / batch_bytes
        if batch_bytes else 0.0)
    m["operators.upsert.shuffle_bytes_per_upsert"] = _mean(
        r["totals"].shuffle_write_bytes for r in ups)

    m["trace.overhead_pct"] = 100.0 * sum(r["trace_s"] for r in recs) / wall
    return m


