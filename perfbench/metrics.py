"""Every metric the benchmark prints, with its unit and direction.

``BENCHMARK.json`` at the repository root repeats these lists (name,
unit, better, and the bound of each end-to-end metric); the benchmark's
tests check that the two agree. ``moves`` records, for each per-layer
metric, which end-to-end metric it should move and on which workload.
"""

from __future__ import annotations

from workload import OPS

# An end-to-end metric is printed by every workload and is never 0.
END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25,
     "what": "session start, table generation, ingest, index build and "
             "warm-up, once per run"},
    {"name": "ops_per_s", "unit": "1/s", "better": "higher", "bound": 0.2,
     "what": "completed ops / timed wall of the fixed op sequence (one "
             "client, closed loop)"},
    {"name": "search_p50_ms", "unit": "ms", "better": "lower", "bound": 0.24,
     "what": "median exact top-k latency, call until collect() returns"},
    {"name": "ann_p50_ms", "unit": "ms", "better": "lower", "bound": 0.24,
     "what": "median ANN latency; on write_read every ANN read follows "
             "writes and pays the index patch (read-after-write)"},
    {"name": "ann_recall_at_10", "unit": "ratio", "better": "higher",
     "bound": 0.2,
     "what": "overlap of the ANN top-10 with numpy's exact top-10, "
             "averaged over every ANN read of the run, warm-up included"},
    {"name": "bytes_stored_per_live_byte", "unit": "ratio",
     "better": "lower", "bound": 0.1,
     "what": "catalog-root bytes / snapshot bytes after the sequence"},
]

def _per_op(prefix: str, unit: str, better: str, moves: str) -> list[dict]:
    return [{"name": f"{prefix}.{op}", "unit": unit, "better": better,
             "moves": moves.replace("<op>", op)} for op in OPS]


PER_LAYER = [
    # session: Spark scheduling, read through job groups
    *_per_op("spark.jobs_per_op", "count", "lower",
             "<op> latency on every workload (search_p50_ms, ann_p50_ms)"),
    *_per_op("spark.tasks_per_op", "count", "lower",
             "<op> latency on every workload (search_p50_ms, ann_p50_ms)"),
    *_per_op("spark.executor_cpu_ms_per_op", "ms", "lower",
             "ops_per_s on every workload with <op> ops"),
    {"name": "spark.gc_ms_per_op", "unit": "ms", "better": "lower",
     "moves": "ops_per_s and latency tails on every workload"},
    {"name": "spark.spill_bytes", "unit": "bytes", "better": "lower",
     "moves": "expected 0 on every workload"},
    # engine: the facade call split into plan building and action
    *_per_op("engine.plan_build_ms", "ms", "lower",
             "<op> latency (the engine call until it returns; eager ops - "
             "upsert, ann with an index patch - do their work here)"),
    *_per_op("engine.action_ms", "ms", "lower",
             "<op> latency (collect() of the returned DataFrame)"),
    *_per_op("engine.driver_ms", "ms", "lower",
             "<op> latency (op wall minus the wall time of its jobs)"),
    # functions.vector: literal query vectors are compiled into the plan
    {"name": "functions.vector.compiles_per_search", "unit": "count",
     "better": "lower",
     "moves": "search_p50_ms and ann_p50_ms on search_fresh; about 0 on "
              "search_repeat"},
    {"name": "functions.vector.compile_ms_per_search", "unit": "ms",
     "better": "lower",
     "moves": "search_p50_ms and ann_p50_ms on search_fresh; about 0 on "
              "search_repeat"},
    # functions.sql: the vector_search TVF rewrite
    {"name": "functions.sql.rewrite_ms", "unit": "ms", "better": "lower",
     "moves": "ops_per_s on search_fresh and search_repeat (sql ops)"},
    # operators.knn: the exact scan
    {"name": "operators.knn.rows_examined_per_result.search",
     "unit": "count", "better": "lower",
     "moves": "search_p50_ms on every workload"},
    {"name": "operators.knn.rows_examined_per_result.hybrid",
     "unit": "count", "better": "lower",
     "moves": "ops_per_s on search_fresh and search_repeat (hybrid ops)"},
    {"name": "operators.knn.input_bytes_per_search", "unit": "bytes",
     "better": "lower",
     "moves": "search_p50_ms on every workload (bytes the JVM read "
              "through system calls during an exact search)"},
    # operators.ann: IVF probe and patch
    {"name": "operators.ann.probe_fraction", "unit": "ratio",
     "better": "lower", "moves": "ann_p50_ms and ann_recall_at_10"},
    {"name": "operators.ann.patch_ms", "unit": "ms", "better": "lower",
     "moves": "ann_p50_ms on write_read; 0 on the search workloads"},
    {"name": "operators.ann.patch_jobs", "unit": "count", "better": "lower",
     "moves": "ann_p50_ms on write_read; 0 on the search workloads"},
    {"name": "operators.ann.index_files", "unit": "count", "better": "lower",
     "moves": "ann_p50_ms on write_read"},
    # catalog: snapshot loads, commit log, copy-on-write rewrite
    {"name": "catalog.load_ms", "unit": "ms", "better": "lower",
     "moves": "search_p50_ms on write_read"},
    {"name": "catalog.snapshot_files", "unit": "count", "better": "lower",
     "moves": "search_p50_ms on write_read"},
    {"name": "catalog.log_commit_ms", "unit": "ms", "better": "lower",
     "moves": "ops_per_s on write_read (upsert latency)"},
    {"name": "catalog.rewrite_ms", "unit": "ms", "better": "lower",
     "moves": "ops_per_s on write_read (upsert latency)"},
    {"name": "catalog.read_incremental_ms", "unit": "ms", "better": "lower",
     "moves": "ann_p50_ms on write_read"},
    # operators.upsert: copy-on-write keyed upsert
    {"name": "operators.upsert.bytes_written_per_byte_upserted",
     "unit": "ratio", "better": "lower",
     "moves": "ops_per_s and bytes_stored_per_live_byte on write_read"},
    {"name": "operators.upsert.shuffle_bytes_per_upsert", "unit": "bytes",
     "better": "lower", "moves": "ops_per_s on write_read"},
    # the benchmark itself
    *_per_op("drift.p50_pct", "%", "lower",
             "none: |second-half p50 - first-half p50| / first-half p50 of "
             "<op> over the sequence; a large value is unfinished "
             "warm-up, not noise"),
    {"name": "trace.overhead_pct", "unit": "%", "better": "lower",
     "moves": "none: the recorder's own time as a share of the traced "
              "ops' wall"},
]


def benchmark_entries() -> tuple[list[dict], list[dict]]:
    """The two metric lists as ``BENCHMARK.json`` spells them."""
    e2e = [{k: m[k] for k in ("name", "unit", "better", "bound")}
           for m in END_TO_END]
    per = [{k: m[k] for k in ("name", "unit", "better")} for m in PER_LAYER]
    return e2e, per
