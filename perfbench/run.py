"""Benchmark of the engine's search, hybrid, SQL and write-then-read traffic.

Run from the repository root:

    python3 perfbench/run.py --workload search_fresh --seed 1 --seconds 16 --trace 0

One client drives the public ``Engine`` API in a closed loop over a
seeded job-listing table (job_id, company, title, 128-dim embedding).
Workloads (see ``workload.CYCLES``):

* ``search_fresh``: read-only 40/20/20/20 mix of exact / hybrid / ANN /
  SQL; every op brings a new query vector, so each pays code generation.
* ``search_repeat``: the same mix over a pool of eight queries that the
  warm-up has already run; the control for search_fresh. It is not in
  ``BENCHMARK.json``: every run pays about 40 s of set-up, and a third
  workload would not fit the time a full set of runs may take.
* ``write_read``: a 20-row upsert of existing keys, an ANN read that
  must patch the stale index, and three exact searches.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
same op sequence with spans around each layer and Spark's counters read
per span, and prints the per-layer metrics (``metrics.PER_LAYER``); its
spans are written to ``.perfbench_out/``. Every result is checked against numpy
and pandas; a wrong result counts as a failed op. The last line of
stdout is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pydata_vector_search_spark"

# Spark task threads. Two, never more than the host has: on a 4-core
# host that leaves cores to the JVM thread that plans each query, the JIT
# and GC threads and the Python client, whose work an op waits on. In
# five-seed trials of search_fresh on a 4-core host, the latencies'
# run-to-run spread (quartile distance / median) was about 0.1 with four
# task threads and 0.03 with two.
SPARK_CORES = 2


def parse_args(argv):
    from workload import CYCLES, SIZES
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(CYCLES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full",
                   help="table size; 'tiny' is for the benchmark's tests")
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def median_ms(xs: list) -> float:
    return statistics.median(xs) * 1000.0 if xs else 0.0


def mean(xs: list) -> float:
    return statistics.fmean(xs) if xs else 0.0


class Run:
    """One benchmark run: a Spark session, an engine over a generated
    table, and the op sequence of one workload."""

    def __init__(self, args, work: str):
        from workload import SIZES
        self.args, self.work = args, work
        self.size = SIZES[args.size]
        self.attempted = self.failed = 0
        self.cores = min(SPARK_CORES, os.cpu_count() or 1)
        self.recalls: list[float] = []
        self.spark = None
        self.out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(self.out_dir, exist_ok=True)

    # -- set-up ----------------------------------------------------------
    def start_spark(self):
        from pydata_vector_search_spark.session import get_spark
        tmp = os.path.join(self.work, "tmp")
        self.master = f"local[{self.cores}]"
        self.spark = get_spark("perfbench", master=self.master, extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        })
        self.spark.sparkContext.setLogLevel("ERROR")

    def setup(self) -> float:
        from pydata_vector_search_spark import Engine
        from workload import (CYCLES, Executor, OpStream, Truth,
                              make_inputs, write_parquet)
        t0 = time.perf_counter()
        self.start_spark()
        t1 = time.perf_counter()
        self.inputs = make_inputs(self.args.seed, self.size)
        staging = os.path.join(self.work, "input")
        write_parquet(self.inputs, staging, files=self.cores)
        t2 = time.perf_counter()
        self.root = os.path.join(self.work, "catalog")
        self.engine = Engine(self.spark, self.root)
        self.engine.ingest(self.spark.read.parquet(staging), "jobs",
                           key="job_id")
        t_ingest = time.perf_counter()
        self.engine.ann_index_create("jobs", "embedding",
                                     num_centroids=self.size.centroids)
        if "sql" in CYCLES[self.args.workload]:
            self.engine.register_sql("jobs")
        t3 = time.perf_counter()
        w = self.args.workload
        self.stream = OpStream(w, self.inputs, self.args.seed,
                               fresh=(w == "search_fresh"))
        self.ex = Executor(self.engine, Truth(self.inputs), self.spark)
        warm = self.stream.warmup()
        for op in warm:
            self.run_op(op)
        t4 = time.perf_counter()
        log(f"set-up: session {t1 - t0:.2f}s, inputs {t2 - t1:.2f}s, "
            f"ingest {t_ingest - t2:.2f}s, index {t3 - t_ingest:.2f}s, "
            f"warm-up {len(warm)} ops {t4 - t3:.2f}s")
        return t4 - t0

    # -- one op ------------------------------------------------------------
    def run_op(self, op, tracer=None):
        """Run and check one op. Returns its record, or None if it
        failed (raised, or returned a wrong result)."""
        from workload import CheckFailed
        self.attempted += 1
        rec = {"kind": op.kind}
        if tracer is not None:
            tracer.before(rec)
        arg = self.ex.prepare(op)
        t = time.perf_counter()
        try:
            df = self.ex.call(op, arg)
            t_call = time.perf_counter()
            if tracer is not None:
                span = tracer.rec.push("engine.action")
            try:
                rows = self.ex.action(op, df)
            finally:
                if tracer is not None:
                    tracer.rec.pop(span)
        except Exception:           # any engine failure is a failed op
            log(f"{op.kind} op raised:\n{traceback.format_exc()}")
            self.failed += 1
            if tracer is not None:
                tracer.abort()
            return None
        t_end = time.perf_counter()
        rec.update(wall=t_end - t, call=t_call - t, action=t_end - t_call,
                   rows=len(rows))
        if tracer is not None:
            tracer.after(rec)
        try:
            recall = self.ex.verify(op, rows)
        except CheckFailed as e:
            log(f"{op.kind} op returned a wrong result: {e}")
            self.failed += 1
            return None
        if recall is not None:
            self.recalls.append(recall)
            rec["recall"] = recall
        return rec

    def run_sequence(self, ops, tracer=None) -> tuple[list, float]:
        """Run ``ops``; returns (records of the ops that succeeded,
        summed wall of all ops)."""
        recs, wall = [], 0.0
        for op in ops:
            t = time.perf_counter()
            r = self.run_op(op, tracer)
            if r is None:
                wall += time.perf_counter() - t
            else:
                wall += r["wall"]
                recs.append(r)
        return recs, wall

    # -- metrics -------------------------------------------------------------
    def stored_ratio(self) -> float:
        from workload import tree_bytes
        stored = tree_bytes(self.root)
        live = tree_bytes(os.path.join(self.root, "jobs"))
        meta = os.path.getsize(os.path.join(self.root, "_catalog.json"))
        log(f"stored bytes {stored}, of them catalog metadata {meta}; "
            f"snapshot bytes {live}")
        return stored / live

    def end_to_end(self, setup_s: float, recs: list, wall: float) -> dict:
        by = _by_kind(recs)
        return {
            "setup_s": setup_s,
            "ops_per_s": len(recs) / wall if wall else 0.0,
            "search_p50_ms": median_ms(by.get("search", [])),
            "ann_p50_ms": median_ms(by.get("ann", [])),
            "ann_recall_at_10": mean(self.recalls),
            "bytes_stored_per_live_byte": self.stored_ratio(),
        }

    def env(self) -> dict:
        sc = self.spark.sparkContext
        return {"workload": self.args.workload, "seed": self.args.seed,
                "seconds": self.args.seconds, "size": self.args.size,
                "nproc": os.cpu_count(), "master": self.master,
                "spark": self.spark.version,
                "java": sc._jvm.System.getProperty("java.version"),
                "python": sys.version.split()[0]}

    def stop(self):
        if self.spark is None:
            return
        from pyspark import SparkContext
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()      # the JVM exits on EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def _by_kind(recs: list) -> dict:
    by: dict[str, list] = {}
    for r in recs:
        by.setdefault(r["kind"], []).append(r["wall"])
    return by


def drift_pct(recs: list) -> dict:
    """Per op type, |p50 of the second half - p50 of the first half| as
    a percentage of the first, over the sequence's own order."""
    from workload import OPS
    out = {}
    for kind in OPS:
        xs = [r["wall"] for r in recs if r["kind"] == kind]
        h = len(xs) // 2
        if h == 0:
            out[kind] = 0.0
            continue
        a, b = statistics.median(xs[:h]), statistics.median(xs[-h:])
        out[kind] = abs(b - a) / a * 100.0
    return out


def cpu_times() -> list[int]:
    """The summed CPU time counters of all CPUs (Linux /proc/stat), or []."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_pct(a: list[int], b: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings (the 8th counter is steal)."""
    if len(a) < 8 or len(b) < 8 or sum(b) == sum(a):
        return 0.0
    return 100.0 * (b[7] - a[7]) / (sum(b) - sum(a))


def measure(args, work: str) -> dict:
    from workload import timed_op_count
    run = Run(args, work)
    try:
        setup_s = run.setup()
        env = run.env()
        log(f"env {json.dumps(env)}")
        n = timed_op_count(args.workload, args.seconds)
        ops = run.stream.take(n)
        tracer = None
        if args.trace:
            from layers import Tracer
            tracer = Tracer(run)
        cpu0 = cpu_times()
        recs, wall = run.run_sequence(ops, tracer)
        log(f"host steal during the timed ops {steal_pct(cpu0, cpu_times()):.1f}%")
        drift = drift_pct(recs)
        log(f"timed {n} ops in {wall:.2f}s: "
            + ", ".join(f"{r['kind']} {r['wall']:.2f}s" for r in recs))
        log(f"drift % {drift}")
        if tracer is not None:
            metrics = tracer.finish(recs, wall, drift, env)
        else:
            metrics = run.end_to_end(setup_s, recs, wall)
    finally:
        run.stop()
    return {"correct": run.failed == 0, "attempted": run.attempted,
            "failed": run.failed, "metrics": metrics}


def main(argv=None) -> int:
    t0 = time.perf_counter()
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"no {PACKAGE}/ package next to perfbench/ in {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    from metrics import END_TO_END, PER_LAYER
    names = [m["name"] for m in (PER_LAYER if args.trace else END_TO_END)]
    units = {m["name"]: m["unit"] for m in END_TO_END + PER_LAYER}
    result["metrics"] = {k: {"value": result["metrics"][k], "unit": units[k]}
                         for k in names}
    log(f"run took {time.perf_counter() - t0:.1f}s")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
