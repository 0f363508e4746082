"""The traced run: spans around the engine's layers, and Spark's own
counters per span.

Spans are recorded from the benchmark's side only. ``install`` wraps
public functions of the package's modules at run time (module
attributes, class methods); the package itself carries no
instrumentation. Every span gets its own Spark job group, so the jobs a
layer launched, and their tasks, bytes and CPU, are read back from the
status store by group (this works with ``spark.ui.enabled=false``).
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

# (module, attribute path, span name). A function some other module
# imported by name is patched in that module too, or calls through it
# would bypass the wrapper.
TARGETS = [
    ("pydata_vector_search_spark.engine", "Engine.vector_search", "engine.vector_search"),
    ("pydata_vector_search_spark.engine", "Engine.ann_search", "engine.ann_search"),
    ("pydata_vector_search_spark.engine", "Engine.sql", "engine.sql"),
    ("pydata_vector_search_spark.engine", "Engine.upsert", "engine.upsert"),
    ("pydata_vector_search_spark.engine", "Engine.table", "engine.table"),
    ("pydata_vector_search_spark.functions.vector", "distance_expr_lit", "functions.vector.distance_expr_lit"),
    ("pydata_vector_search_spark.operators.knn", "distance_expr_lit", "functions.vector.distance_expr_lit"),
    ("pydata_vector_search_spark.functions.sql", "rewrite_vector_search_sql", "functions.sql.rewrite"),
    ("pydata_vector_search_spark.operators.knn", "vector_search", "operators.knn.vector_search"),
    ("pydata_vector_search_spark.operators.ann", "vector_search", "operators.knn.vector_search"),
    ("pydata_vector_search_spark.operators.ann", "ivf_search", "operators.ann.ivf_search"),
    ("pydata_vector_search_spark.operators.ann", "ivf_patch", "operators.ann.ivf_patch"),
    ("pydata_vector_search_spark.operators.ann", "probe_cids", "operators.ann.probe_cids"),
    ("pydata_vector_search_spark.operators.upsert", "upsert_table", "operators.upsert.upsert_table"),
    ("pydata_vector_search_spark.operators.upsert", "merge_last_write_wins", "operators.upsert.merge"),
    ("pydata_vector_search_spark.catalog", "Catalog.load", "catalog.load"),
    ("pydata_vector_search_spark.catalog", "Catalog.write", "catalog.write"),
    ("pydata_vector_search_spark.catalog", "Catalog.log_commit", "catalog.log_commit"),
    ("pydata_vector_search_spark.catalog", "Catalog.read_incremental", "catalog.read_incremental"),
    ("pydata_vector_search_spark.catalog", "Catalog.register_index", "catalog.register_index"),
    ("pydata_vector_search_spark.catalog", "overwrite_dir_via_swap", "catalog.rewrite"),
]


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    group: str
    jobs: list = field(default_factory=list)


@dataclass
class StageTotals:
    jobs: int = 0
    tasks: int = 0
    cpu_ms: float = 0.0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    spill_bytes: int = 0
    job_intervals: list = field(default_factory=list)   # (start_ms, end_ms)

    def add(self, other: "StageTotals") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


class Recorder:
    """Spans kept in memory; ``dump`` writes them out at the end."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None
        self._base_group = "perfbench"
        self.self_s = 0.0       # time spent recording: the tracing overhead

    def _group(self, span_id: int) -> str:
        return f"perfbench-span-{span_id}"

    def begin_op(self, op_id: int, kind: str) -> Span:
        self.op = op_id
        return self.push(f"op.{kind}")

    def push(self, name: str) -> Span:
        t0 = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1].id if self._stack else None
        sp = Span(sid, name, 0.0, 0.0, parent, self.op, self._group(sid))
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        self.self_s += sp.start - t0
        return sp

    def pop(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack.pop()
        self.sc.setJobGroup(self._stack[-1].group if self._stack
                            else self._base_group, "")
        self.self_s += time.perf_counter() - sp.end

    def unwind(self) -> None:
        """Close every open span (an op raised)."""
        while self._stack:
            self.pop(self._stack[-1])
        self.op = None

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            sp = self.push(name)
            try:
                return fn(*a, **kw)
            finally:
                self.pop(sp)
        return traced

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f)


def install(rec: Recorder):
    """Wrap every TARGET; returns a function that undoes it."""
    undo = []
    for mod_name, attr, span_name in TARGETS:
        mod = importlib.import_module(mod_name)
        owner, _, name = attr.rpartition(".")
        obj = getattr(mod, owner) if owner else mod
        raw = getattr(obj, name)
        setattr(obj, name, rec.wrap(raw, span_name))
        undo.append((obj, name, raw))

    def uninstall():
        for obj, name, raw in reversed(undo):
            setattr(obj, name, raw)
    return uninstall


class SparkCounters:
    """Spark's counters, read through job groups and JVM metrics."""

    def __init__(self, sc):
        self.sc = sc
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        jvm = sc._jvm
        self._compile = jvm.org.apache.spark.metrics.source.CodegenMetrics \
                           .METRIC_COMPILATION_TIME()
        self._arrays = jvm.java.util.Arrays
        self._io = f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/io"
        self._gcs = list(jvm.java.lang.management.ManagementFactory
                            .getGarbageCollectorMXBeans())

    def drain(self) -> None:
        """Wait until the status store has seen every finished event."""
        self._bus.waitUntilEmpty()

    def compiles(self) -> tuple[int, int]:
        """(Janino compiles so far, their summed ms). The ms come from a
        1028-sample reservoir, so they stay exact while compiles in the
        run stay below that."""
        snap = self._compile.getSnapshot()
        return (self._compile.getCount(),
                self._arrays.stream(snap.getValues()).sum())

    def read_bytes(self) -> int:
        """Bytes the JVM has read through system calls so far (``rchar``
        of /proc/<pid>/io: files, page cache included, and sockets).
        Neither stage input bytes nor Hadoop's filesystem statistics
        see the column chunks the parquet reader fetches with vectored
        reads; this does."""
        with open(self._io) as f:
            for line in f:
                if line.startswith("rchar:"):
                    return int(line.split()[1])
        raise ValueError(f"no rchar in {self._io}")

    def gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gcs)

    def for_group(self, group: str) -> StageTotals:
        tot = StageTotals()
        tracker = self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            tot.jobs += 1
            jd = self._store.job(job)
            if jd.completionTime().isDefined():
                tot.job_intervals.append(
                    (jd.submissionTime().get().getTime(),
                     jd.completionTime().get().getTime()))
            info = tracker.getJobInfo(job)
            for stage in (list(info.stageIds) if info else []):
                try:
                    st = self._store.lastStageAttempt(stage)
                except Py4JJavaError:   # skipped stage: never attempted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                tot.tasks += st.numTasks()
                tot.cpu_ms += st.executorCpuTime() / 1e6
                tot.input_records += st.inputRecords()
                tot.shuffle_write_bytes += st.shuffleWriteBytes()
                tot.output_bytes += st.outputBytes()
                tot.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return tot


def union_ms(intervals: list) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
