"""Seeded inputs, op sequences, op execution and result checks.

Everything a run does is a pure function of ``(workload, seed, seconds,
size)``: the table, the query vectors, the upsert batches and the order
of ops. The engine only ever sees the generated inputs, through its
public ``Engine`` API.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# Table shape of the reference's job-listing table.
SCHEMA = "job_id long, company string, title string, embedding array<float>"


@dataclass(frozen=True)
class Size:
    rows: int
    dim: int
    centroids: int        # IVF centroids and generator clusters
    companies: int        # hybrid filter selectivity is 1 / companies
    k: int = 10
    nprobe: int = 8
    # keys per upsert (existing keys, new vectors). 20 keys sit in about
    # 17 of 64 centroid partitions, which the index patch rewrites; at
    # 100 keys it rewrote nearly all of them and a patched read took
    # about 9 s, too long to time enough of them in one run.
    upsert_rows: int = 20
    readback_rows: int = 5  # upserted keys read back after each upsert


# The reference embeds with a 384-dim model. The benchmark uses 128 dims:
# the engine inlines each query vector as one literal per dimension, so
# an op's planning and code generation grow with the dimension, and at
# 384 a run could not both warm up and time enough ops for steady
# medians within the time a full set of runs may take.
SIZES = {
    "full": Size(rows=10_000, dim=128, centroids=64, companies=50),
    # for the benchmark's own tests: same code paths, seconds not minutes
    "tiny": Size(rows=600, dim=16, centroids=8, companies=6,
                 readback_rows=3),
}

# Generator geometry: cluster centres on the unit sphere, points at
# SPREAD (in units of 1/sqrt(dim) per coordinate) around them, queries
# at QUERY_NOISE around a random row. Chosen so nprobe=8 of 64 gives a
# recall@10 near 0.95: below 1.0, so a recall loss can show.
SPREAD = 1.7
QUERY_NOISE = 0.75

READ_OPS = ("search", "hybrid", "ann", "sql")
OPS = READ_OPS + ("upsert",)

# One cycle of each workload. The search cycle is the 40/20/20/20 mix of
# exact / hybrid / ANN / SQL; the write cycle is an upsert, a read that
# has to patch the index, and three exact searches (three, so that a run
# of two cycles still has enough of them for a median).
CYCLES = {
    "search_fresh": ("ann", "search", "hybrid", "sql", "search"),
    "search_repeat": ("ann", "search", "hybrid", "sql", "search"),
    "write_read": ("upsert", "ann", "search", "search", "search"),
}

# Untimed ops before the timed sequence. The first vector search in a
# fresh JVM costs several times a warm one, and the next few still fall
# while the JIT compiles the planner paths a 128-term distance expression
# drives (and, on write_read, the commit and index-patch paths). One pass
# over each op type takes the timed ops past most of that knee, but the
# second ANN read (patched or not) was still 10-30% slower than later
# ones, so the warm-up has two. search_repeat instead runs every pooled
# query once, so the codegen cache holds them all.
WARMUP = {"search_fresh": CYCLES["search_fresh"] + ("ann",),
          "write_read": ("upsert", "ann", "search", "upsert", "ann")}

# Nominal ops per second of each workload on a 4-core host. ``--seconds``
# times this rate fixes the length of the op sequence, so a run's work
# depends only on its arguments, never on how fast the host happens to
# be; the timed phase then lasts about ``--seconds`` on such a host.
NOMINAL_OPS_PER_S = {"search_fresh": 1.0, "search_repeat": 1.3,
                     "write_read": 0.5}

# search_repeat and write_read draw their vectors from small pools, as
# when notebook cells are re-run: two per read op type, eight in all.
POOL_PER_OP = 2


def _normalize(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


@dataclass
class Inputs:
    """The generated table plus the generator state that makes more of
    the same distribution (query vectors, upserted vectors)."""
    size: Size
    job_id: np.ndarray
    company: np.ndarray          # company index; the value is f"c{i}"
    title: list
    vectors: np.ndarray          # float32 (rows, dim)
    centers: np.ndarray


def make_inputs(seed: int, size: Size) -> Inputs:
    rng = np.random.default_rng([seed, 0])
    centers = _normalize(rng.standard_normal((size.centroids, size.dim)))
    labels = rng.integers(0, size.centroids, size.rows)
    vectors = sample_vectors(rng, centers, labels, size.dim)
    company = rng.integers(0, size.companies, size.rows)
    levels = ("junior", "senior", "staff", "lead")
    roles = ("data engineer", "ml engineer", "analyst", "sre", "developer")
    title = [f"{levels[a]} {roles[b]}" for a, b in
             zip(rng.integers(0, len(levels), size.rows),
                 rng.integers(0, len(roles), size.rows))]
    return Inputs(size, np.arange(size.rows, dtype=np.int64), company,
                  title, vectors, centers)


def sample_vectors(rng, centers, labels, dim) -> np.ndarray:
    noise = rng.standard_normal((len(labels), dim)) * (SPREAD / math.sqrt(dim))
    return _normalize(centers[labels] + noise).astype(np.float32)


def write_parquet(inputs: Inputs, path: str, files: int) -> None:
    """The generated table as a directory of ``files`` parquet files (as
    a table written by ``files`` tasks would be): the benchmark's input,
    which set-up ingests through the engine."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(path)
    t = pa.table({
        "job_id": pa.array(inputs.job_id, pa.int64()),
        "company": pa.array([f"c{i}" for i in inputs.company]),
        "title": pa.array(inputs.title),
        "embedding": pa.array(list(inputs.vectors), pa.list_(pa.float32())),
    })
    step = -(-len(t) // files)
    for i in range(files):
        pq.write_table(t.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


# --------------------------------------------------------------------------
# op sequences
# --------------------------------------------------------------------------

@dataclass
class Op:
    kind: str
    vector: list | None = None        # query vector (read ops)
    company: int | None = None        # hybrid filter
    keys: np.ndarray | None = None    # upsert keys
    new_vectors: np.ndarray | None = None


@dataclass
class OpStream:
    """The workload's op sequence. Op ``i`` is the ``i % cycle``-th op
    type of the cycle with its arguments drawn from one seeded stream,
    so the same seed replays the same ops. ``fresh`` draws a new query
    vector per op; otherwise each read op type draws from its own pool
    of ``POOL_PER_OP`` queries, generated once."""
    workload: str
    inputs: Inputs
    seed: int
    fresh: bool
    _rng: np.random.Generator = field(init=False)
    _pool: dict = field(init=False, default_factory=dict)
    _i: int = field(init=False, default=0)

    def __post_init__(self):
        self._rng = np.random.default_rng([self.seed, 1])
        if not self.fresh:
            self._pool = {k: [self._read_args() for _ in range(POOL_PER_OP)]
                          for k in READ_OPS}

    def _read_args(self) -> tuple[list, int]:
        s, rng = self.inputs.size, self._rng
        row = self.inputs.vectors[rng.integers(0, s.rows)].astype(np.float64)
        q = _normalize(row + rng.standard_normal(s.dim)
                       * (QUERY_NOISE / math.sqrt(s.dim)))
        return [float(v) for v in q], int(rng.integers(0, s.companies))

    def warmup(self) -> list[Op]:
        """The untimed ops before the sequence (see ``WARMUP``)."""
        if self.workload == "search_repeat":
            return [Op(kind, vector=v, company=c)
                    for kind in READ_OPS for v, c in self._pool[kind]]
        return [self._make(kind) for kind in WARMUP[self.workload]]

    @property
    def cycle(self) -> tuple[str, ...]:
        return CYCLES[self.workload]

    def next(self) -> Op:
        kind = self.cycle[self._i % len(self.cycle)]
        self._i += 1
        return self._make(kind)

    def _make(self, kind: str) -> Op:
        rng, s = self._rng, self.inputs.size
        if kind == "upsert":
            keys = np.sort(rng.choice(s.rows, s.upsert_rows, replace=False))
            labels = rng.integers(0, s.centroids, s.upsert_rows)
            vecs = sample_vectors(rng, self.inputs.centers, labels, s.dim)
            return Op(kind, keys=keys, new_vectors=vecs)
        if self.fresh:
            v, c = self._read_args()
        else:
            v, c = self._pool[kind][int(rng.integers(0, POOL_PER_OP))]
        return Op(kind, vector=v, company=c)

    def take(self, n: int) -> list[Op]:
        return [self.next() for _ in range(n)]


def timed_op_count(workload: str, seconds: int) -> int:
    """Whole cycles, at least one, so every run has the same op mix."""
    n = len(CYCLES[workload])
    return n * max(1, round(seconds * NOMINAL_OPS_PER_S[workload] / n))


# --------------------------------------------------------------------------
# execution and checks
# --------------------------------------------------------------------------

class CheckFailed(AssertionError):
    """An op returned a wrong result."""


TIE_EPS = 1e-6


@dataclass
class Truth:
    """Client-side copy of the table, updated on every upsert: the
    brute-force answer every result is checked against."""
    inputs: Inputs
    vectors: np.ndarray = field(init=False)

    def __post_init__(self):
        self.vectors = self.inputs.vectors.astype(np.float64).copy()

    def distances(self, q: list) -> np.ndarray:
        qv = np.asarray(q, dtype=np.float64)
        norms = np.linalg.norm(self.vectors, axis=1)
        return 1.0 - (self.vectors @ qv) / (norms * np.linalg.norm(qv))

    def topk(self, q: list, k: int, company: int | None = None):
        """(distance per row, candidate mask, k-th smallest distance)."""
        d = self.distances(q)
        mask = (np.ones(len(d), bool) if company is None
                else self.inputs.company == company)
        cand = np.sort(d[mask])
        kth = cand[min(k, len(cand)) - 1]
        return d, mask, kth

    def check_topk(self, rows: list, q: list, k: int,
                   company: int | None = None) -> None:
        """Exact top-k with tie tolerance: right count, distinct ids,
        each distance equal to numpy's, none beyond the k-th best."""
        d, mask, kth = self.topk(q, k, company)
        ids = [r[0] for r in rows]
        if len(ids) != min(k, int(mask.sum())) or len(set(ids)) != len(ids):
            raise CheckFailed(f"top-k returned {len(ids)} rows / ids {ids}")
        for jid, dist in rows:
            if not mask[jid]:
                raise CheckFailed(f"row {jid} fails the filter")
            if abs(dist - d[jid]) > TIE_EPS or d[jid] > kth + TIE_EPS:
                raise CheckFailed(
                    f"row {jid}: distance {dist} (numpy {d[jid]}, k-th {kth})")

    def ann_recall(self, rows: list, q: list, k: int) -> float:
        """Recall@k against the exact answer; an ANN row must still
        carry its true distance."""
        d, _, kth = self.topk(q, k)
        ids = [r[0] for r in rows]
        if len(ids) != k or len(set(ids)) != k:
            raise CheckFailed(f"ann returned ids {ids}")
        for jid, dist in rows:
            if abs(dist - d[jid]) > TIE_EPS:
                raise CheckFailed(f"ann row {jid}: {dist} vs numpy {d[jid]}")
        return sum(d[j] <= kth + TIE_EPS for j in ids) / k


def sql_text(q: list, k: int) -> str:
    """The SQL op: the TVF spelling of a top-k search joined with a
    group-by over the same table (matches with their company's size)."""
    vec = ", ".join(repr(v) for v in q)
    return ("SELECT v.job_id, v._distance, g.n "
            f"FROM vector_search('jobs', 'embedding', array({vec}), {k}, "
            "'cosine') v "
            "JOIN (SELECT company, COUNT(*) AS n FROM jobs GROUP BY company) g "
            "ON v.company = g.company")


class Executor:
    """Runs ops against an ``Engine`` through its public API. Each op is
    split into the call (until the engine returns) and the action
    (``collect``); ``verify`` checks the result afterwards, untimed."""

    def __init__(self, engine, truth: Truth, spark):
        from pyspark.sql import functions as F
        self.F = F
        self.engine, self.truth, self.spark = engine, truth, spark
        self.size = truth.inputs.size
        counts = pd.Series(truth.inputs.company).value_counts()
        self.company_rows = {int(c): int(n) for c, n in counts.items()}

    def prepare(self, op: Op):
        """The client-side input of an op, built before it is timed: the
        upsert batch as a DataFrame."""
        return self._batch(op) if op.kind == "upsert" else None

    # -- the call: returns a DataFrame (reads) or None (upsert) ----------
    def call(self, op: Op, batch=None):
        e, s, F = self.engine, self.size, self.F
        if op.kind == "search":
            return e.vector_search("jobs", "embedding", op.vector, k=s.k)
        if op.kind == "hybrid":
            return e.vector_search("jobs", "embedding", op.vector, k=s.k,
                                   filter=F.col("company") == f"c{op.company}")
        if op.kind == "ann":
            return e.ann_search("jobs", op.vector, k=s.k, nprobe=s.nprobe,
                                on_stale="patch")
        if op.kind == "sql":
            return e.sql(sql_text(op.vector, s.k))
        if op.kind == "upsert":
            e.upsert("jobs", batch)
            return None
        raise ValueError(op.kind)

    def _batch(self, op: Op):
        inp = self.truth.inputs
        pdf = pd.DataFrame({
            "job_id": inp.job_id[op.keys],
            "company": [f"c{inp.company[i]}" for i in op.keys],
            "title": [inp.title[i] for i in op.keys],
            "embedding": list(op.new_vectors),
        })
        return self.spark.createDataFrame(pdf, SCHEMA)

    # -- the action ------------------------------------------------------
    @staticmethod
    def action(op: Op, df) -> list:
        if df is None:
            return []
        if op.kind == "sql":
            return [(r.job_id, r._distance, r.n) for r in df.collect()]
        return [(r.job_id, r._distance) for r in df.collect()]

    # -- checks (untimed) --------------------------------------------------
    def verify(self, op: Op, rows: list) -> float | None:
        """Raises CheckFailed on a wrong result; returns the recall of an
        ANN op."""
        t, k = self.truth, self.size.k
        if op.kind == "search":
            t.check_topk(rows, op.vector, k)
        elif op.kind == "hybrid":
            t.check_topk(rows, op.vector, k, company=op.company)
        elif op.kind == "ann":
            return t.ann_recall(rows, op.vector, k)
        elif op.kind == "sql":
            t.check_topk([(j, dist) for j, dist, _ in rows], op.vector, k)
            for jid, _, n in rows:
                want = self.company_rows[int(t.inputs.company[jid])]
                if n != want:
                    raise CheckFailed(f"group count {n} != pandas {want}")
        elif op.kind == "upsert":
            self._apply_and_read_back(op)
        return None

    def _apply_and_read_back(self, op: Op) -> None:
        self.truth.vectors[op.keys] = op.new_vectors.astype(np.float64)
        pick = op.keys[:: max(1, len(op.keys) // self.size.readback_rows)]
        pick = [int(x) for x in pick[: self.size.readback_rows]]
        got = {r.job_id: r.embedding for r in
               self.engine.table("jobs")
                   .filter(self.F.col("job_id").isin(pick))
                   .select("job_id", "embedding").collect()}
        new = dict(zip(op.keys.tolist(), op.new_vectors))
        for key in pick:
            if key not in got or not np.array_equal(
                    np.asarray(got[key], np.float32), new[key]):
                raise CheckFailed(f"upserted key {key} does not read back")


def tree_bytes(path: str) -> int:
    """Bytes under ``path``, each inode once (the catalog hardlinks its
    bootstrap commit to the snapshot files)."""
    seen, total = set(), 0
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total


def count_parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)
