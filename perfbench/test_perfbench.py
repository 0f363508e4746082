"""The benchmark's own tests, at a tiny table size.

    python3 -m pytest perfbench/test_perfbench.py -q

The last two tests start the benchmark as a subprocess (a Spark session
each, about half a minute apiece).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np
import pytest

from metrics import END_TO_END, PER_LAYER, benchmark_entries
from workload import CYCLES, SIZES, OpStream, make_inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _ops(workload, seed, n):
    inputs = make_inputs(seed, SIZES["tiny"])
    stream = OpStream(workload, inputs, seed,
                      fresh=(workload == "search_fresh"))
    return stream.warmup() + stream.take(n)


def _same_op(a, b) -> bool:
    return (a.kind == b.kind and a.vector == b.vector
            and a.company == b.company
            and np.array_equal(a.keys, b.keys)
            and np.array_equal(a.new_vectors, b.new_vectors))


@pytest.mark.parametrize("workload", sorted(CYCLES))
def test_same_seed_same_inputs(workload):
    a, b = make_inputs(7, SIZES["tiny"]), make_inputs(7, SIZES["tiny"])
    assert np.array_equal(a.vectors, b.vectors)
    assert np.array_equal(a.company, b.company) and a.title == b.title
    assert not np.array_equal(a.vectors, make_inputs(8, SIZES["tiny"]).vectors)
    ops_a, ops_b = _ops(workload, 7, 12), _ops(workload, 7, 12)
    assert all(_same_op(x, y) for x, y in zip(ops_a, ops_b))
    assert not all(_same_op(x, y)
                   for x, y in zip(ops_a, _ops(workload, 8, 12)))


def test_benchmark_json_matches_metric_lists():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e, per = benchmark_entries()
    assert bench["end_to_end"] == e2e
    assert bench["per_layer"] == per
    assert {w["name"] for w in bench["workloads"]} <= set(CYCLES)
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in e2e)


def _run(workload, seed, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "10", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, out.stderr[-3000:]
    return result, out.stderr


def _data_bytes(stderr: str) -> tuple[int, int]:
    """(stored bytes other than the catalog's JSON metadata, snapshot
    bytes) from the run's log. The metadata holds commit wall-clock
    times and the run's directory, so its size may differ by a byte or
    two between runs; the data files may not."""
    m = re.search(r"stored bytes (\d+), of them catalog metadata (\d+); "
                  r"snapshot bytes (\d+)", stderr)
    return int(m[1]) - int(m[2]), int(m[3])


def test_printed_names_match_and_bytes_stored_repeat():
    got, log = _run("write_read", 3, trace=0)
    assert list(got["metrics"]) == [m["name"] for m in END_TO_END]
    assert all(got["metrics"][m["name"]]["unit"] == m["unit"]
               and got["metrics"][m["name"]]["value"] > 0
               for m in END_TO_END)
    _, log_again = _run("write_read", 3, trace=0)
    assert _data_bytes(log) == _data_bytes(log_again)


# per-layer metrics that are counts of work, not times: two traced
# runs at one seed must agree on them exactly (bytes read by the JVM
# are not among them: they include a few bytes of socket traffic)
EXACT = ("spark.jobs_per_op.", "spark.tasks_per_op.",
         "functions.vector.compiles_per_search",
         "operators.knn.rows_examined_per_result.",
         "operators.ann.probe_fraction", "operators.ann.patch_jobs",
         "operators.ann.index_files", "catalog.snapshot_files",
         "operators.upsert.")


@pytest.mark.parametrize("workload", ["search_fresh", "write_read"])
def test_traced_counts_repeat(workload):
    (a, _), (b, _) = _run(workload, 4, trace=1), _run(workload, 4, trace=1)
    assert list(a["metrics"]) == [m["name"] for m in PER_LAYER]
    exact = [k for k in a["metrics"] if k.startswith(EXACT)]
    if workload == "write_read":
        # The index patch's Spark jobs and tasks repeat, but the classes
        # it compiles need not: its concurrent stages hit the 100-entry
        # codegen cache in an order that varies, so which entries are
        # evicted varies too.
        exact.remove("functions.vector.compiles_per_search")
        assert a["metrics"]["functions.vector.compiles_per_search"]["value"] > 0
    assert len(exact) > 15
    assert {k: a["metrics"][k]["value"] for k in exact} == \
           {k: b["metrics"][k]["value"] for k in exact}
    if workload == "search_fresh":
        assert a["metrics"]["functions.vector.compiles_per_search"]["value"] > 0
        assert a["metrics"]["operators.ann.patch_ms"]["value"] == 0
    else:
        assert a["metrics"]["operators.ann.patch_ms"]["value"] > 0
