"""The benchmark's own tests: the tracer's self-time arithmetic, the
result hash the corpus gates compare, and a tiny-size run of every
workload through its full correctness gate.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from corpus import result_hash  # noqa: E402
from spans import Tracer, self_times  # noqa: E402


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "start": start, "end": end,
            "parent": parent}


def test_self_time_subtracts_children():
    spans = [_span(0, "round", 0.0, 10.0),
             _span(1, "commit", 1.0, 3.0, 0),
             _span(2, "add", 4.0, 8.0, 0),
             _span(3, "commit", 5.0, 6.5, 2)]
    st = self_times(spans)
    assert st == {0: 10.0 - 2.0 - 4.0, 1: 2.0, 2: 4.0 - 1.5, 3: 1.5}
    # every instant of the root is charged to exactly one span
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, "p", 0.0, 10.0),
             _span(1, "a", 1.0, 5.0, 0),
             _span(2, "b", 4.0, 7.0, 0),
             # a child reaching past its parent is clipped to the parent
             _span(3, "c", 9.0, 12.0, 0)]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_tracer_records_nesting():
    t = Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert (outer["parent"], inner["parent"]) == (None, outer["id"])
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def test_result_hash_ignores_row_order_and_numeric_type():
    a = pd.DataFrame({"k": [2, 1], "v": [0.5, 3.0]})
    b = pd.DataFrame({"v": [3, 0.5], "k": [1.0, 2.0]})
    assert result_hash(a) == result_hash(b)
    assert result_hash(a) != result_hash(a.assign(v=[0.5, 3.0000001]))


@pytest.mark.parametrize("workload", ["frontier_rounds", "crawl_fixture",
                                      "corpus_refine"])
def test_tiny_run_passes_gates(workload):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--scale", "tiny", "--trace", "0"],
        capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(res["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload,layers,recorded", [
    ("frontier_rounds", ("seen.filter_new", "seen.add", "tables.commit"),
     True),
    # without an untraced record the run measures an untraced operation
    # itself before the traced one
    ("corpus_refine", ("warc.records", "dedup.minhash_lsh"), False),
])
def test_tiny_traced_run_accounts_for_unit_wall(workload, layers, recorded):
    record = os.path.join(os.path.dirname(HERE), ".perfbench_work",
                          "untraced-walls", f"{workload}-tiny.json")
    if not recorded and os.path.exists(record):
        os.remove(record)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "5", "--seconds", "1", "--scale", "tiny",
         "--trace", "1"],
        capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    m = {k: v["value"] for k, v in
         json.loads(out.stdout.strip().splitlines()[-1])["metrics"].items()}
    assert all(m[f"{name}.self_s"] > 0 for name in layers)
    # layer self times plus the unattributed remainder are the unit wall
    total = sum(v for k, v in m.items()
                if k.endswith(".self_s") or k.endswith(".unattributed_s"))
    assert total == pytest.approx(m["trace.op_wall_s"], rel=1e-3)
