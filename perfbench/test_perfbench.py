"""Self-tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import spans  # noqa: E402


def _write_all(seed: int, out: str) -> dict[str, bytes]:
    rng = np.random.default_rng(seed)
    tables = {"events": gen.events(rng), "documents": gen.documents(rng),
              "embeddings": gen.embeddings(rng), **gen.star(rng)}
    gen.write_tables(tables, out)
    return {n: open(os.path.join(out, f"{n}.parquet"), "rb").read()
            for n in tables}


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    b = _write_all(7, str(tmp_path / "b"))
    c = _write_all(8, str(tmp_path / "c"))
    assert a == b
    # every table that draws from the generator differs; nation and region
    # are fixed catalogs
    assert {n for n in a if a[n] != c[n]} == set(a) - {"nation", "region"}


def test_slices_keep_time_order_in_mtime_order(tmp_path):
    ev = gen.events(np.random.default_rng(1), n=1000)
    paths = gen.write_slices(ev, str(tmp_path / "s"), 4)
    mtimes = [os.stat(p).st_mtime for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4


@pytest.mark.parametrize("n, pct", [(19, None), (20, 50), (39, 50),
                                    (40, 75), (100, 90), (200, 95),
                                    (1000, 99)])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    samples = [float(i) for i in range(n)]
    got = spans.tail_percentile(samples)
    if pct is None:
        assert got is None
        return
    p, value = got
    assert p == pct
    assert sum(1 for s in samples if s > value) >= 10


def test_busy_is_union_of_overlapping_jobs_and_at_most_wall():
    assert spans.union_ms([(0, 10), (5, 15), (20, 25), (21, 22)]) == 20
    op = spans.Span("op", 0.0, 100.0)
    jobs = [spans.Job(1, 10, 60, [], 1), spans.Job(2, 20, 40, [], 1),
            spans.Job(3, 50, 130, [], 1),  # runs past the span's end
            spans.Job(4, 150, 160, [], 1)]  # outside the span
    m = layers.spark_metrics([op], jobs, {})
    assert m["jobs"] == 3
    assert m["busy_ms"] == 90  # [10, 100) once, though jobs overlap
    assert m["busy_ms"] <= op.dur_ms
    assert m["driver_gap_ms"] == 10
    assert spans.busy_ms([op], jobs) == m["busy_ms"]


def test_self_time_subtracts_child_coverage_on_nested_spans():
    t = spans.Tracer(True)
    parent = spans.Span("p", 0.0, 100.0)
    kids = [spans.Span("a", 10.0, 30.0), spans.Span("b", 20.0, 50.0),
            spans.Span("c", 60.0, 70.0), spans.Span("d", 95.0, 120.0)]
    assert spans.self_ms(parent, kids) == 100 - (40 + 10 + 5)
    # recorded spans nest through the tracer's stack
    with t.op("op"):
        with t.span("child"):
            with t.span("grandchild"):
                pass
    op, child, grand = t.spans
    assert child.parent == op.sid and grand.parent == child.sid
    assert t.children(op) == [child]
    assert spans.self_ms(child, t.children(child)) <= child.dur_ms


def test_tracer_counts_only_the_spans_tracing_adds():
    off = spans.Tracer(False)
    with off.op("op"):
        with off.span("child") as sp:
            assert sp is None
    assert [s.name for s in off.spans] == ["op"] and off.own_s == 0
    on = spans.Tracer(True)
    with on.op("op"):
        with on.span("child"):
            pass
    assert [s.name for s in on.spans] == ["op", "child"] and on.own_s > 0


def test_benchmark_json_lists_what_the_run_prints():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    import run

    assert {m["name"] for m in bench["end_to_end"]} == set(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        layers.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
