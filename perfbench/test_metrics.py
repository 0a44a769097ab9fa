"""Unit tests for the benchmark's own metric code.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

import datagen
from metrics import OpLog, OpRecord, p50, self_times, tail, union_length
from spans import Tracer


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct = tail(xs)
    assert value == 90.0
    assert pct == 90.0
    assert sum(1 for x in xs if x > value) == 10


def test_tail_small_sample_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0]
    value, pct = tail(xs)
    assert value == 2.0  # rank 12 - 10 = 2
    assert pct == pytest.approx(100 * 2 / 12)
    assert sum(1 for x in xs if x > value) == 10


def test_tail_without_enough_samples_reports_max():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_p50():
    assert p50([3.0, 1.0, 2.0, 10.0]) == 2.5


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_nested():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 5.0), _span(2, 1, 3.0, 4.0)]
    st = self_times(spans)
    assert st[0] == pytest.approx(7.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(1.0)
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_overlapping_children():
    # two children on worker threads overlap on [4, 6)
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 6.0), _span(2, 0, 4.0, 8.0)]
    st = self_times(spans)
    # the parent runs alone on [0,2) and [8,10): duration minus the
    # union of its children, not minus their summed durations
    assert st[0] == pytest.approx(10.0 - union_length([(2.0, 6.0), (4.0, 8.0)]))
    assert st[1] == pytest.approx(2.0 + 1.0)
    assert st[2] == pytest.approx(1.0 + 2.0)
    assert sum(st.values()) <= 10.0 + 1e-9


def test_union_length():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_failed_op_share_counts_errors_and_wrong_outputs():
    log = OpLog()
    log.add(OpRecord("query", 0.0, 1.0, True))
    log.add(OpRecord("query", 1.0, 2.5, False, "AssertionError: rows differ"))
    log.add(OpRecord("knn", 2.5, 3.0, False, "DBError: boom"))
    log.add(OpRecord("knn", 3.0, 3.25, True))
    assert log.attempted == 4
    assert log.failed == 2
    assert log.failed_share() == 0.5
    # failed ops take no latency sample but still cost busy time
    assert log.latencies() == [1.0, 0.25]
    assert log.latencies(("knn",)) == [0.25]
    assert log.busy_s() == pytest.approx(3.25)


def test_failed_op_share_empty():
    assert OpLog().failed_share() == 0.0


def test_tracer_spans_nest_and_patch_restores():
    import types

    mod = types.ModuleType("locopy_spark_fake")

    def inner(x):
        return x + 1

    def outer(x):
        return mod.inner(x) * 2

    mod.inner, mod.outer = inner, outer
    tr = Tracer()
    tr.patch_function(mod, "inner", "fake.inner")
    tr.patch_function(mod, "outer", "fake.outer")
    op = tr.start_op(1, "test")
    assert mod.outer(1) == 4
    tr.end_op(op)
    tr.unpatch()
    assert mod.inner is inner and mod.outer is outer
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["fake.inner"]["parent"] == by_name["fake.outer"]["id"]
    assert by_name["fake.outer"]["parent"] == by_name["op.test"]["id"]
    assert all(s["op"] == 1 for s in tr.spans)
    assert tr.self_sum_excess() <= 1e-9
    m = tr.layer_metrics(in_ops=True)
    assert m["fake.inner.calls"] == 1.0
    assert tr.layer_metrics(in_ops=False) == {}


def test_inputs_repeat_for_a_seed():
    a = datagen.star_tables(3, 500)
    b = datagen.star_tables(3, 500)
    for name in a:
        assert a[name].equals(b[name])
    assert not datagen.star_tables(4, 500)["lineitem"].equals(a["lineitem"])
    d1, p1 = datagen.documents(3, 200, 4)
    d2, p2 = datagen.documents(3, 200, 4)
    assert d1.equals(d2) and p1 == p2
    assert all(lo % 4 == hi % 4 for lo, hi in p1)


def test_benchmark_json_names_are_unique():
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])


def test_frames_compare_order_insensitive_with_ulp_tolerance():
    import pandas as pd

    from check import assert_frames_equal

    a = pd.DataFrame({"K": [2, 1], "v": [0.9052023238146979, 1.5]})
    b = pd.DataFrame({"k": [1, 2], "v": [1.5, 0.9052023238146977]})
    assert_frames_equal(a, b)
    with pytest.raises(AssertionError):
        assert_frames_equal(a, b.assign(v=[1.5, 0.9052]))
    with pytest.raises(AssertionError):
        assert_frames_equal(a, b.iloc[:1])
