"""Tests of the benchmark's own helpers; no Spark session needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pytest  # noqa: E402

from batch import query_order  # noqa: E402
from engine import plan_shape  # noqa: E402
from spans import Tracer, result_hash, tail_percentile  # noqa: E402
from stream import write_tape  # noqa: E402


def test_tail_percentile_leaves_ten_samples_beyond():
    xs = list(range(1, 41))  # 40 samples: the 30th smallest has 10 above it
    pct, v = tail_percentile(xs)
    assert (pct, v) == (75.0, 30)
    assert sum(x > v for x in xs) == 10
    pct, v = tail_percentile(list(reversed(range(1, 101))))
    assert (pct, v) == (90.0, 90)


def test_tail_percentile_with_too_few_samples_is_the_maximum():
    assert tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0)
    assert tail_percentile([float(i) for i in range(10)]) == (100.0, 9.0)
    assert tail_percentile([float(i) for i in range(11)]) == (100.0 / 11, 0.0)
    with pytest.raises(ValueError):
        tail_percentile([])


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_nested_catalog_spans():
    clock = FakeClock()
    tr = Tracer("run", clock=clock)
    with tr.span("queries.build") as build:
        clock.t = 1.0
        with tr.span("catalog.load_table"):
            clock.t = 1.5
        clock.t = 2.0
        with tr.span("catalog.load_table"):
            clock.t = 2.25
        clock.t = 4.0
    assert tr.self_time(build) == pytest.approx(4.0 - 0.5 - 0.25)
    tot = tr.totals()
    assert tot["queries.build"]["total_s"] == pytest.approx(4.0)
    assert tot["catalog.load_table"]["calls"] == 2
    assert tot["catalog.load_table"]["self_s"] == pytest.approx(0.75)


def test_self_time_counts_overlapping_children_once():
    tr = Tracer("run")
    tr.spans = [
        {"id": 0, "name": "p", "parent": None, "start": 0.0, "end": 10.0, "counts": {}},
        {"id": 1, "name": "c", "parent": 0, "start": 1.0, "end": 4.0, "counts": {}},
        {"id": 2, "name": "c", "parent": 0, "start": 3.0, "end": 6.0, "counts": {}},
        {"id": 3, "name": "g", "parent": 1, "start": 1.0, "end": 2.0, "counts": {}},
    ]
    assert tr.self_time(tr.spans[0]) == pytest.approx(5.0)
    assert tr.self_time(tr.spans[1]) == pytest.approx(2.0)
    assert [s["id"] for s in tr.descendants(tr.spans[1])] == [1, 3]


def test_span_records_parent_and_run_id():
    tr = Tracer("r7")
    with tr.span("pass") as outer:
        with tr.span("query", query="q") as inner:
            inner["counts"]["jobs"] = 3
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert {s["run_id"] for s in tr.spans} == {"r7"}
    assert tr.totals()["query"]["counts"] == {"jobs": 3}


def test_result_hash_ignores_row_order_but_not_content():
    rows = [(1, "a", 2.5), (2, "b", None), (1, "a", 2.5)]
    assert result_hash(rows) == result_hash(list(reversed(rows)))
    assert result_hash(rows) != result_hash(rows[:2])  # duplicates count
    assert result_hash(rows) != result_hash([(1, "a", 2.5), (2, "b", 0.0), (1, "a", 2.5)])
    # summation-order noise in the last bits does not change the hash
    assert result_hash([(0.1 + 0.2,)]) == result_hash([(0.3,)])
    assert result_hash([(-0.0,)]) == result_hash([(0.0,)])


def test_fixed_seed_gives_identical_query_order_and_tape(tmp_path):
    assert query_order("batch_head", 5) == query_order("batch_head", 5)
    orders = {tuple(query_order("batch_head", s)) for s in range(20)}
    assert len(orders) > 1

    from run import SF_DIR

    events = os.path.join(SF_DIR, "events.parquet")
    a = write_tape(events, str(tmp_path / "a"), seed=11, n_files=3)
    b = write_tape(events, str(tmp_path / "b"), seed=11, n_files=3)
    c = write_tape(events, str(tmp_path / "c"), seed=12, n_files=3)
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))
    assert not all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, c))


def test_plan_shape_counts_exchanges_and_python_nodes():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[k#1L], functions=[count(1)])
   +- Exchange hashpartitioning(k#1L, 8), ENSURE_REQUIREMENTS, [plan_id=15]
      +- FlatMapGroupsInPandas [k#1L], f(k#1L)
         :- BroadcastExchange HashedRelationBroadcastMode
         +- ArrowEvalPython [udf(x#2)], [pythonUDF0#9]
            +- Project [(id#0L % 7) AS k#1L]"""
    assert plan_shape(plan) == {"exchanges": 2, "python_nodes": 2}


def test_compare_refuses_results_of_other_cpus_or_sf():
    from compare import compare

    def result(cpus, sf, value):
        meta = {"cpus": cpus, "sf": sf, "workload": "batch_head", "trace": 0}
        return {"summary": {"meta": meta},
                "result": {"metrics": {"pass_jobs": {"value": value, "unit": "count"}}}}

    assert "2.000x" in compare(result(4, 0.01, 1.0), result(4, 0.01, 2.0))[0]
    with pytest.raises(ValueError, match="cpus"):
        compare(result(4, 0.01, 1.0), result(8, 0.01, 1.0))
    with pytest.raises(ValueError, match="sf"):
        compare(result(4, 0.01, 1.0), result(4, 0.1, 1.0))


def test_reported_units_match_benchmark_json():
    import json

    from run import ROOT, unit_of

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert unit_of(m["name"]) == m["unit"], m["name"]
