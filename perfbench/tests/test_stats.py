"""Unit tests for the benchmark's bookkeeping (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re

import pytest

from perfbench.collector import _count_node, parse_sql_metric
from perfbench.stats import (
    Outcomes, Span, check_metric_name, idle_time, latency_summary, percentile,
    self_times, tail_percentile,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span(1, None, 1, "op", 0.0, 10.0),
        Span(2, 1, 1, "build", 0.0, 2.0),
        Span(3, 1, 1, "exec", 3.0, 9.0),
        Span(4, 3, 1, "qa", 4.0, 5.0),
        Span(5, 3, 1, "qa", 4.5, 6.0),  # overlaps its sibling
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(2.0)  # 10 - (2 + 6)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(4.0)  # 6 - union(4..6)
    assert st[4] == pytest.approx(1.0)


def test_self_time_clips_children_to_the_parent():
    spans = [Span(1, None, 1, "op", 0.0, 1.0), Span(2, 1, 1, "exec", 0.5, 3.0)]
    assert self_times(spans)[1] == pytest.approx(0.5)


def test_idle_time_is_wall_minus_union_of_busy_intervals():
    assert idle_time((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0)]) == pytest.approx(5.0)
    assert idle_time((0.0, 1.0), []) == pytest.approx(1.0)


def test_tail_percentile_keeps_ten_samples_beyond_it():
    assert tail_percentile(1000) == pytest.approx(99.0)
    assert tail_percentile(100) == pytest.approx(90.0)
    assert tail_percentile(40) == pytest.approx(75.0)
    # too few samples for a tail: the rule falls back to the median
    assert tail_percentile(18) == 50.0
    assert tail_percentile(1) == 50.0
    with pytest.raises(ValueError):
        tail_percentile(0)


def test_latency_summary_reports_percentile_and_count():
    lat = [float(i) for i in range(1, 101)]
    s = latency_summary(lat)
    assert s["n"] == 100 and s["tail_pct"] == pytest.approx(90.0)
    assert s["p50"] == pytest.approx(50.5)
    assert s["tail"] == pytest.approx(percentile(lat, 90.0))
    assert sum(x > s["tail"] for x in lat) >= 10


def test_percentile_interpolates():
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == pytest.approx(2.5)
    assert percentile([5.0], 99) == 5.0


def test_failures_count_raises_and_wrong_results_against_attempts():
    o = Outcomes()
    o.record("q1", None)
    o.record("q2", "value-hash mismatch")
    o.record("q3", "raised RuntimeError: boom")
    o.record("q1", None)
    assert (o.attempted, o.failed) == (4, 2)
    assert o.failed_frac == pytest.approx(0.5)
    assert o.failures == ["q2: value-hash mismatch", "q3: raised RuntimeError: boom"]
    assert Outcomes().failed_frac == 0.0


@pytest.mark.parametrize("name", ["setup_s", "spark.idle_s", "plan.python_nodes",
                                  "latency_tail.pct", "9lives", "a-b_c.d"])
def test_metric_names_follow_the_grammar(name):
    assert check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", ".x", "_x", "a b", "a/b", "x" * 65, "é"])
def test_bad_metric_names_are_refused(name):
    with pytest.raises(ValueError):
        check_metric_name(name)


def test_benchmark_json_names_every_metric_the_runner_prints():
    from perfbench.run import END_TO_END, PER_LAYER, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # query_mix runs by hand but is not listed
    assert [w["name"] for w in spec["workloads"]] == [
        w for w in WORKLOADS if w != "query_mix"
    ]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", m["name"])


@pytest.mark.parametrize("text,value", [
    ("1,234", 1234.0),
    ("803.0 B", 803.0),
    ("1018.0 KiB", 1018.0 * 1024),
    ("2.8 MiB", 2.8 * 2**20),
    ("429 ms", 0.429),
    ("1.8 s", 1.8),
    ("total (min, med, max (stageId: taskId))\n1476.0 B (738.0 B, 738.0 B, 738.0 B (stage 5.0: task 3))", 1476.0),
    ("total (min, med, max (stageId: taskId))\n3.4 s (1 ms, 2 ms, 3 s (stage 2.0: task 7))", 3.4),
])
def test_sql_metric_strings_parse_to_base_units(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


def test_plan_nodes_are_counted_by_kind():
    keys = ("plan.exchanges", "plan.sort_merge_joins", "plan.broadcast_joins",
            "plan.cartesian", "plan.single_partition", "plan.python_nodes",
            "aqe.coalesced_reads", "aqe.single_partition_reads", "python.eval_s",
            "python.boot_s", "python.bytes_sent", "python.bytes_received")
    out = dict.fromkeys(keys, 0.0)
    _count_node(out, "Exchange", "Exchange SinglePartition, ENSURE_REQUIREMENTS", {})
    _count_node(out, "AQEShuffleRead", "AQEShuffleRead coalesced",
                {"number of partitions": 1.0})
    _count_node(out, "ArrowEvalPython", "ArrowEvalPython [f(x)]",
                {"time to run Python workers": 0.5, "time to start Python workers": None,
                 "data sent to Python workers": 100.0})
    _count_node(out, "BroadcastHashJoin", "", {})
    assert out["plan.exchanges"] == 1 and out["plan.single_partition"] == 1
    assert out["aqe.coalesced_reads"] == 1 and out["aqe.single_partition_reads"] == 1
    assert out["plan.python_nodes"] == 1 and out["plan.broadcast_joins"] == 1
    assert out["python.eval_s"] == 0.5 and out["python.boot_s"] == 0.0
    assert out["python.bytes_sent"] == 100.0
