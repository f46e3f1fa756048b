"""Tests of the benchmark's pure helpers; no Spark session needed.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench.stats import (
    NAME_RE,
    Span,
    beyond,
    check_metrics,
    covered,
    percentile,
    python_nodes,
    reduce_event_log,
    seeded_order,
    self_time_by_name,
    self_times,
    tail,
    tail_percentile,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- tail rule ---------------------------------------------------------------


def test_percentile_nearest_rank():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(vals, 50) == 3.0
    assert percentile(vals, 100) == 5.0
    assert percentile(vals, 1) == 1.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, p",
    [(10, 100.0), (24, 100.0), (25, 60.0), (39, 60.0), (40, 75.0), (50, 80.0),
     (100, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_percentile_keeps_ten_beyond(n, p):
    assert tail_percentile(n) == p
    if p < 100:
        assert beyond(n, p) >= 10


def test_tail_never_equals_median_rank_with_enough_samples():
    vals = [float(i) for i in range(1, 31)]
    p, v = tail(vals)
    assert p == 60.0 and v == 18.0
    assert v > percentile(vals, 50)


def test_tail_of_small_sample_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (100.0, 3.0)


# -- seed → order --------------------------------------------------------------


def test_seeded_order_is_a_deterministic_permutation():
    names = [f"q{i}" for i in range(8)]
    a = seeded_order(names, 7, 0)
    assert sorted(a) == sorted(names)
    assert a == seeded_order(names, 7, 0)
    assert a == seeded_order(tuple(names), 7, 0)


def test_seeded_order_varies_with_seed_and_pass():
    names = [f"q{i}" for i in range(8)]
    orders = {tuple(seeded_order(names, s, p)) for s in range(5) for p in range(3)}
    assert len(orders) > 10


def test_seeded_order_is_pinned():
    # the same seed must give the same inputs on every host and Python build
    assert seeded_order(["a", "b", "c", "d"], 1, 0) == ["c", "a", "b", "d"]


# -- metric-name grammar -------------------------------------------------------


@pytest.mark.parametrize("name", ["pass_s", "operators.run_ms", "9lives", "a-b.c_d"])
def test_name_grammar_accepts(name):
    assert NAME_RE.match(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65])
def test_name_grammar_rejects(name):
    assert not NAME_RE.match(name)


def test_benchmark_json_names_follow_the_grammar():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME_RE.match(n) for n in names)
    assert "setup_s" in {m["name"] for m in spec["end_to_end"]}
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    for key in ("end_to_end", "per_layer"):
        metrics = {m["name"]: {"value": 1.0, "unit": m["unit"]} for m in spec[key]}
        check_metrics(metrics, spec[key])


def test_check_metrics_rejects_missing_extra_and_bad_values():
    spec = [{"name": "pass_s", "unit": "s"}, {"name": "ok_frac", "unit": "ratio"}]
    good = {"pass_s": {"value": 1.5, "unit": "s"}, "ok_frac": {"value": 1, "unit": "ratio"}}
    check_metrics(good, spec)
    with pytest.raises(ValueError, match="missing"):
        check_metrics({"pass_s": good["pass_s"]}, spec)
    with pytest.raises(ValueError, match="extra"):
        check_metrics(dict(good, x={"value": 1, "unit": "s"}), spec)
    with pytest.raises(ValueError, match="unit"):
        check_metrics(dict(good, pass_s={"value": 1.5, "unit": "ms"}), spec)
    with pytest.raises(ValueError, match="finite"):
        check_metrics(dict(good, pass_s={"value": float("nan"), "unit": "s"}), spec)
    with pytest.raises(ValueError, match="bad metric name"):
        check_metrics({}, [{"name": "bad name", "unit": "s"}])


# -- plan operators that cross into Python -----------------------------------


def test_python_nodes_counts_operator_lines_only():
    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=false",
        "+- Sort [l_returnflag#8 ASC NULLS FIRST], true, 0",
        "   +- !ArrowAggregatePython [l_returnflag#8], [gmean(x#5)#11]",
        "      :- *(2) FlatMapGroupsInPandasWithState f(k#1), [k#1]",
        "      +- Project [pythonUDF0#3 AS y#4, MapInArrowish#9]",
        "         +- ArrowEvalPython [f(x#5)#7], [pythonUDF0#3], 200",
    ])
    assert python_nodes(plan) == 3
    assert python_nodes("Project [a#1]\n+- FileScan parquet [a#1]") == 0


# -- event-log reducer ---------------------------------------------------------


def _line(ev: dict) -> str:
    return json.dumps(ev, separators=(",", ":"))


def _task(stage: int, run_ms: int, cpu_ns: int, **extra) -> str:
    metrics = {
        "Executor Run Time": run_ms,
        "Executor CPU Time": cpu_ns,
        "JVM GC Time": extra.get("gc", 0),
        "Disk Bytes Spilled": extra.get("spill", 0),
        "Shuffle Write Metrics": {"Shuffle Bytes Written": extra.get("shuffle", 0)},
        "Input Metrics": {"Bytes Read": extra.get("in_bytes", 0),
                          "Records Read": extra.get("in_rows", 0)},
    }
    return _line({"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": metrics})


SYNTHETIC_LOG = [
    _line({"Event": "SparkListenerLogStart", "Spark Version": "4.1.0"}),
    _line({"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
           "Properties": {"spark.jobGroup.id": "p0q0/exec"}}),
    _task(0, 100, 50_000_000, gc=3, in_bytes=1000, in_rows=10),
    _task(0, 120, 60_000_000, in_bytes=500, in_rows=5),
    _task(1, 30, 10_000_000, shuffle=4096, spill=128),
    # a later job reusing stage 1 keeps it in the first job's group
    _line({"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
           "Properties": {"spark.jobGroup.id": "run-uuid-1"}}),
    _task(2, 7, 1_000_000),
    # ungrouped job: dropped
    _line({"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}}),
    _task(3, 999, 999),
    # a task end without metrics (killed task) is skipped
    _line({"Event": "SparkListenerTaskEnd", "Stage ID": 0}),
    _line({"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
           "physicalPlanDescription": "x" * 1000}),
]


def test_reduce_event_log_sums_per_job_group():
    sums = reduce_event_log(SYNTHETIC_LOG)
    assert set(sums) == {"p0q0/exec", "run-uuid-1"}
    g = sums["p0q0/exec"]
    assert g["tasks"] == 3
    assert g["run_ms"] == 250
    assert g["cpu_ms"] == pytest.approx(120.0)
    assert g["gc_ms"] == 3
    assert g["shuffle_write_bytes"] == 4096
    assert g["spill_bytes"] == 128
    assert (g["input_bytes"], g["input_records"]) == (1500, 15)
    assert sums["run-uuid-1"]["tasks"] == 1 and sums["run-uuid-1"]["run_ms"] == 7


def test_reduce_event_log_of_empty_log():
    assert reduce_event_log([]) == {}


# -- spans and self time -------------------------------------------------------


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == 5
    assert covered(0, 10, [(-5, 2), (9, 20)]) == 3
    assert covered(0, 10, [(4, 4), (12, 15)]) == 0


def test_self_times_subtract_children_once():
    spans = [
        Span(1, None, "pass", "", 0.0, 10.0),
        Span(2, 1, "query", "p0q0", 0.0, 6.0),
        Span(3, 2, "build", "p0q0", 0.0, 4.0),
        Span(4, 2, "execute", "p0q0", 4.5, 6.0),
        Span(5, 2, "batch", "p0q0", 1.0, 3.0),  # inside build: counted once
        Span(6, 1, "query", "p0q1", 7.0, 9.0),
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(2.0)
    assert own[2] == pytest.approx(0.5)
    assert own[3] == pytest.approx(4.0)
    assert own[6] == pytest.approx(2.0)
    by_name = self_time_by_name(spans)
    assert by_name["query"] == pytest.approx(2.5)
    assert by_name["batch"] == pytest.approx(2.0)
