"""Pure helpers of the benchmark: percentiles and the tail rule, the
seed-to-order permutation, the metric-name grammar, the Python-operator
count of a plan, the Spark event-log reducer and span self time.  Nothing here imports Spark, so the tests in
``perfbench/tests`` run without a session.
"""

from __future__ import annotations

import json
import math
import random
import re
from collections.abc import Iterable, Mapping, Sequence
from dataclasses import dataclass

# Percentiles the tail rule may pick, highest first.  A fixed ladder keeps
# the reported percentile the same across runs whose sample counts differ
# by a few executions.
TAIL_LADDER = (99.0, 95.0, 90.0, 80.0, 75.0, 60.0)
TAIL_MIN_BEYOND = 10

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p``-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> float:
    """The highest ladder percentile with at least ``min_beyond`` samples
    beyond it.  When no ladder rung qualifies (fewer than 25 samples for
    p60) the tail is the maximum, reported as p100 so the caller prints
    that the sample was too small for a ranked tail."""
    for p in TAIL_LADDER:
        if beyond(n, p) >= min_beyond:
            return p
    return 100.0


def tail(values: Sequence[float]) -> tuple[float, float]:
    """(percentile used, its value) under :func:`tail_percentile`."""
    p = tail_percentile(len(values))
    return p, percentile(values, p)


def seeded_order(names: Sequence[str], seed: int, pass_index: int) -> list[str]:
    """The query order of one pass: a permutation of ``names`` that depends
    only on (seed, pass index).  String seeds hash with SHA-512 inside
    :class:`random.Random`, so the order repeats across processes and
    Python builds."""
    rng = random.Random(f"perfbench/{seed}/{pass_index}")
    return rng.sample(list(names), len(names))


# A plan line whose operator crosses into Python: ArrowEvalPython,
# ArrowAggregatePython, FlatMapGroupsInPandasWithState, MapInArrow, ...
# The tree printer may prefix a node with "!" and a codegen stage "*(n)".
_PYTHON_NODE = re.compile(r"^[\s:|+\-*()\d!]*\w*(?:Python|InPandas|InArrow)\w*\b", re.M)


def python_nodes(plan_text: str) -> int:
    """Number of plan operators that cross into Python workers."""
    return len(_PYTHON_NODE.findall(plan_text))


def check_metrics(
    metrics: Mapping[str, Mapping[str, object]], spec: Sequence[Mapping[str, str]]
) -> None:
    """Raise ValueError unless ``metrics`` reports exactly the names of
    ``spec``, each with its unit and a finite number, and every name and
    unit follows the grammar."""
    want = {m["name"]: m["unit"] for m in spec}
    if len(want) != len(spec):
        raise ValueError("duplicate metric name in spec")
    for name, unit in want.items():
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
        if not UNIT_RE.match(unit):
            raise ValueError(f"bad unit {unit!r} for {name}")
    if set(metrics) != set(want):
        raise ValueError(
            f"metrics differ from spec: missing {sorted(set(want) - set(metrics))}, "
            f"extra {sorted(set(metrics) - set(want))}"
        )
    for name, m in metrics.items():
        if m.get("unit") != want[name]:
            raise ValueError(f"{name}: unit {m.get('unit')!r} != {want[name]!r}")
        v = m.get("value")
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"{name}: value {v!r} is not a finite number")


# ---------------------------------------------------------------------------
# Spark event log → per-job-group task sums
# ---------------------------------------------------------------------------

TASK_SUMS = (
    "tasks",
    "run_ms",
    "cpu_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "input_records",
)

_JOB_START = '{"Event":"SparkListenerJobStart"'
_TASK_END = '{"Event":"SparkListenerTaskEnd"'


def reduce_event_log(lines: Iterable[str]) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group over an uncompressed Spark event log.

    A job's group is the ``spark.jobGroup.id`` property of its JobStart
    event; a task belongs to the group of the first job that listed its
    stage.  Tasks of ungrouped jobs are dropped.  Only JobStart and TaskEnd
    lines are parsed; the plan-carrying SQL events, most of the log's
    bytes, are skipped by prefix."""
    stage_group: dict[int, str] = {}
    sums: dict[str, dict[str, float]] = {}
    for line in lines:
        if line.startswith(_JOB_START):
            ev = json.loads(line)
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group)
        elif line.startswith(_TASK_END):
            ev = json.loads(line)
            group = stage_group.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            acc = sums.setdefault(group, dict.fromkeys(TASK_SUMS, 0))
            inp = m.get("Input Metrics") or {}
            acc["tasks"] += 1
            acc["run_ms"] += m.get("Executor Run Time", 0)
            acc["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            acc["gc_ms"] += m.get("JVM GC Time", 0)
            acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            acc["input_bytes"] += inp.get("Bytes Read", 0)
            acc["input_records"] += inp.get("Records Read", 0)
    return sums


# ---------------------------------------------------------------------------
# Spans and self time
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Span:
    span_id: int
    parent_id: int | None
    name: str
    exec_id: str  # shared by every span of one query execution ("" for a pass)
    start: float
    end: float

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals: Iterable[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: Sequence[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.
    Children that overlap each other (a listener batch inside ``build``)
    are counted once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - covered(s.start, s.end, children.get(s.span_id, ()))
        for s in spans
    }


def self_time_by_name(spans: Sequence[Span]) -> dict[str, float]:
    """Summed self time per span name."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + own[s.span_id]
    return out
