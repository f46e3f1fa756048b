"""Measurement from outside the program: a span recorder, a streaming
listener, job counts from Spark's StatusTracker, plan counts from
``my_cudf_spark.plans.inspect``, the UDF profiler total and driver RSS.

Everything here wraps calls into public functions or reads Spark's public
status APIs; nothing patches the program.
"""

from __future__ import annotations

import os
import pstats
import shutil
import threading
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.stats import Span, python_nodes


class Tracer:
    """In-memory spans; written out once when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._next = 0

    def new_id(self) -> int:
        self._next += 1
        return self._next

    def add(self, name: str, exec_id: str, start: float, end: float,
            parent_id: int | None, span_id: int | None = None) -> int:
        span_id = span_id if span_id is not None else self.new_id()
        self.spans.append(Span(span_id, parent_id, name, exec_id, start, end))
        return span_id


class StreamProbe(StreamingQueryListener):
    """Collects micro-batch progress of every streaming query, keyed by the
    query execution that was current when the stream started.  Callbacks
    arrive on a py4j thread, so shared state is guarded by a lock."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.current_exec = ""
        self.run_exec: dict[str, str] = {}  # runId → exec id
        self.batches: dict[str, list[dict]] = {}  # exec id → progress rows
        self._open: set[str] = set()

    def onQueryStarted(self, event) -> None:
        rid = str(event.runId)
        with self._lock:
            self.run_exec[rid] = self.current_exec
            self._open.add(rid)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs
        row = {
            "run_id": str(p.runId),
            "start": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "query_planning_ms": d.get("queryPlanning", 0),
            "wal_commit_ms": d.get("walCommit", 0),
            "get_batch_ms": d.get("getBatch", 0),
            "input_rows": p.numInputRows,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_mem_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        }
        with self._lock:
            self.batches.setdefault(self.run_exec.get(row["run_id"], ""), []).append(row)

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._open.discard(str(event.runId))

    def runs_of(self, exec_id: str) -> list[str]:
        with self._lock:
            return [r for r, e in self.run_exec.items() if e == exec_id]

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until every started query's terminated event has arrived;
        progress events travel on the same ordered bus, so all of them are
        in by then."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if not self._open:
                    return
            time.sleep(0.01)


def job_counts(spark, groups: list[str]) -> tuple[int, int, int]:
    """(jobs, stages, tasks) of the given job groups, from StatusTracker.
    Skipped stages are counted as stages but contribute no tasks."""
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            jobs += 1
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
    return jobs, stages, tasks



def plan_counts(df) -> dict[str, int]:
    """Shuffle, broadcast and Python-operator counts of the executed plan,
    plus its printed length."""
    from my_cudf_spark.plans import inspect

    text = inspect.physical_plan(df)
    return {
        "shuffles": inspect.count_shuffles(df),
        "broadcasts": inspect.count_broadcasts(df),
        "python_evals": python_nodes(text),
        "plan_chars": len(text),
    }


def udf_python_s(spark, dump_dir: str) -> float:
    """Total Python time the UDF profiler has collected since the last
    call (``spark.sql.pyspark.udf.profiler=perf``), then clear it."""
    spark.profile.dump(dump_dir, type="perf")
    spark.profile.clear(type="perf")
    total = 0.0
    if os.path.isdir(dump_dir):
        for f in os.listdir(dump_dir):
            total += pstats.Stats(os.path.join(dump_dir, f)).total_tt
        shutil.rmtree(dump_dir)
    return total


def rss_mb(pids: list[int]) -> float:
    """Summed resident set size of ``pids`` in MB, from /proc."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except FileNotFoundError:
            continue
    return total_kb / 1024.0


def memory_tables(spark) -> int:
    """Temporary views in the session catalog (memory sinks register one
    per query name)."""
    return sum(1 for t in spark.catalog.listTables() if t.isTemporary)


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()
