"""Benchmark entry point.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 18 --trace 0

Runs one workload (``perfbench/workloads.py``) on ``local[nproc]`` through
``my_cudf_spark.session.get_spark``, on the fixtures under
``perfbench/data``.  Set-up is the session, the registry import and the
warm-up passes.  The timed part then repeats passes over the workload's
queries for about ``--seconds``; the seed only permutes the query order of
each pass.  Each query is built with ``q.fn(spark, data_dir)`` and forced
to the noop sink (``bench.execute``), with pins released between
executions (``bench.release_pins``).  After timing, every query is checked
once against its DuckDB oracle SQL.

The last stdout line is one JSON object: the BENCHMARK.json ``end_to_end``
metrics with ``--trace 0``, the ``per_layer`` metrics with ``--trace 1``.
Progress, per-pass counters and the trace summary go to stderr; a traced
run also writes its spans to ``perfbench/_run/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.instrument import (  # noqa: E402  (needs ROOT on sys.path)
    StreamProbe,
    Tracer,
    job_counts,
    memory_tables,
    persisted_rdds,
    plan_counts,
    rss_mb,
    udf_python_s,
)
from perfbench.oracle import Oracle  # noqa: E402
from perfbench.stats import (  # noqa: E402
    check_metrics,
    reduce_event_log,
    seeded_order,
    self_time_by_name,
    tail,
)
from perfbench.workloads import WORKLOADS  # noqa: E402

DATA_DIR = os.path.join(HERE, "data", "sf0.01")
RUN_DIR = os.path.join(HERE, "_run")
WARM_PASSES = 3
MIN_PASSES = 4


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def missing_from_checkout() -> list[str]:
    need = ("my_cudf_spark/__init__.py", "bench.py", "BENCHMARK.json", "perfbench/data/sf0.01")
    return [p for p in need if not os.path.exists(os.path.join(ROOT, p))]


def prepare_env(work: str, trace: bool) -> str | None:
    """Keep every scratch file inside ``work``, make the checkout importable
    by Python workers (``applyInPandasWithState`` unpickles repo code), and
    turn the uncompressed event log on for a traced run.  Returns the
    event-log directory, if any.  Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    evdir = None
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{evdir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    # spark-warehouse/ and the derby metastore land in the working directory
    os.chdir(work)
    return evdir


class Workload:
    """One session running one workload: set-up, passes, oracle check."""

    def __init__(self, name: str, seed: int, trace: bool, work: str) -> None:
        self.name, self.seed, self.trace, self.work = name, seed, trace, work
        self.names = WORKLOADS[name]
        self.tracer = Tracer()
        self.probe = StreamProbe() if trace else None
        self.records: list[dict] = []  # one per timed execution
        self.passes: list[dict] = []  # one per timed pass
        self.rss: list[float] = []

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        import bench
        from my_cudf_spark.plans.pin import release_persisted
        from my_cudf_spark.queries import load_registry
        from my_cudf_spark.session import get_spark

        self.execute, self.release_pins, self.release_persisted = (
            bench.execute, bench.release_pins, release_persisted
        )
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.name}", cpus=len(os.sched_getaffinity(0)))
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.registry = load_registry()
        t2 = time.perf_counter()
        if self.probe is not None:
            self.spark.streams.addListener(self.probe)
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        for w in range(WARM_PASSES):
            for i, q in enumerate(self.order(-1 - w)):
                self.run_query(q, f"w{w}q{i}", traced=False)
        t3 = time.perf_counter()
        self.get_spark_s, self.import_s, self.warmup_s = t1 - t0, t2 - t1, t3 - t2
        self.setup_s = t3 - t0
        self.rss.append(self.sample_rss())

    def order(self, pass_index: int) -> list[str]:
        return seeded_order(self.names, self.seed, pass_index)

    def sample_rss(self) -> float:
        return rss_mb([os.getpid(), self.jvm_pid])

    # -- one execution -----------------------------------------------------
    def run_query(self, name: str, exec_id: str, traced: bool, parent: int | None = None) -> dict:
        """Build and execute one query; pins are released afterwards,
        outside the timed region.  Failures are reported, not raised."""
        from my_cudf_spark.plans.inspect import physical_plan

        q = self.registry[name]
        sc = self.spark.sparkContext
        rec = {"exec_id": exec_id, "query": name, "ok": False}
        if self.probe is not None:
            self.probe.current_exec = exec_id
        t0 = t1 = t2 = t3 = time.time()
        try:
            sc.setJobGroup(f"{exec_id}/build", name)
            df = q.fn(self.spark, DATA_DIR)
            t1 = t2 = time.time()
            if traced:
                physical_plan(df)
                t2 = time.time()
                rec.update(plan_counts(df))
            sc.setJobGroup(f"{exec_id}/exec", name)
            self.execute(df)
            t3 = time.time()
            rec["ok"] = True
        except Exception:  # a failing query stays in the workload and is counted
            log(f"{exec_id} {name} failed:\n{traceback.format_exc()}")
        finally:
            sc.setJobGroup("perfbench/idle", "between executions")
        rec.update(build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2,
                   query_s=(t1 - t0) + (t3 - t2), start=t0, end=max(t1, t3))
        rec["pins_released"] = self.release_persisted()
        self.release_pins(self.spark)
        if traced:
            self.trace_query(rec, parent)
        return rec

    def trace_query(self, rec: dict, parent: int | None) -> None:
        x = rec["exec_id"]
        qid = self.tracer.add("query", x, rec["start"], rec["end"], parent)
        b_end = rec["start"] + rec["build_s"]
        bid = self.tracer.add("build", x, rec["start"], b_end, qid)
        self.tracer.add("plan", x, b_end, b_end + rec["plan_s"], qid)
        self.tracer.add("execute", x, rec["end"] - rec["exec_s"], rec["end"], qid)
        self.probe.settle()
        runs = self.probe.runs_of(x)
        rec["run_ids"] = runs
        rec["build_jobs"] = job_counts(self.spark, [f"{x}/build", *runs])[0]
        rec["jobs"], rec["stages"], rec["tasks"] = job_counts(self.spark, [f"{x}/exec"])
        for b in self.probe.batches.get(x, ()):
            self.tracer.add("batch", x, b["start"], b["start"] + b["trigger_ms"] / 1e3, bid)

    # -- passes ------------------------------------------------------------
    def run_pass(self, index: int, traced: bool) -> None:
        pid = self.tracer.new_id()
        if traced:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        t0 = time.time()
        recs = [self.run_query(q, f"p{index}q{i}", traced, pid)
                for i, q in enumerate(self.order(index))]
        t1 = time.time()
        row = {
            "pass": index,
            "traced": traced,
            "pass_s": t1 - t0,
            "pins_released": sum(r["pins_released"] for r in recs),
            "persisted_rdds": persisted_rdds(self.spark),
            "memory_tables": memory_tables(self.spark),
        }
        if traced:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
            row["udf_python_s"] = udf_python_s(self.spark, os.path.join(self.work, "udfprof"))
            self.tracer.add("pass", "", t0, t1, None, span_id=pid)
        for r in recs:
            r["pass"] = index
        self.records.extend(recs)
        self.passes.append(row)
        self.rss.append(self.sample_rss())
        log("pass " + json.dumps(row))

    def timed(self, seconds: float) -> None:
        """At least MIN_PASSES passes, then more until the next one would
        end past ``seconds``.  A traced run alternates untraced and traced
        passes, and runs one more so at least two are traced; the tracing
        overhead is then measured in one session."""
        start = time.perf_counter()
        index = 0
        while True:
            self.run_pass(index, traced=self.trace and index % 2 == 1)
            index += 1
            elapsed = time.perf_counter() - start
            typical = statistics.median(p["pass_s"] for p in self.passes)
            if index >= MIN_PASSES + self.trace and elapsed + typical > seconds:
                break

    # -- output check ------------------------------------------------------
    def check_outputs(self) -> dict[str, str | None]:
        """Each query once against its oracle: None for a match, else why."""
        from my_cudf_spark.sources import TABLES

        oracle = Oracle(DATA_DIR, TABLES)
        sc = self.spark.sparkContext
        verdict: dict[str, str | None] = {}
        try:
            for name in self.names:
                q = self.registry[name]
                sc.setJobGroup(f"oracle/{name}", name)
                if self.probe is not None:  # keep its batches out of the last pass
                    self.probe.current_exec = f"oracle/{name}"
                try:
                    got = q.fn(self.spark, DATA_DIR).toPandas()
                    verdict[name] = oracle.check(got, q.sql) if q.sql else "no oracle SQL"
                except Exception as e:  # reported, never dropped
                    verdict[name] = f"error: {type(e).__name__}: {e}"
                self.release_persisted()
                self.release_pins(self.spark)
        finally:
            oracle.close()
        return verdict

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers) to exit."""
        proc = self.spark.sparkContext._gateway.proc
        gateway = self.spark.sparkContext._gateway
        if self.probe is not None:
            self.spark.streams.removeListener(self.probe)
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def end_to_end(w: Workload, verdict: dict[str, str | None]) -> dict[str, float]:
    times = [r["query_s"] for r in w.records if r["ok"]]
    ok = sum(1 for r in w.records if r["ok"] and verdict[r["query"]] is None)
    p, tail_s = tail(times)
    pass_times = [p_["pass_s"] for p_ in w.passes]
    log(f"query_s_tail is p{p:g} of n={len(times)} executions")
    per_query = {q: statistics.median(r["query_s"] for r in w.records if r["query"] == q and r["ok"])
                 for q in w.names if any(r["ok"] for r in w.records if r["query"] == q)}
    log("median query_s by query: " + json.dumps({q: round(v, 4) for q, v in per_query.items()}))
    log(f"drift first/last pass = {pass_times[0]:.3f}/{pass_times[-1]:.3f} s "
        f"({pass_times[-1] / pass_times[0] - 1:+.1%}) over {len(pass_times)} passes")
    return {
        "setup_s": w.setup_s,
        "pass_s": statistics.median(pass_times),
        "query_s_p50": statistics.median(times),
        "query_s_tail": tail_s,
        "ok_frac": ok / len(w.records),
    }


def per_layer(w: Workload, evsums: dict[str, dict[str, float]]) -> dict[str, float]:
    """Per-pass layer sums over the traced passes, then their median (or the
    last traced pass, for levels that can only grow in a leaking session)."""
    traced = [p for p in w.passes if p["traced"]]
    untraced = [p for p in w.passes if not p["traced"]]
    rows = []
    all_batches = []
    for p in traced:
        recs = [r for r in w.records if r["pass"] == p["pass"]]
        ev_exec = [evsums.get(f"{r['exec_id']}/exec", {}) for r in recs]
        ev_all = ev_exec + [
            evsums.get(g, {}) for r in recs for g in (f"{r['exec_id']}/build", *r.get("run_ids", ()))
        ]
        batches = [b for r in recs for b in w.probe.batches.get(r["exec_id"], ())]
        all_batches += batches
        last = {}
        for b in batches:
            last[b["run_id"]] = b  # final progress of each stream run
        row = {
            "queries.build_s": sum(r["build_s"] for r in recs),
            "queries.build_jobs": sum(r.get("build_jobs", 0) for r in recs),
            "operators.exec_s": sum(r["exec_s"] for r in recs),
            "operators.jobs": sum(r.get("jobs", 0) for r in recs),
            "operators.stages": sum(r.get("stages", 0) for r in recs),
            "operators.tasks": sum(r.get("tasks", 0) for r in recs),
            "operators.run_ms": sum(e.get("run_ms", 0) for e in ev_exec),
            "operators.cpu_ms": sum(e.get("cpu_ms", 0) for e in ev_exec),
            "operators.gc_ms": sum(e.get("gc_ms", 0) for e in ev_exec),
            "operators.shuffle_write_bytes": sum(e.get("shuffle_write_bytes", 0) for e in ev_exec),
            "operators.spill_bytes": sum(e.get("spill_bytes", 0) for e in ev_exec),
            "plans.plan_s": sum(r["plan_s"] for r in recs),
            "plans.shuffles": sum(r.get("shuffles", 0) for r in recs),
            "plans.broadcasts": sum(r.get("broadcasts", 0) for r in recs),
            "plans.python_evals": sum(r.get("python_evals", 0) for r in recs),
            "plans.plan_chars": sum(r.get("plan_chars", 0) for r in recs),
            "plans.pins_released": p["pins_released"],
            "sources.input_bytes": sum(e.get("input_bytes", 0) for e in ev_all),
            "sources.input_records": sum(e.get("input_records", 0) for e in ev_all),
            "streaming.batches": len(batches),
            "streaming.add_batch_ms": sum(b["add_batch_ms"] for b in batches),
            "streaming.query_planning_ms": sum(b["query_planning_ms"] for b in batches),
            "streaming.wal_commit_ms": sum(b["wal_commit_ms"] for b in batches),
            "streaming.get_batch_ms": sum(b["get_batch_ms"] for b in batches),
            "streaming.input_rows": sum(b["input_rows"] for b in batches),
            "streaming.state_rows": sum(b["state_rows"] for b in last.values()),
            "streaming.state_mem_bytes": sum(b["state_mem_bytes"] for b in last.values()),
            "udf.python_s": p["udf_python_s"],
            "trace.pass_s": p["pass_s"],
        }
        row["trace.gap_s"] = row["trace.pass_s"] - row["queries.build_s"] - row["operators.exec_s"]
        rows.append(row)
        log(f"traced pass {p['pass']} " + json.dumps(row))
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    out["plans.persisted_rdds"] = traced[-1]["persisted_rdds"]
    out["streaming.memory_tables"] = traced[-1]["memory_tables"]
    trig = [b["trigger_ms"] / 1e3 for b in all_batches]
    out["streaming.batch_s_p50"] = statistics.median(trig) if trig else 0.0
    out["streaming.batch_s_tail"] = tail(trig)[1] if trig else 0.0
    if trig:
        log(f"streaming.batch_s_tail is p{tail(trig)[0]:g} of n={len(trig)} batches")
    out["streaming.rows_per_s"] = (
        sum(b["input_rows"] for b in all_batches) / sum(trig) if trig and sum(trig) else 0.0
    )
    out["session.get_spark_s"] = w.get_spark_s
    out["driver.rss_mb"] = max(w.rss)
    out["trace.overhead_s"] = out["trace.pass_s"] - statistics.median(p["pass_s"] for p in untraced)
    log(f"tracing overhead {out['trace.overhead_s']:+.3f} s per pass; "
        f"build+exec leaves a gap of {out['trace.gap_s']:.3f} s of {out['trace.pass_s']:.3f} s")
    log("self time by span: " + json.dumps(self_time_by_name(w.tracer.spans)))
    return out


def read_event_log(evdir: str) -> dict[str, dict[str, float]]:
    sums: dict[str, dict[str, float]] = {}
    for f in sorted(os.listdir(evdir)):
        with open(os.path.join(evdir, f)) as fh:
            for g, v in reduce_event_log(fh).items():
                acc = sums.setdefault(g, dict.fromkeys(v, 0))
                for k, x in v.items():
                    acc[k] += x
    return sums


def write_trace(w: Workload, metrics: dict[str, float]) -> None:
    os.makedirs(RUN_DIR, exist_ok=True)
    path = os.path.join(RUN_DIR, f"trace-{w.name}-seed{w.seed}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": w.name,
            "seed": w.seed,
            "spans": [s.__dict__ for s in w.tracer.spans],
            "passes": w.passes,
            "executions": w.records,
            "metrics": metrics,
        }, f, indent=1, default=str)
    log(f"trace written to {os.path.relpath(path, ROOT)}")


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    missing = missing_from_checkout()
    if missing:
        log(f"not a full checkout, missing: {', '.join(missing)}")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(RUN_DIR, f"work-{os.getpid()}")
    evdir = prepare_env(work, bool(args.trace))
    try:
        w = Workload(args.workload, args.seed, bool(args.trace), work)
        w.setup()
        log(f"setup {w.setup_s:.3f} s: get_spark {w.get_spark_s:.3f}, "
            f"registry import {w.import_s:.3f}, warm-up {w.warmup_s:.3f}")
        w.timed(args.seconds)
        verdict = w.check_outputs()
        w.stop()
        for name, why in verdict.items():
            log(f"oracle {name}: {'exact' if why is None else why}")
        if args.trace:
            metrics = per_layer(w, read_event_log(evdir))
            write_trace(w, metrics)
        else:
            metrics = end_to_end(w, verdict)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    units = {m["name"]: m["unit"] for m in spec}
    result = {
        "correct": all(v is None for v in verdict.values()),
        "attempted": len(w.records),
        "failed": sum(1 for r in w.records if not (r["ok"] and verdict[r["query"]] is None)),
        "metrics": {k: {"value": v, "unit": units.get(k, "?")} for k, v in metrics.items()},
    }
    check_metrics(result["metrics"], spec)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
