"""Per-layer figures of a traced run.

Every figure is a median over the steady passes of that pass's sum.
``table`` holds the full breakdown, in seconds, per layer operation;
``metrics`` holds the ones the benchmark tracks, chosen so that every
time in it is measured on every workload: workload-specific layers are
reported as their share of the traced pass time (a layer a workload
never calls has share 0), while ``table`` gives their seconds.
"""

from __future__ import annotations

import os
import statistics

import numpy as np

from perfbench.trace import attribute, read_event_logs

# the spans the benchmark records around engine calls, one per layer operation
OPS = (
    "queries.plan",
    "queries.execute",
    "sources.collect",
    "operators.upsert",
    "store.append",
    "store.read",
    "store.probe",
    "store.compact",
    "store.expire",
    "store.sync",
)


def pct(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]; 0 for no values."""
    return float(np.percentile(values, q)) if len(values) else 0.0


def compute(tracer, wl, passes, space_amp: float, run_dir: str) -> tuple[dict, dict]:
    """Return (metrics, table), each {name: (value, unit)}."""
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    figs = attribute(tracer.spans, read_event_logs(os.path.join(run_dir, "eventlog")))
    steady = list(range(1, len(passes))) or [0]
    by_pass = {p: [s for s in tracer.spans if s.pass_no == p] for p in steady}

    def med(fn, names=None) -> float:
        """Median over steady passes of sum(fn(span)) over the spans
        named in ``names`` (all spans when None)."""
        return float(statistics.median(
            sum(fn(s) for s in spans if names is None or s.name in names)
            for spans in by_pass.values()
        ))

    def wall(s):
        return s.t1 - s.t0

    def fig(key):
        return lambda s: figs[id(s)][key]

    setup = [s for s in tracer.spans if s.pass_no == -1]
    loads = [s for s in setup if s.name == "session.load_table"]
    pass_s = float(statistics.median(passes[p][0] for p in steady))
    spans_s = med(wall)
    run_s, job_wall = med(fig("run_s")), med(wall)

    m: dict = {
        "session.get_spark_s": (sum(wall(s) for s in setup if s.name == "session.get_spark"), "s"),
        "session.load_table_s": (sum(map(wall, loads)), "s"),
        "session.load_table_calls": (len(loads), "count"),
        "driver.py4j_calls": (med(lambda s: s.py4j), "count"),
        "driver.gap_s": (med(fig("gap_s")), "s"),
        "queries.py4j_calls": (med(lambda s: s.py4j, {"queries.plan", "queries.execute"}), "count"),
        "queries.plan_jobs": (med(fig("jobs"), {"queries.plan"}), "count"),
        "spark.jobs": (med(fig("jobs")), "count"),
        "spark.stages": (med(fig("stages")), "count"),
        "spark.tasks": (med(fig("tasks")), "count"),
        "spark.job_busy_s": (med(fig("job_s")), "s"),
        "executor.run_s": (run_s, "s"),
        "executor.cpu_s": (med(fig("cpu_s")), "s"),
        "executor.busy_frac": (run_s / (job_wall * cpus) if job_wall else 0.0, "ratio"),
        "executor.shuffle_mb": (med(fig("shuffle_mb")), "MB"),
        "executor.spill_mb": (med(fig("spill_mb")), "MB"),
        "executor.gc_s": (med(fig("gc_s")), "s"),
        "functions.python_stage_share": (
            med(fig("python_s")) / run_s if run_s else 0.0, "ratio"),
    }
    for op in OPS:
        m[f"{op}_share"] = (med(wall, {op}) / pass_s if pass_s else 0.0, "ratio")
    for op in OPS[4:]:
        m[f"{op}_jobs"] = (med(fig("jobs"), {op}), "count")
    m["store.space_amp"] = (space_amp, "ratio")
    m["trace.pass_s"] = (pass_s, "s")
    m["trace.loop_overhead_s"] = (max(0.0, pass_s - spans_s), "s")

    t: dict = {}
    for op in OPS:
        t[f"{op}_s"] = (med(wall, {op}), "s")
        t[f"{op}_jobs"] = (med(fig("jobs"), {op}), "count")
        t[f"{op}_driver_gap_s"] = (med(fig("gap_s"), {op}), "s")
        t[f"{op}_py4j_calls"] = (med(lambda s: s.py4j, {op}), "count")
        if op.startswith("store."):
            t[f"{op}_bytes_added"] = (med(lambda s: s.bytes_added, {op}), "bytes")
    # store_ingest alone records streaming progress and store latencies
    stream = [(p, d) for p, d in getattr(wl, "streaming", []) if p in by_pass]

    def stream_s(key):
        return float(statistics.median(
            sum(d.get(key, 0) for q, d in stream if q == p) / 1e3 for p in by_pass))

    add = stream_s("addBatch")
    t["streaming.add_batch_s"] = (add, "s")
    t["streaming.wal_commit_s"] = (stream_s("walCommit"), "s")
    t["streaming.overhead_s"] = (max(0.0, stream_s("triggerExecution") - add), "s")
    for kind in ("append", "probe"):
        lat = [x for p, x in getattr(wl, f"{kind}_s", []) if p in by_pass]
        t[f"store.{kind}_p50_s"] = (pct(lat, 50), "s")
        t[f"store.{kind}_p90_s"] = (pct(lat, 90), "s")
    t["functions.python_stage_s"] = (med(fig("python_s")), "s")
    t["trace.span_s"] = (spans_s, "s")
    return m, t
