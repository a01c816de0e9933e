"""One benchmark run inside the environment ``run.py`` prepared.

Usage: python -m perfbench.worker <workload> <seed> <seconds> <trace> <run_dir>

Sets the engine up from cold (the set-up launches the JVM), runs the
workload's passes as a closed loop with one client for about
``seconds`` (first a cold pass, then at least the workload's minimum of
steady passes), checks the outputs, and writes the figures to
``<run_dir>/result.json``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]

from perfbench import datagen  # noqa: E402
from perfbench.layers import compute as compute_layers, pct  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

DATA_SEED = 20240301  # the tables are fixed; --seed drives order and splits


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def set_up(tracer: Tracer, data_dir: str):
    """One cold set-up, as a daily job pays it: get_spark (which launches
    the JVM), one job, and every fixture table.  Returns (spark, seconds)."""
    from chchfr_data_collection_spark.session import TABLES, get_spark, load_table

    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench")
        spark.range(1).count()
    for name in TABLES:
        with tracer.span("session.load_table"):
            load_table(spark, data_dir, name)
    return spark, time.perf_counter() - t0


def make_workload(name, spark, data_dir, tracer, rng, run_dir):
    from perfbench import workloads as W

    if name == "llm_curation":
        oracle_dir = os.path.join(ROOT, ".perfbench_runs", "oracle")
        data_key = f"{DATA_SEED}:{datagen.fingerprint()}"
        return W.CatalogWorkload(
            W.LLM_CURATION, spark, data_dir, tracer, rng, oracle_dir, data_key)
    if name == "store_ingest":
        return W.StoreIngest(spark, data_dir, tracer, rng, run_dir)
    raise SystemExit(f"unknown workload {name!r}")


def main(workload: str, seed: int, seconds: float, traced: bool, run_dir: str) -> int:
    from pyspark import SparkContext

    data_dir = os.path.join(run_dir, "data")
    datagen.generate(data_dir, DATA_SEED)
    tracer = Tracer(traced)
    spark, setup_s = set_up(tracer, data_dir)
    jvm_pid = SparkContext._gateway.proc.pid
    rng = np.random.default_rng(seed)
    wl = make_workload(workload, spark, data_dir, tracer, rng, run_dir)

    passes: list[tuple[float, list[tuple[str, float]]]] = []
    failures: list[str] = []
    attempted = 0
    t_start = time.perf_counter()
    while True:
        tracer.pass_no = len(passes)
        t0 = time.perf_counter()
        try:
            jobs = wl.run_pass()
        except Exception as exc:  # a failed pass ends the loop; it counts
            traceback.print_exc()
            failures.append(f"pass {len(passes)}: {type(exc).__name__}: {exc}"[:500])
            attempted += 1
            break
        passes.append((time.perf_counter() - t0, jobs))
        attempted += len(jobs)
        steady = len(passes) - 1
        if steady >= wl.max_steady:
            break
        if steady >= wl.min_steady and time.perf_counter() - t_start >= seconds:
            break
    measured_s = time.perf_counter() - t_start
    tracer.pass_no = len(passes)

    space_amp = wl.space_amp()
    t_check = time.perf_counter()
    if not failures:
        checked, mismatches = wl.check()
        attempted += checked
        failures += mismatches
    check_s = time.perf_counter() - t_check
    peak_rss = {"python": _vm_hwm_mb(os.getpid()), "jvm": _vm_hwm_mb(jvm_pid)}
    spark.stop()

    steady = passes[1:] or passes
    steady_jobs = [t for _, jobs in steady for _, t in jobs]
    by_name: dict = {}
    for _, jobs in steady:
        for name, t in jobs:
            by_name.setdefault(name, []).append(t)
    metrics = {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (passes[0][0] if passes else 0.0, "s"),
        "pass_s": (statistics.median(p for p, _ in steady) if steady else 0.0, "s"),
        "job_gmean_s": (float(np.exp(np.mean(np.log(steady_jobs)))) if steady_jobs else 0.0, "s"),
    }
    layers, table = compute_layers(tracer, wl, passes, space_amp, run_dir) if traced else ({}, {})
    if traced:
        # peak RSS follows the JVM's heap growth and differs by up to a
        # fifth between runs of the same code: tracked here, unbounded
        for proc, mb in peak_rss.items():
            layers[f"memory.{proc}_peak_rss_mb"] = (mb, "MB")
    record = {
        "correct": not failures,
        "attempted": max(1, attempted),
        "failed": len(failures),
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
        "layers": {k: v for k, (v, _) in table.items()},
        "run": {
            "passes": len(passes),
            "measured_s": measured_s,
            "pass_times_s": [p for p, _ in passes],
            "check_s": check_s,
            # too few jobs for stable percentiles: recorded, not tracked
            "jobs": len(steady_jobs),
            "job_p50_s": pct(steady_jobs, 50),
            "job_p90_s": pct(steady_jobs, 90),
            "job_median_s": {k: statistics.median(v) for k, v in sorted(by_name.items())},
            "space_amp": space_amp,
            "peak_rss_mb": peak_rss,
            "failures": failures,
        },
    }
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(record, f)
    return 0


if __name__ == "__main__":
    wl_name, seed, secs, trace, run_dir = sys.argv[1:6]
    sys.exit(main(wl_name, int(seed), float(secs), trace == "1", run_dir))
