"""Benchmark command for the data-collection engine.

    python3 perfbench/run.py --workload {llm_curation,store_ingest}
        --seed N --seconds S --trace {0,1}

``--seconds`` is a floor on the measured time: a run always measures a
cold pass and then steady passes until both the floor and the
workload's minimum number of steady passes are reached (two passes for
llm_curation, two days for store_ingest), so the pass count, and with
it the medians, do not depend on how fast the box happens to be.

Runs from the root of a source checkout.  Each run owns a scratch
directory under ``.perfbench_runs/`` in the checkout: the generated
input tables, the store roots, ``TMPDIR``, ``SPARK_LOCAL_DIRS``, the
Spark conf dir and (traced runs) the Spark event log all live there, and
it is deleted when the run ends.  The engine runs in a child process at
``local[nproc]`` with the driver memory sized from ``/proc/meminfo``.

stdout: with ``--trace 1`` a line with the per-operation layer table;
a run-validity record line; then, as the last line, one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with ``--trace 0``, the tracked per-layer metrics with ``--trace 1``.
Exit code 0 only when every output matched its reference.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.getcwd()
PACKAGE = "chchfr_data_collection_spark"
WORKLOADS = ("llm_curation", "store_ingest")
RUN_TIMEOUT_S = 170
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
# untraced pass_s per workload, kept so a traced run can report its overhead
UNTRACED_LOG = os.path.join(RUNS_DIR, "untraced_pass_s.json")


def _driver_mem_mb() -> int:
    """A quarter of physical memory, at most 2 GiB: the inputs are small
    and the box may be shared."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return min(2048, total_kb // 4096)


def _git_rev() -> str | None:
    """git HEAD, when the checkout is a git repository."""
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, check=True, timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def _tree_hash(top: str) -> str:
    """Hash of the Python sources under ``top``, uncommitted edits included."""
    h = hashlib.sha1()
    for d, dirs, files in os.walk(top):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, top).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


def _pyspark_version() -> str:
    try:
        import pyspark

        return pyspark.__version__
    except ImportError:
        return "missing"


def _spark_conf(conf_dir: str, run_dir: str, traced: bool) -> None:
    tmp = os.path.join(run_dir, "tmp")
    lines = [
        "spark.ui.showConsoleProgress false",
        f"spark.sql.warehouse.dir {os.path.join(run_dir, 'warehouse')}",
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    if traced:
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{os.path.join(run_dir, 'eventlog')}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")


def _session_pids(sid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getsid(int(name)) == sid:
                    pids.append(int(name))
            except OSError:
                pass
    return pids


def _stop_session(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (the JVM, Python
    workers), and wait until they are gone."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGTERM)
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            pass
    deadline = time.time() + 20
    while True:
        left = _session_pids(proc.pid)
        if not left:
            break
        sig = signal.SIGTERM if time.time() < deadline - 10 else signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        if time.time() > deadline:
            break
        time.sleep(0.2)
    proc.wait()


def _record_untraced(key: str, pass_s: float) -> None:
    log = {}
    if os.path.exists(UNTRACED_LOG):
        with open(UNTRACED_LOG) as f:
            log = json.load(f)
    log[key] = (log.get(key, []) + [pass_s])[-50:]
    with open(UNTRACED_LOG, "w") as f:
        json.dump(log, f)


def _untraced_median(key: str) -> float | None:
    if not os.path.exists(UNTRACED_LOG):
        return None
    with open(UNTRACED_LOG) as f:
        vals = json.load(f).get(key)
    return statistics.median(vals) if vals else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"run from a checkout root: no {PACKAGE}/ under {ROOT}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    mem_mb = _driver_mem_mb()
    run_dir = os.path.join(RUNS_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    conf_dir = os.path.join(run_dir, "conf")
    for sub in ("conf", "tmp", "local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    _spark_conf(conf_dir, run_dir, bool(args.trace))
    tmp = os.path.join(run_dir, "tmp")
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_CONF_DIR=conf_dir,
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_mb}m",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    t_run = time.perf_counter()
    sys_tmp = tempfile.gettempdir()
    tmp_before = set(os.listdir(sys_tmp))
    load_before = os.getloadavg()
    validity = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": nproc,
        "driver_memory": f"{mem_mb}m",
        "git_rev": _git_rev(),
        "source_hash": _tree_hash(os.path.join(ROOT, PACKAGE)),
        "pyspark": _pyspark_version(),
        "loadavg_before": load_before,
        "loaded_box": load_before[0] > nproc,
    }

    cmd = [sys.executable, "-m", "perfbench.worker", args.workload,
           str(args.seed), str(args.seconds), str(args.trace), run_dir]
    log_path = os.path.join(run_dir, "worker.log")
    result = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                    stderr=subprocess.STDOUT, start_new_session=True)
            try:
                proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"worker exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
            finally:
                _stop_session(proc)
        res_path = os.path.join(run_dir, "result.json")
        if proc.returncode == 0 and os.path.exists(res_path):
            with open(res_path) as f:
                result = json.load(f)
        else:
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        return 1

    e2e = result["end_to_end"]
    # untraced figures only compare with traced ones of the same code
    bench_hash = _tree_hash(os.path.dirname(os.path.abspath(__file__)))
    key = f"{args.workload}@{validity['source_hash']}@{bench_hash}"
    if args.trace:
        base = _untraced_median(key)
        traced = result["per_layer"]["trace.pass_s"]["value"]
        # traced pass_s minus the median untraced pass_s of earlier runs
        # of the same code in this checkout (None before any)
        result["layers"]["trace.overhead_s"] = traced - base if base is not None else None
        print(json.dumps({"layers": result["layers"]}))
    else:
        _record_untraced(key, e2e["pass_s"]["value"])
    validity["run_wall_s"] = time.perf_counter() - t_run
    validity["loadavg_after"] = os.getloadavg()
    validity["new_tmp_entries"] = sorted(set(os.listdir(sys_tmp)) - tmp_before)
    validity.update(result["run"])
    print(json.dumps({"validity": validity}))
    metrics = result["per_layer"] if args.trace else e2e
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
