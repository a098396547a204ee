"""Benchmark entry point.

Usage (from the repository root):
    python3 perfbench/run.py --workload dashboard_http|ingest_mv|pipeline_batch \
        --seed N --seconds S --trace 0|1

Builds the inputs on first use (``build.py``), then runs the workload in a
fresh process inside a fresh temporary working directory under the build
directory, with ``SPARK_GRAFT_CPUS`` set from the CPUs this process may
use and ``SPARK_LOCAL_DIRS``/``TMPDIR`` inside the run directory. Prints
one detail line (the workload's own named metrics, the run's host facts
and any check failures), then the result line:
``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
metric of ``BENCHMARK.json`` (``--trace 0``) or every per-layer metric
(``--trace 1``). Exits 1 when an output check fails or the run errors.
"""

from __future__ import annotations

import argparse
import importlib.metadata
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("dashboard_http", "ingest_mv", "pipeline_batch")
DEADLINE_S = 170  # the workload process is killed after this long


def _with_unit(key: str, value):
    """A detail-line number with the unit its name states."""
    for suffix, unit in (("_rows_per_s", "rows/s"), ("qps", "1/s"), ("_ms", "ms"), ("_s", "s")):
        if key.endswith(suffix) and isinstance(value, (int, float)):
            return {"value": value, "unit": unit}
    return value


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _kill_group(pgid: int) -> None:
    """Kill the run's process group (the workload and its JVM) and wait
    until no member is left. Called once the workload has written its
    result and exited, or has run past its deadline."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    end = time.time() + 30
    while time.time() < end:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    raise RuntimeError(f"process group {pgid} still alive after SIGKILL")


def _host_facts(cpus: int) -> dict:
    try:
        spark_version = importlib.metadata.version("pyspark")
    except importlib.metadata.PackageNotFoundError:
        spark_version = None
    return {
        "nproc": cpus,
        "load1": os.getloadavg()[0],
        "python": platform.python_version(),
        "spark": spark_version,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(REPO, "BENCHMARK.json")
    for need in ("otus_clickhouse_spark/engine.py", "tools/gen_testdata.py",
                 "tools/check_oracles.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(REPO, need)):
            return _fail(f"{need} not found: run from a checkout of the repository")
    with open(spec_path) as fh:
        spec = json.load(fh)

    sys.path.insert(0, HERE)
    import build

    p = build.ensure_built()
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(p["runs"], f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "PYTHONUNBUFFERED": "1",
    })
    out = os.path.join(run_dir, "result.json")
    spans = os.path.join(p["traces"], f"{args.workload}-s{args.seed}.jsonl")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", p["data"], "--expected", p["expected"],
        "--out", out, "--spans", spans,
    ]
    facts = _host_facts(cpus)
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        spawned = time.time()
        proc = subprocess.Popen(
            cmd + ["--spawned", repr(spawned)], cwd=run_dir, env=env,
            stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            _kill_group(proc.pid)
            proc.wait()
    try:
        with open(out) as fh:
            res = json.load(fh)
    except (OSError, ValueError):
        res = {"error": f"no result (exit code {proc.returncode})"}
    if "error" in res:
        with open(os.path.join(run_dir, "worker.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        return _fail(f"{args.workload} run failed:\n{res['error']}")
    shutil.rmtree(run_dir, ignore_errors=True)
    res["detail"]["run_wall_s"] = time.time() - spawned

    correct = res["failed"] == 0
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": facts,
        "detail": {k: _with_unit(k, v) for k, v in res["detail"].items()},
        "problems": res["problems"],
    }))
    if args.trace:
        values = res["layers"]
        names = spec["per_layer"]
    else:
        values = res["metrics"]
        names = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
