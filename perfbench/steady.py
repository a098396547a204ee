"""Steadiness sweep: run every workload over a range of seeds (workloads
interleaved, so host drift spreads over all of them) and record, per
end-to-end metric, the ten values, their median and the quartile spread
``(q3 - q1) / median`` next to the metric's bound from BENCHMARK.json.

Usage (from the repository root):
    python3 perfbench/steady.py [--trace 0|1]

Every workload of BENCHMARK.json runs with seeds 1-10; the record goes to
``perfbench/steadiness.json``. With ``--trace 1`` the traced per-layer
results are recorded as well, and the tracing overhead (traced minus
untraced median of each end-to-end metric) is computed against the
untraced record already there.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SEEDS = range(1, 11)
OUT = os.path.join(HERE, "steadiness.json")


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    record = {}
    if os.path.exists(OUT):
        with open(OUT) as fh:
            record = json.load(fh)
    key = "traced" if args.trace else "untraced"
    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    for seed in SEEDS:
        for w in workloads:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                   "--trace", str(args.trace)]
            t0 = time.time()
            proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                print(f"{w} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
                return 1
            detail, result = json.loads(lines[-2]), json.loads(lines[-1])
            runs[w].append({"seed": seed, "wall_s": time.time() - t0,
                            "load1": detail["host"]["load1"],
                            "metrics": {k: v["value"] for k, v in result["metrics"].items()},
                            "detail": {k: v["value"] for k, v in detail["detail"].items()
                                       if isinstance(v, dict) and "value" in v}})
            print(f"{w} seed {seed}: {time.time() - t0:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                             if not args.trace or k.startswith("traced.")), flush=True)

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    why = {w["name"]: w["why"] for w in spec["workloads"]}
    section = record.setdefault(key, {})
    for w in workloads:
        metric_names = runs[w][0]["metrics"].keys()
        entry = {
            "why": why[w],
            "seeds": [r["seed"] for r in runs[w]],
            "run_wall_s": spread([r["wall_s"] for r in runs[w]]),
            "load1": [r["load1"] for r in runs[w]],
            "metrics": {},
        }
        for m in metric_names:
            s = spread([r["metrics"][m] for r in runs[w]])
            if m in bounds:
                s["bound"] = bounds[m]
            entry["metrics"][m] = s
        entry["detail"] = {
            k: spread([r["detail"][k] for r in runs[w]]) for k in runs[w][0]["detail"]
        }
        if args.trace and w in record.get("untraced", {}):
            base = record["untraced"][w]["metrics"]
            entry["tracing_overhead"] = {
                m: entry["metrics"][f"traced.{m}"]["median"] - base[m]["median"]
                for m in bounds if f"traced.{m}" in entry["metrics"] and m in base
            }
        section[w] = entry
    record["recorded"] = time.strftime("%Y-%m-%d %H:%M:%S")
    with open(OUT, "w") as fh:
        json.dump(record, fh, indent=1)
    for w in workloads:
        for m, s in section[w]["metrics"].items():
            if "bound" in s:
                print(f"{w:16s} {m:12s} median={s['median']:.4g} spread={s['spread']:.3f} "
                      f"bound={s['bound']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
