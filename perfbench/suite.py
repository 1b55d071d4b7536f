#!/usr/bin/env python3
"""One command for the whole benchmark: every workload in BENCHMARK.json,
untraced, once for each of the seeds 1..10, then one traced run each.
Prints every metric with its unit, sample count, median, quartile spread
and tail, the tracing overhead, and the output-check tally (``fail_frac``
with its base).

    python3 perfbench/suite.py

Raw result lines are appended to ``perfbench/.work/suite.jsonl``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10


def bench_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}")
    res = json.loads(lines[-1])
    res.update(workload=workload, seed=seed, trace=trace, wall_s=wall)
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with open(os.path.join(HERE, ".work", "suite.jsonl"), "a") as f:
        f.write(json.dumps(res) + "\n")
    return res


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    p90 = statistics.quantiles(values, n=10)[-1]
    return {"n": len(values), "median": med, "p90": p90, "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    cfg = bench_config()
    bounds = {m["name"]: m for m in cfg["end_to_end"]}
    ok = True
    for wl in (w["name"] for w in cfg["workloads"]):
        runs = [run_once(wl, seed, cfg["run_seconds"], 0) for seed in range(1, RUNS + 1)]
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        ok &= failed == 0 and all(r["correct"] for r in runs)
        print(f"\n== {wl}: {len(runs)} runs, fail_frac {failed}/{attempted} = "
              f"{failed / attempted:.4f}, wall per run "
              f"{statistics.median(r['wall_s'] for r in runs):.1f} s median, "
              f"{max(r['wall_s'] for r in runs):.1f} s max")
        print(f"{'metric':16s} {'unit':8s} {'n':>3s} {'median':>11s} {'p90':>11s} "
              f"{'IQR/med':>8s} {'bound':>6s}")
        med = {}
        for name, m in bounds.items():
            s = summarize([r["metrics"][name]["value"] for r in runs])
            med[name] = s["median"]
            print(f"{name:16s} {m['unit']:8s} {s['n']:3d} {s['median']:11.4f} "
                  f"{s['p90']:11.4f} {s['spread']:8.3f} {m['bound']:6.2f}")
        tr = run_once(wl, 1, cfg["run_seconds"], 1)
        ok &= tr["correct"]
        layers = tr["metrics"]
        print(f"-- traced run ({len(layers)} per-layer metrics, "
              f"fail_frac {tr['failed']}/{tr['attempted']}); tracing overhead "
              f"e2e_s {layers['trace.e2e_s']['value'] - med['e2e_s']:+.3f} s")
        for name in sorted(layers):
            print(f"   {name:34s} {layers[name]['value']:12.4f} {layers[name]['unit']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
