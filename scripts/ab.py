#!/usr/bin/env python3
"""Interleaved A/B of the benchmark: a git ref against the working tree.

    python3 scripts/ab.py <ref> <workload> <pairs> [--dir DIR]

Extracts ``git archive <ref>`` into a freshly emptied ``DIR/base`` and runs
``perfbench/run.py --trace 0`` once on that copy and once on this
checkout per pair, seed ``i`` for pair ``i`` (1-based), alternating which
side runs first, for BENCHMARK.json's ``run_seconds``. Prints, for every
end-to-end metric in BENCHMARK.json, each side's median [q1, q3], the
pairs the working tree won (ties count for neither) and a verdict:
unresolved when either side's quartile spread exceeds the metric's bound
relative to its median, unless every working-tree run beats every base
run; otherwise a gain needs at least nine tenths of
the pairs won and the medians further apart than the base's quartile
spread, and a median worse than the metric's bound is flagged.
Raw result lines are appended to ``DIR/ab.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def extract(ref: str, dest: str) -> None:
    # a reused DIR must not keep files or perfbench state of an earlier ref
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", ref], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(root: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{root}: seed {seed} exited {proc.returncode}")
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("ref")
    ap.add_argument("workload")
    ap.add_argument("pairs", type=int)
    ap.add_argument("--dir", default=None, help="scratch directory (default: a new temp dir)")
    args = ap.parse_args()
    work = args.dir or tempfile.mkdtemp(prefix="ab-")
    base_root = os.path.join(work, "base")
    extract(args.ref, base_root)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]

    runs: dict[str, list[dict]] = {"base": [], "head": []}
    roots = {"base": base_root, "head": ROOT}
    for i in range(args.pairs):
        seed = i + 1
        order = ("base", "head") if i % 2 == 0 else ("head", "base")
        for side in order:
            res = run_once(roots[side], args.workload, seed, seconds)
            runs[side].append(res)
            with open(os.path.join(work, "ab.jsonl"), "a") as f:
                f.write(json.dumps({"side": side, "ref": args.ref, "seed": seed,
                                    "workload": args.workload, **res}) + "\n")
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"pair {i + 1} {side}: correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} {vals}", flush=True)

    print(f"\n{args.workload}: {args.ref} (base) vs working tree (head), "
          f"{args.pairs} pairs")
    for side in ("base", "head"):
        failed = sum(r["failed"] for r in runs[side])
        attempted = sum(r["attempted"] for r in runs[side])
        print(f"  {side}: {failed}/{attempted} operations failed, "
              f"{sum(not r['correct'] for r in runs[side])} runs not correct")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        b = [r["metrics"][name]["value"] for r in runs["base"]]
        h = [r["metrics"][name]["value"] for r in runs["head"]]
        wins = sum((y < x) if lower else (y > x) for x, y in zip(b, h))
        bq1, bmed, bq3 = quartiles(b)
        hq1, hmed, hq3 = quartiles(h)
        change = (hmed - bmed) / bmed if bmed else 0.0
        worse = change if lower else -change
        spread = max((q3 - q1) / med if med else 0.0
                     for q1, med, q3 in ((bq1, bmed, bq3), (hq1, hmed, hq3)))
        better_everywhere = max(h) < min(b) if lower else min(h) > max(b)
        if spread > m["bound"] and not better_everywhere:
            verdict = f"unresolved: quartile spread {spread:.0%} exceeds its {m['bound']:.0%} bound"
        elif wins >= 0.9 * args.pairs and worse < 0 and abs(hmed - bmed) > bq3 - bq1:
            verdict = "GAIN"
        elif worse > m["bound"]:
            verdict = f"WORSE than its {m['bound']:.0%} bound"
        else:
            verdict = f"no gain, within its {m['bound']:.0%} bound"
        print(f"  {name:12s} {m['unit']:8s} base {bmed:.4g} [{bq1:.4g}, {bq3:.4g}]  "
              f"head {hmed:.4g} [{hq1:.4g}, {hq3:.4g}]  {change:+.1%}  "
              f"wins {wins}/{args.pairs}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
