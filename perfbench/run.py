#!/usr/bin/env python3
"""Benchmark one workload of the production KG DAG in a fresh driver.

    python3 perfbench/run.py --workload dag_sf01 --seed 1 --seconds 30 --trace 0

Runs from the root of a checkout. One run:

1. starts the driver (this process), the SparkSession at ``local[<cores>]``
   and a trivial job: ``setup_s``;
2. runs the DAG once, cold: ``e2e_s`` and ``turns_per_s``;
3. traced runs only: deletes the final stage's manifest and re-runs, at
   least once and until ``--seconds`` have passed since step 2 began:
   ``trace.resume_s`` (median);
4. checks every output (pinned fingerprints, DuckDB twins), outside the
   timed regions;
5. prints one JSON line: end-to-end metrics with ``--trace 0``; with
   ``--trace 1`` the per-layer metrics from the store spans and Spark's
   event log, and from one pass over the off-DAG registry queries.

``alloc_mb`` is what the driver JVM allocated on its heap over the run,
from its GC log; the traced run adds the driver's peak resident memory
(JVM plus this process) and the largest heap left after a collection.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    ROOT, WORK_DIR, cpus, heap_after_gc_max_mb, heap_alloc_mb, peak_rss_mb,
    prepare_env, seconds_since_start, start_spark,
)
from spans import Tracer, task_metrics  # noqa: E402
from workloads import CURATED, DagRun, Ops, RegistryPass  # noqa: E402

def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(CURATED))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    work = os.path.join(WORK_DIR, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    units = {m["name"]: m["unit"] for m in cfg["end_to_end"] + cfg["per_layer"]}
    per_layer = [m["name"] for m in cfg["per_layer"]]
    traced = args.trace == 1
    event_dir = os.path.join(work, "eventlog") if traced else None
    spark = start_spark(work, event_dir)
    sc = spark.sparkContext
    if traced:
        sc.setJobGroup("setup", "setup")
    spark.range(1).count()
    setup_s = seconds_since_start()

    tracer = Tracer() if traced else None
    ops = Ops()
    try:
        dag = DagRun(spark, work, args.workload, args.seed, tracer)
        t0 = time.perf_counter()
        e2e = dag.cold(ops)
        if traced:
            resumes = dag.resumes(ops, args.seconds, t0)
            walls = RegistryPass(spark, work).run(ops, tracer)
        sc.setJobGroup("check", "check")
        alloc = heap_alloc_mb(spark, work)
        rss = peak_rss_mb()
        dag.check(ops)
        if traced:
            ops.record(dag.span_names_match(), "stage spans differ from Pipeline.results")
    finally:
        stop(spark)

    if traced:
        groups = task_metrics(event_dir)
        layers = dag.layers(groups)
        layers.update(RegistryPass.layers(walls, groups))
        layers["spark.gc_s"] = sum(g["gc_s"] for g in groups.values())
        layers["spark.spill_mb"] = sum(g["spill_mb"] for g in groups.values())
        layers["driver.peak_rss_mb"] = rss
        layers["jvm.heap_after_gc_max_mb"] = heap_after_gc_max_mb(work)
        layers["trace.e2e_s"] = e2e
        layers["trace.resume_s"] = statistics.median(resumes)
        # a stage this workload's DAG does not run took no time and no job
        ran = {r.name for r in dag.pipeline.results}
        for name in per_layer:
            if name.startswith("stage.") and name.split(".")[1] not in ran:
                layers.setdefault(name, 0.0)
        missing = [n for n in per_layer if n not in layers]
        ops.record(not missing, f"per-layer metrics missing: {missing}")
        out_dir = os.path.join(WORK_DIR, "trace", args.workload)
        tracer.write(os.path.join(out_dir, "spans.jsonl"))
        with open(os.path.join(out_dir, "layers.json"), "w") as f:
            json.dump({"cpus": cpus(), "groups": groups, "layers": layers}, f, indent=1)
        metrics = {k: (v, units[k]) for k, v in layers.items()}
    else:
        turns = dag.turns()
        values = {
            "setup_s": setup_s,
            "e2e_s": e2e,
            "turns_per_s": turns / e2e,
            "alloc_mb": alloc,
        }
        metrics = {k: (v, units[k]) for k, v in values.items()}
    for err in ops.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    print(f"# cpus={cpus()} attempted={ops.attempted} failed={ops.failed} "
          f"fail_frac={ops.failed / max(ops.attempted, 1):.4f}")
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - escalate to kill on any wait failure
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
