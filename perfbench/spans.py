"""Traced-run instrumentation, all of it outside the program.

* ``Tracer`` keeps spans (name, start, end, parent, run id) in memory and
  writes them out once, at the end of the run.
* ``TimingStore`` wraps ``Pipeline.store`` (any ``StageStore``): it opens a
  span per DAG stage at the stage's ``manifest`` probe, one child span per
  store call, and tags the stage's Spark jobs with ``setJobGroup``.
* ``task_metrics`` reads Spark's event log and sums task metrics per job
  group, so each span can be joined to its executor time and shuffle bytes.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
import uuid
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []

    def open(self, name: str, parent: int | None = None, **attrs) -> int:
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "start": time.time(),
                "end": None,
                "parent": parent,
                "run_id": self.run_id,
                **attrs,
            }
        )
        return len(self.spans) - 1

    def close(self, sid: int) -> dict:
        span = self.spans[sid]
        span["end"] = time.time()
        return span

    def dur(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def children(self, parent: int, name: str | None = None) -> list[dict]:
        return [
            s
            for s in self.spans
            if s["parent"] == parent and (name is None or s["name"] == name)
        ]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class TimingStore:
    """StageStore proxy: stage span = ``manifest`` probe .. ``commit_manifest``
    return (or ``read`` return for a resumed stage)."""

    def __init__(self, inner, tracer: Tracer, sc, run_span: int, group_prefix: str):
        self.inner = inner
        self.tracer = tracer
        self.sc = sc
        self.run_span = run_span
        self.prefix = group_prefix
        self.stage_span: int | None = None
        self.stage_spans: dict[str, int] = {}
        self._mark = 0.0  # end of the last store call in the open stage

    def _call(self, op: str, fn, *args):
        sid = self.tracer.open(f"store.{op}", self.stage_span)
        try:
            return fn(*args)
        finally:
            self.tracer.close(sid)
            self._mark = time.time()

    def _gap(self, name: str) -> None:
        # time between two store calls that the stage spent outside the store
        sid = self.tracer.open(name, self.stage_span)
        self.tracer.spans[sid]["start"] = self._mark
        self.tracer.close(sid)

    def manifest(self, name: str):
        group = f"{self.prefix}:{name}"
        self.sc.setJobGroup(group, group)
        self.stage_span = self.tracer.open(
            "stage", self.run_span, stage=name, group=group
        )
        self.stage_spans[name] = self.stage_span
        return self._call("manifest", self.inner.manifest, name)

    def write(self, name, df):
        self._gap("store.plan")
        return self._call("write", self.inner.write, name, df)

    def write_metrics(self, name, df):
        return self._call("write_metrics", self.inner.write_metrics, name, df)

    def commit_manifest(self, name, payload):
        self._gap("store.count")
        out = self._call("commit_manifest", self.inner.commit_manifest, name, payload)
        self.tracer.close(self.stage_span)
        return out

    def read(self, name):
        out = self._call("read", self.inner.read, name)
        self.tracer.close(self.stage_span)
        return out

    def location(self, name):
        return self.inner.location(name)


def task_metrics(event_log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, task count, summed executor run / GC time (s),
    shuffle write, spill (MB) and the skew (max / median task run time) of
    the group's heaviest Spark stage."""
    files = [f for f in glob.glob(os.path.join(event_log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks: dict[int, list[tuple[float, float, float, float]]] = defaultdict(list)
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                jobs[group] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks[ev["Stage ID"]].append(
                    (
                        m.get("Executor Run Time", 0) / 1000.0,
                        m.get("JVM GC Time", 0) / 1000.0,
                        sw.get("Shuffle Bytes Written", 0) / 1e6,
                        (m.get("Disk Bytes Spilled", 0)) / 1e6,
                    )
                )
    out: dict[str, dict] = {}
    for group, n in jobs.items():
        out[group] = {"jobs": n, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
                      "shuffle_mb": 0.0, "spill_mb": 0.0, "skew": 1.0, "_heavy": -1.0}
    for sid, ts in tasks.items():
        g = out.get(stage_group.get(sid, "-"))
        if g is None:
            continue
        run = [t[0] for t in ts]
        g["tasks"] += len(ts)
        g["task_s"] += sum(run)
        g["gc_s"] += sum(t[1] for t in ts)
        g["shuffle_mb"] += sum(t[2] for t in ts)
        g["spill_mb"] += sum(t[3] for t in ts)
        if sum(run) > g["_heavy"]:
            g["_heavy"] = sum(run)
            g["skew"] = max(run) / max(statistics.median(run), 0.001)
    for g in out.values():
        del g["_heavy"]
    return out
