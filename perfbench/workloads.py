"""The two DAG workloads and the off-DAG registry pass.

Every operation the benchmark attempts (a DAG stage run, a resume, a
registry query, an output check) is tallied in ``Ops``; ``fail_frac`` is
``failed / attempted`` over them.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import checks
import inputs
from common import cpus
from spans import TimingStore, Tracer

#: stages whose Spark-level cost (jobs, task time, shuffle, skew, busy share)
#: is reported; the stages an optimisation is likeliest to move
FOCUS_STAGES = (
    "doc_filter", "turns", "triples", "coref_clusters", "eval_exact",
    "kg_edges", "kg_kcore", "kg_communities",
)

#: pinned off-DAG registry queries, timed warm over ``data/sf0.01``
REGISTRY = (
    "triples", "triples_kernel", "span_enum", "events_binary",
    "near_dups_minhash", "dedup_groups", "ann_brute_force", "tfidf_topk",
    "asof_events",
)


#: workload -> curated: ``dag_sf01`` is the full production DAG (curation and
#: analytics on) over the fixed sf0.1 corpus; ``dag_synth`` is the extraction
#: DAG over a seeded corpus with a power-law length tail
CURATED = {"dag_sf01": True, "dag_synth": False}


class Ops:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


class DagRun:
    """One workload's DAG: a cold run, then crash-resumes of its last stage."""

    def __init__(self, spark, work: str, workload: str, seed: int, tracer: Tracer | None):
        self.spark = spark
        self.workload = workload
        self.curated = CURATED[workload]
        self.tracer = tracer
        self.warehouse = os.path.join(work, "warehouse")
        if self.curated:
            self.sf_dir = inputs.SF01_DIR
        else:
            self.sf_dir = os.path.join(work, "synth")
            inputs.synth_documents(self.sf_dir, seed)
        self.kwargs = dict(
            with_coref=True,
            with_eval=True,
            with_curation=self.curated,
            with_analytics=self.curated,
        )
        self.stores: list[TimingStore] = []

    def _pipeline(self, phase: str):
        from dygiepp_spark.plans.pipeline import build_kg_pipeline

        p = build_kg_pipeline(self.spark, self.warehouse, self.sf_dir, **self.kwargs)
        if self.tracer is not None:
            span = self.tracer.open(f"{phase}_run", None, workload=self.workload)
            p.store = TimingStore(
                p.store, self.tracer, self.spark.sparkContext, span, phase
            )
            self.stores.append(p.store)
        return p

    def _run(self, p) -> float:
        t0 = time.perf_counter()
        p.run()
        dt = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.close(p.store.run_span)
        return dt

    def cold(self, ops: Ops) -> float:
        self.pipeline = self._pipeline("dag")
        e2e = self._run(self.pipeline)
        for r in self.pipeline.results:
            ops.record(not r.resumed, f"stage {r.name}")
        return e2e

    def resumes(self, ops: Ops, seconds: float, started: float) -> list[float]:
        """Delete the final stage's manifest (a crash before its commit) and
        re-run: the DAG reads every committed stage and recomputes one."""
        last = self.pipeline.stages[-1][0]
        out = []
        while not out or time.perf_counter() - started < seconds:
            os.remove(os.path.join(self.warehouse, last, "manifest.json"))
            p = self._pipeline(f"resume{len(out)}")
            out.append(self._run(p))
            fresh = [r.name for r in p.results if not r.resumed]
            ops.record(fresh == [last], f"resume re-ran {fresh}, expected [{last}]")
        return out

    def turns(self) -> int:
        return next(r.rows for r in self.pipeline.results if r.name == "turns")

    def check(self, ops: Ops) -> None:
        con = checks.duck()
        loc = self.pipeline.store.location
        if self.curated:
            pins = checks.load_pins()["dag_sf01"]
            for r in self.pipeline.results:
                got = checks.duck_fingerprint(con, checks.parquet_sql(loc(r.name)))
                ops.record(checks.same(got, pins[r.name]), f"pin {r.name}: {got}")
            docs = f"SELECT doc_id, text FROM read_parquet('{loc('clean_docs')}/*.parquet')"
        else:
            docs = f"SELECT * FROM read_parquet('{self.sf_dir}/documents.parquet')"
        for stage, ok, detail in checks.oracle_twins(con, docs, loc):
            ops.record(ok, f"twin {stage}: {detail}")
        con.close()

    def layers(self, groups: dict[str, dict]) -> dict[str, float]:
        """Per-layer metrics from the store spans and the event log."""
        tr = self.tracer
        cold = self.stores[0]
        m: dict[str, float] = {}
        sums = dict.fromkeys(("plan", "write", "metrics", "count", "manifest"), 0.0)
        kind = {"store.plan": "plan", "store.write": "write",
                "store.write_metrics": "metrics", "store.count": "count",
                "store.manifest": "manifest", "store.commit_manifest": "manifest"}
        wall = 0.0
        for name, sid in cold.stage_spans.items():
            d = tr.dur(sid)
            wall += d
            m[f"stage.{name}.s"] = d
            for child in tr.children(sid):
                sums[kind[child["name"]]] += child["end"] - child["start"]
            if name in FOCUS_STAGES:
                g = groups.get(f"dag:{name}", {})
                m[f"stage.{name}.jobs"] = g.get("jobs", 0)
                m[f"stage.{name}.task_s"] = g.get("task_s", 0.0)
                m[f"stage.{name}.shuffle_mb"] = g.get("shuffle_mb", 0.0)
                m[f"stage.{name}.skew"] = g.get("skew", 1.0)
                m[f"stage.{name}.busy_frac"] = g.get("task_s", 0.0) / (d * cpus())
        for k, v in sums.items():
            m[f"store.{k}_s"] = v
        first_resume = self.stores[1]
        m["store.read_s"] = sum(
            c["end"] - c["start"]
            for sid in first_resume.stage_spans.values()
            for c in tr.children(sid, "store.read")
        )
        names = list(cold.stage_spans)
        m["store.mb"] = sum(_dir_mb(cold.location(n)) for n in names)
        m["store.jobs_per_stage"] = sum(
            groups.get(f"dag:{n}", {}).get("jobs", 0) for n in names
        ) / len(names)
        m["store.overhead_frac"] = (sums["metrics"] + sums["count"] + sums["manifest"]) / wall
        return m

    def span_names_match(self) -> bool:
        return list(self.stores[0].stage_spans) == [r.name for r in self.pipeline.results]


class RegistryPass:
    """Pinned registry queries the DAG never runs: one untimed warm-up pass
    over a tiny slice of the inputs, then one timed pass over ``data/sf0.01``.
    Each query is forced through an all-column fingerprint aggregate, which
    also yields its output check."""

    def __init__(self, spark, work: str):
        import __spark_entry__ as entry

        self.spark = spark
        self.fns = entry.queries()
        self.tiny = os.path.join(work, "tiny")
        os.makedirs(self.tiny, exist_ok=True)
        for table, n in (("documents", 40), ("embeddings", 40), ("events", 400)):
            t = pq.read_table(os.path.join(inputs.SF001_DIR, f"{table}.parquet"))
            pq.write_table(t.slice(0, n), os.path.join(self.tiny, f"{table}.parquet"))

    def run(self, ops: Ops, tracer: Tracer) -> dict[str, float]:
        sc = self.spark.sparkContext
        for name in REGISTRY:
            sc.setJobGroup(f"warm:{name}", name)
            checks.spark_fingerprint(self.fns[name](self.spark, self.tiny))
        pins = checks.load_pins()["registry"]
        pass_span = tracer.open("registry_pass")
        walls = {}
        for name in REGISTRY:
            sc.setJobGroup(f"q:{name}", name)
            sid = tracer.open("query", pass_span, query=name, group=f"q:{name}")
            got = checks.spark_fingerprint(self.fns[name](self.spark, inputs.SF001_DIR))
            tracer.close(sid)
            walls[name] = tracer.dur(sid)
            ops.record(checks.same(got, pins[name]), f"pin q.{name}: {got}")
        tracer.close(pass_span)
        return walls

    @staticmethod
    def layers(walls: dict[str, float], groups: dict[str, dict]) -> dict[str, float]:
        m: dict[str, float] = {}
        for name, s in walls.items():
            g = groups.get(f"q:{name}", {})
            m[f"q.{name}.s"] = s
            m[f"q.{name}.task_s"] = g.get("task_s", 0.0)
            m[f"q.{name}.shuffle_mb"] = g.get("shuffle_mb", 0.0)
            m[f"q.{name}.skew"] = g.get("skew", 1.0)
        m["q.sum_s"] = sum(walls.values())
        return m

