#!/usr/bin/env python3
"""Write ``pins.json``: the output fingerprints ``run.py`` checks against.

    python3 perfbench/pins.py            # verify the current pins
    python3 perfbench/pins.py --write    # re-pin from the current program

Each pin is verified against the program's DuckDB twins before it is
accepted:

* every ``dag_sf01`` stage is fingerprinted from its parquet output; the
  stages with a twin (``checks.STAGE_TWINS``) are re-derived by DuckDB from
  the curated ``clean_docs`` output;
* every registry query is written to parquet and compared with its
  ``oracle_sql()`` twin over ``data/sf0.01`` (the heavy twins only run at
  this size, with DuckDB spill and memory capped in ``checks.duck``).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import WORK_DIR, prepare_env  # noqa: E402


def main() -> int:
    work = os.path.join(WORK_DIR, f"pins-{os.getpid()}")
    prepare_env(work)
    import checks
    import inputs
    from common import start_spark
    from run import stop
    from workloads import REGISTRY, DagRun, Ops

    spark = start_spark(work)
    ops = Ops()
    try:
        dag = DagRun(spark, work, "dag_sf01", 0, None)
        dag.cold(ops)
        con = checks.duck()
        loc = dag.pipeline.store.location
        pins = {"dag_sf01": {}, "registry": {}}
        for r in dag.pipeline.results:
            fp = checks.duck_fingerprint(con, checks.parquet_sql(loc(r.name)))
            pins["dag_sf01"][r.name] = {"rows": fp["rows"], "hash": fp["hash"]}
        docs = f"SELECT doc_id, text FROM read_parquet('{loc('clean_docs')}/*.parquet')"
        for stage, ok, detail in checks.oracle_twins(con, docs, loc):
            ops.record(ok, f"twin {stage}: {detail}")
            print(f"dag_sf01 {stage:20s} twin {'OK' if ok else 'FAIL'}")

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con.close()
        con = checks.duck()
        for t in ("documents", "embeddings", "events"):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{inputs.SF001_DIR}/{t}.parquet')"
            )
        fns = entry.queries()
        for name in REGISTRY:
            df = fns[name](spark, inputs.SF001_DIR)
            out = os.path.join(work, "registry", name)
            df.write.mode("overwrite").parquet(out)
            got = checks.duck_fingerprint(con, checks.parquet_sql(out))
            want = checks.duck_fingerprint(con, oracles[name])
            ops.record(got == want, f"registry {name}: spark={got} oracle={want}")
            print(f"registry {name:20s} twin {'OK' if got == want else 'FAIL'} rows={got['rows']}")
            pins["registry"][name] = checks.spark_fingerprint(df)
    finally:
        stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    for err in ops.errors:
        print("FAILED", err)
    if ops.failed:
        return 1
    if "--write" in sys.argv:
        with open(checks.PINS_PATH, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {checks.PINS_PATH}")
        return 0
    old = checks.load_pins()
    diff = [
        f"{part}.{k}" for part in pins for k in pins[part]
        if not checks.same(pins[part][k], old[part][k])
    ]
    print("pins match" if not diff else f"pins differ: {diff}")
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main())
