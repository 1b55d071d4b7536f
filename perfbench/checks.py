"""Order-insensitive output fingerprints and the DuckDB oracle checks.

A fingerprint is ``(rows, sum of per-row hashes)`` over the columns sorted
by name, doubles rounded to 9 decimals so a summation order inside an
aggregate cannot flip it. Two fingerprint flavours exist:

* ``duck_fingerprint`` hashes a parquet directory or an oracle query with
  DuckDB, so a stage output and its DuckDB twin are compared by one hasher.
* ``spark_fingerprint`` is the Spark-side aggregate the registry pass
  forces each query through; it reads every output column, so Catalyst can
  prune nothing from the plan.
"""

from __future__ import annotations

import json
import os

import duckdb

from common import BENCH_DIR, WORK_DIR, cpus

PINS_PATH = os.path.join(BENCH_DIR, "pins.json")

#: DAG stages compared with a DuckDB twin of ``__spark_entry__.oracle_sql()``
STAGE_TWINS = {
    "turns": "turns",
    "mentions": "mentions",
    "triples": "triples",
    "kg_edges_agg": "kg_edges_agg",
    "canonical_entities": "coref_canonical",
}

_INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT",
         "UINTEGER", "UBIGINT", "HUGEINT"}


def duck() -> duckdb.DuckDBPyConnection:
    """A DuckDB connection whose spill files stay inside the work dir."""
    tmp = os.path.join(WORK_DIR, "duckdb-tmp")
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET threads = {cpus()}")
    return con


def _norm(name: str, dtype: str) -> str:
    col = f'"{name}"'
    if dtype in ("FLOAT", "DOUBLE") or dtype.startswith("DECIMAL"):
        return f"round(CAST({col} AS DOUBLE), 9)"
    if dtype in _INTS:
        return f"CAST({col} AS BIGINT)"
    if dtype in ("VARCHAR", "BOOLEAN"):
        return col
    return f"CAST({col} AS VARCHAR)"


def duck_fingerprint(con, sql: str) -> dict:
    rel = con.sql(sql)
    cols = sorted(zip(rel.columns, (str(t) for t in rel.types)))
    exprs = ", ".join(_norm(n, t) for n, t in cols)
    n, h = con.sql(
        f"SELECT count(*), sum(CAST(hash({exprs}) AS HUGEINT)) FROM ({sql})"
    ).fetchone()
    return {"rows": int(n), "hash": str(h or 0), "cols": [c for c, _ in cols]}


def parquet_sql(path: str) -> str:
    return f"SELECT * FROM read_parquet('{path}/*.parquet')"


def spark_fingerprint(df) -> dict:
    """Fingerprint ``df`` with a one-row aggregate over every output column."""
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType, T.DecimalType)):
            c = F.round(c.cast("double"), 9)
        cols.append(c)
    row = df.select(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("hash"),
    ).collect()[0]
    return {"rows": int(row["rows"]), "hash": str(row["hash"] or 0)}


def oracle_twins(con, docs_sql: str, warehouse_location) -> list[tuple[str, bool, str]]:
    """Compare each DAG stage in ``STAGE_TWINS`` with its DuckDB twin run
    over the documents the stage consumed. Returns (stage, ok, detail)."""
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con.execute(f"CREATE OR REPLACE TEMP VIEW documents AS {docs_sql}")
    out = []
    for stage, twin in STAGE_TWINS.items():
        got = duck_fingerprint(con, parquet_sql(warehouse_location(stage)))
        want = duck_fingerprint(con, oracles[twin])
        ok = got == want
        out.append((stage, ok, "" if ok else f"spark={got} oracle={want}"))
    return out


def load_pins() -> dict:
    with open(PINS_PATH) as f:
        return json.load(f)


def same(got: dict, pin: dict) -> bool:
    return got["rows"] == pin["rows"] and got["hash"] == pin["hash"]
