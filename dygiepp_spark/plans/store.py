"""Stage-output table store: parquet in the sandbox, Iceberg on a cluster.

The pipeline's checkpoint contract (write stage output, count its rows,
write per-partition metrics, re-read for the next stage, manifest-gated
resume) is format-agnostic; only the physical writer/reader changes. This
module isolates that choice so `plans.pipeline.Pipeline` never mentions a
format. Bookkeeping costs no Spark job beyond the data write: ``write``
returns the rows each write task produced, taken from the written files'
own metadata, and ``write_metrics`` receives plain rows.

* ``ParquetStore`` — the sandbox/default backend: ``<warehouse>/<stage>/
  data`` parquet; per-task row counts from the part files' Parquet
  footers (read on the driver with pyarrow); ``.../_metrics`` written on
  the driver as one pyarrow parquet file; manifest JSON on the
  local/DBFS-style filesystem. This is the backend every test and the
  driver harness exercises.
* ``IcebergStore`` — the production backend the north rule names: stage
  outputs become tables ``<catalog>.<namespace>.<stage>`` via the V2
  ``writeTo(...).createOrReplace()`` API; per-task row counts come from
  the ``record_count`` column of the table's ``files`` metadata table;
  metrics land in ``<stage>__metrics``, and the resume manifest is a
  one-row ``<stage>__manifest`` table (clusters don't share a local FS
  with the driver). Requires the Iceberg runtime jar + a configured
  catalog (``spark.sql.catalog.<name>`` …), which this sandbox does not
  ship — the class is import-safe and unit-tested for its identifier
  construction, and fails with an actionable error if used without a
  catalog.

Select with ``SPARK_GRAFT_TABLE_FORMAT=iceberg`` +
``SPARK_GRAFT_CATALOG=<catalog>.<namespace>`` (see
``make_store``), or pass a store instance to ``Pipeline`` directly.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Iterable
from typing import Protocol

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

#: ``_metrics`` columns, in order: one row per write task of a stage.
_METRICS_SCHEMA = pa.schema(
    [
        ("stage", pa.string()),
        ("partition_id", pa.int32()),
        ("rows", pa.int64()),
        ("stage_wall_sec", pa.float64()),
        ("written_at", pa.timestamp("us", tz="UTC")),
    ]
)


class StageStore(Protocol):
    """What ``Pipeline`` needs from a table format.

    ``write`` materializes ``df`` and returns the frame re-read from
    storage plus ``{partition id of the write task: rows it wrote}``,
    tasks that wrote no rows left out. The counts must come from the
    written files' metadata, not from another Spark job over the data.
    ``write_metrics`` stores ``_metrics`` rows shaped as ``_METRICS_SCHEMA``
    (an empty list still leaves a readable, empty table).
    ``commit_manifest`` must be atomic: a stage is done iff
    ``manifest(name)`` returns its payload.
    """

    def write(self, name: str, df: DataFrame) -> tuple[DataFrame, dict[int, int]]: ...
    def write_metrics(self, name: str, rows: list[tuple]) -> None: ...
    def read(self, name: str) -> DataFrame: ...
    def location(self, name: str) -> str: ...
    def manifest(self, name: str) -> dict | None: ...
    def commit_manifest(self, name: str, payload: dict) -> None: ...


def _metrics_table(rows: list[tuple]) -> pa.Table:
    return pa.Table.from_pylist(
        [dict(zip(_METRICS_SCHEMA.names, r)) for r in rows], schema=_METRICS_SCHEMA
    )


def rows_by_task(files: Iterable[tuple[str, int]]) -> dict[int, int]:
    """``{write-task partition id: rows}`` from (data file path, row count)
    pairs, zero-row files dropped. Spark (``part-00003-…``) and Iceberg
    (``00003-…``) both lead a data file's name with the partition id of
    the task that wrote it; a task that rolled over to several files is
    summed into one entry."""
    out: dict[int, int] = {}
    for path, n in files:
        if n:
            pid = int(re.search(r"\d+", os.path.basename(path)).group())
            out[pid] = out.get(pid, 0) + n
    return out


class ParquetStore:
    """Filesystem-warehouse backend (the tested sandbox path)."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse

    def location(self, name: str) -> str:
        return os.path.join(self.warehouse, name, "data")

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.warehouse, name, "manifest.json")

    def write(self, name: str, df: DataFrame) -> tuple[DataFrame, dict[int, int]]:
        path = self.location(name)
        df.write.mode("overwrite").parquet(path)
        # pass the schema just written: inferring it from a footer is a job
        out = self.spark.read.schema(df.schema).parquet(path)
        files = [
            (f, pq.read_metadata(os.path.join(path, f)).num_rows)
            for f in os.listdir(path)
            if f.startswith("part-")
        ]
        return out, rows_by_task(files)

    def write_metrics(self, name: str, rows: list[tuple]) -> None:
        # driver-side: a handful of rows is not worth a Spark job
        path = os.path.join(self.warehouse, name, "_metrics")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        pq.write_table(_metrics_table(rows), os.path.join(path, "part-00000.parquet"))

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.location(name))

    def manifest(self, name: str) -> dict | None:
        p = self._manifest_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def commit_manifest(self, name: str, payload: dict) -> None:
        # write-then-rename: a crash mid-write leaves only the temp file,
        # so the stage stays un-manifested and the resume re-runs it
        path = self._manifest_path(name)
        tmp = f"{path}.tmp"
        try:
            with open(tmp, "w") as f:
                json.dump(payload, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)


class IcebergStore:
    """Iceberg-catalog backend (production; needs the Iceberg runtime).

    ``namespace`` is ``<catalog>.<db>``; stage ``turns`` becomes table
    ``<catalog>.<db>.turns``. Writes go through the DataFrameWriterV2 so
    Iceberg commits are atomic snapshot swaps — which is what makes the
    manifest a TABLE here rather than a marker file: the manifest row is
    committed only after the data table, so a crash between the two
    leaves the stage "not done" and the resume re-runs it (same
    crash-semantics as ParquetStore's manifest.json-after-data order).
    ``write`` takes the per-task row counts from ``record_count`` in the
    table's ``files`` metadata table (a scan of Iceberg's manifests, not of
    the data); ``write_metrics`` writes its rows through
    ``createDataFrame(...).writeTo(...)``.
    """

    def __init__(self, spark: SparkSession, namespace: str):
        if namespace.count(".") != 1:
            raise ValueError(
                f"namespace must be '<catalog>.<db>', got {namespace!r}"
            )
        catalog = namespace.split(".", 1)[0]
        if spark.conf.get(f"spark.sql.catalog.{catalog}", None) is None:
            raise RuntimeError(
                f"Iceberg catalog {catalog!r} is not configured on this "
                f"session (spark.sql.catalog.{catalog}); add the "
                "iceberg-spark-runtime jar and catalog conf, or use "
                "ParquetStore"
            )
        self.spark = spark
        self.namespace = namespace

    def location(self, name: str) -> str:
        return f"{self.namespace}.{name}"

    def write(self, name: str, df: DataFrame) -> tuple[DataFrame, dict[int, int]]:
        df.writeTo(self.location(name)).createOrReplace()
        files = (
            self.spark.read.table(f"{self.location(name)}.files")
            .select("file_path", "record_count")
            .collect()
        )
        return self.read(name), rows_by_task(files)

    def write_metrics(self, name: str, rows: list[tuple]) -> None:
        self.spark.createDataFrame(_metrics_table(rows)).writeTo(
            self.location(f"{name}__metrics")
        ).createOrReplace()

    def read(self, name: str) -> DataFrame:
        return self.spark.read.table(self.location(name))

    def manifest(self, name: str) -> dict | None:
        tbl = self.location(f"{name}__manifest")
        if not self.spark.catalog.tableExists(tbl):
            return None
        row = self.spark.read.table(tbl).head()
        return json.loads(row.payload) if row else None

    def commit_manifest(self, name: str, payload: dict) -> None:
        self.spark.createDataFrame(
            [(json.dumps(payload),)], "payload string"
        ).writeTo(self.location(f"{name}__manifest")).createOrReplace()


def make_store(
    spark: SparkSession, warehouse: str, table_format: str | None = None
) -> StageStore:
    """Env-driven backend choice: ``SPARK_GRAFT_TABLE_FORMAT`` in
    {parquet (default), iceberg}; iceberg reads the catalog.namespace from
    ``SPARK_GRAFT_CATALOG`` (falling back to ``warehouse`` if it already
    looks like a dotted identifier)."""
    fmt = (table_format or os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")).lower()
    if fmt == "parquet":
        return ParquetStore(spark, warehouse)
    if fmt == "iceberg":
        ns = os.environ.get("SPARK_GRAFT_CATALOG", "")
        if not ns and "." in warehouse and "/" not in warehouse:
            ns = warehouse
        return IcebergStore(spark, ns)
    raise ValueError(f"unknown table format {fmt!r}")
