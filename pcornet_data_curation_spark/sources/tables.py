"""Source/sink abstraction — Iceberg when available, parquet otherwise.

Reference analogs:
* libname attach + per-table scan           data_curation_base.sas:31-36
* dataset sink per query result             data_curation_base.sas:186-189
* CSV export sink (&_csv=YES)               data_curation_print.sas:121-150

The sandbox has no iceberg-spark runtime jar (verified), so table refs
resolve in this order:
  "iceberg:<catalog.table>"  — spark.read.table (works when a catalog
                               with the Iceberg extension is configured
                               on the session; raises otherwise)
  "table:<name>"             — session catalog table/view
  anything else              — parquet directory path

Sinks here are the small ones: the driver-side outputs (reports,
metrics, checks, lineage) written with pyarrow, and the optional CSV
export. The fact table's one sink is `plans.pipeline.run_pipeline`'s
curated write: parquet partitioned by bucket with dynamic partition
overwrite, the idempotent per-bucket commit the checkpoint manifest
relies on (with an Iceberg catalog that write would become
`writeTo(...).overwritePartitions()`).
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


def open_table(spark: SparkSession, ref: str) -> DataFrame:
    """Resolve a table reference to a DataFrame (see module docstring)."""
    if ref.startswith("iceberg:") or ref.startswith("table:"):
        return spark.read.table(ref.split(":", 1)[1])
    return spark.read.parquet(ref)


def export_csv(df: DataFrame, path: str) -> None:
    """CSV export sink (reference &_csv=YES optional export,
    data_curation_print.sas:121-150): one file, so only for small
    aggregate tables, never the fact table."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def write_small_table(table: pa.Table, path: str) -> None:
    """Make directory `path` hold `table` as its one parquet file — the
    sink for driver-side outputs (reports, metrics, checks) of a few
    hundred rows, written without a Spark job. The file is written
    hidden, then renamed over `part-00000.parquet` (atomic on the
    local/POSIX output root the manifest's os.replace already assumes),
    so a reader sees the old table or the new one. Any other file in
    the directory (a table Spark wrote there, a crashed write's hidden
    file) is removed first. Spark and pyarrow skip hidden files."""
    os.makedirs(path, exist_ok=True)
    tmp = f".{uuid.uuid4().hex}.parquet"
    pq.write_table(table, os.path.join(path, tmp))
    for name in os.listdir(path):
        if name not in (tmp, "part-00000.parquet"):
            old = os.path.join(path, name)
            if os.path.isdir(old):
                shutil.rmtree(old)
            else:
                os.remove(old)
    os.replace(os.path.join(path, tmp), os.path.join(path, "part-00000.parquet"))


def append_small_table(table: pa.Table, path: str) -> None:
    """Add `table` to directory `path` as one more parquet file (append
    semantics, e.g. one lineage file per run)."""
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, "." + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))

