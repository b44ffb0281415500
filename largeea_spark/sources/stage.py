"""Stage-table checkpointing with per-partition lineage (SURVEY.md S3/S4,
O8; north rule: "resumable from checkpoint with per-partition lineage +
metrics").

The reference checkpoints each phase with ``torch.save`` and resumes by
``os.path.exists`` (`main.py:183-200`, `dataset.py:39-44`). The engine's
analogue: every phase writes its output DataFrame to a Parquet stage
table under a run directory; re-running a phase whose stage exists is a
metadata-only read. (Iceberg would add snapshot isolation on a real
cluster; the sandbox has no Iceberg jars — the layout and API below are
format-agnostic, `format=` is pluggable.)

Bookkeeping costs no Spark job beyond the stage write and its read-back:

- Lineage: the write records its wall-clock in a ``_lineage.json``
  sidecar inside the stage directory (Spark readers skip ``_`` files).
  ``lineage(name)`` computes one row per partition of the persisted
  stage (spark_partition_id: row count + min/max of the first column)
  when it is called — enough to audit which partition produced what,
  per the north rule.
- Metrics: ``log_metrics`` appends one JSON line per stage run to
  ``_metrics_log/metrics.jsonl`` under the store root (S7, `log_information`
  `main.py:219-239`); ``metrics()`` reads the lines back with an
  explicit schema.

The root must be a local (POSIX) path: ``exists`` and the sidecars use
the ``os`` file API. ``TableStageStore`` (catalog tables) keeps its own
lineage and metrics tables.
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

_LINEAGE_FILE = "_lineage.json"
_METRICS_DIR = "_metrics_log"
_METRICS_SCHEMA = "stage string, metrics string, logged_at timestamp"


def _now_iso() -> str:
    """UTC wall-clock in the ISO form Spark's JSON reader parses."""
    return datetime.now(timezone.utc).isoformat(timespec="milliseconds")


class StageStore:
    def __init__(self, spark: SparkSession, root: str, fmt: str = "parquet"):
        self.spark = spark
        self.root = root.rstrip("/")
        self.fmt = fmt

    def _path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def exists(self, name: str) -> bool:
        # _SUCCESS marker = complete write (atomic-enough for local FS;
        # Iceberg snapshots replace this on a cluster)
        return os.path.exists(f"{self._path(name)}/_SUCCESS")

    def read(self, name: str) -> DataFrame:
        return self.spark.read.format(self.fmt).load(self._path(name))

    def write(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> DataFrame:
        t0 = time.time()
        w = df.write.format(self.fmt).mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(self._path(name))
        # the overwrite removed any older sidecar along with the old stage
        with open(f"{self._path(name)}/{_LINEAGE_FILE}", "w") as f:
            json.dump({"wall_sec": round(time.time() - t0, 3),
                       "written_at": _now_iso()}, f)
        return self.read(name)

    def lineage(self, name: str) -> DataFrame:
        """Per output partition of the persisted stage: ``partition_id,
        rows, min_key, max_key`` (first column, as string), plus the
        write's ``stage, wall_sec, written_at``."""
        with open(f"{self._path(name)}/{_LINEAGE_FILE}") as f:
            side = json.load(f)
        out = self.read(name)
        first_col = out.columns[0]
        return (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count("*").alias("rows"),
                F.min(F.col(first_col).cast("string")).alias("min_key"),
                F.max(F.col(first_col).cast("string")).alias("max_key"),
            )
            .withColumn("stage", F.lit(name))
            .withColumn("wall_sec", F.lit(side["wall_sec"]))
            .withColumn("written_at", F.to_timestamp(F.lit(side["written_at"])))
        )

    def checkpoint(self, name: str, build: Callable[[], DataFrame],
                   partition_by: list[str] | None = None) -> DataFrame:
        """Resume-or-build: the O8 pattern. Skips the build entirely when
        the stage is complete — phase restarts are metadata reads."""
        if self.exists(name):
            return self.read(name)
        return self.write(name, build(), partition_by)

    def log_metrics(self, stage: str, metrics: dict) -> None:
        """S7 metrics sink (`log_information` `main.py:219-239`):
        append one JSON line per stage run; starts no Spark job."""
        os.makedirs(self._path(_METRICS_DIR), exist_ok=True)
        line = json.dumps({
            "stage": stage,
            "metrics": json.dumps(metrics, sort_keys=True, default=str),
            "logged_at": _now_iso(),
        })
        with open(f"{self._path(_METRICS_DIR)}/metrics.jsonl", "a") as f:
            f.write(line + "\n")

    def metrics(self) -> DataFrame:
        """One row per ``log_metrics`` call: ``stage, metrics, logged_at``."""
        return self.spark.read.schema(_METRICS_SCHEMA).json(self._path(_METRICS_DIR))


class TableStageStore(StageStore):
    """Catalog-table-backed variant (north rule: "materialization back
    to Iceberg"): stages live as CATALOG TABLES (``namespace.stage``)
    written with ``saveAsTable`` and resumed via
    ``spark.catalog.tableExists`` — on a cluster with an Iceberg catalog
    (``fmt='iceberg'``) each write is an Iceberg snapshot with ACID
    overwrite + time travel; in this sandbox (no Iceberg jars) the SAME
    code path runs against the built-in catalog with ``fmt='parquet'``,
    which is what the tests exercise. Lineage/metrics land in
    ``<stage>__lineage`` / ``_metrics`` tables in the same namespace."""

    def __init__(self, spark: SparkSession, namespace: str,
                 fmt: str = "parquet"):
        super().__init__(spark, root=namespace, fmt=fmt)
        self.ns = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {namespace}")

    def _table(self, name: str) -> str:
        return f"{self.ns}.{name.replace('-', '_')}"

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._table(name))

    def read(self, name: str) -> DataFrame:
        return self.spark.table(self._table(name))

    def write(self, name: str, df: DataFrame,
              partition_by: list[str] | None = None) -> DataFrame:
        t0 = time.time()
        w = df.write.format(self.fmt).mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.saveAsTable(self._table(name))
        out = self.read(name)
        lin_t0 = time.time() - t0
        first_col = out.columns[0]
        lin = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count("*").alias("rows"),
                F.min(F.col(first_col).cast("string")).alias("min_key"),
                F.max(F.col(first_col).cast("string")).alias("max_key"),
            )
            .withColumn("stage", F.lit(name))
            .withColumn("wall_sec", F.lit(round(lin_t0, 3)))
            .withColumn("written_at", F.current_timestamp())
        )
        lin.write.format(self.fmt).mode("overwrite").saveAsTable(
            self._table(f"{name}__lineage")
        )
        return out

    def lineage(self, name: str) -> DataFrame:
        return self.read(f"{name}__lineage")

    def log_metrics(self, stage: str, metrics: dict) -> None:
        row = self.spark.createDataFrame(
            [(stage, json.dumps(metrics, sort_keys=True, default=str))],
            "stage string, metrics string",
        ).withColumn("logged_at", F.current_timestamp())
        row.write.format(self.fmt).mode("append").saveAsTable(
            self._table("_metrics".lstrip("_") + "_log")
        )

    def metrics(self) -> DataFrame:
        return self.read("metrics_log")
