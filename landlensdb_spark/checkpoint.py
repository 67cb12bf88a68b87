"""Idempotent per-partition checkpoint / lineage table.

Generalizes the reference's resumable downloader state
(/root/reference/landlensdb/handlers/cloud.py:483-545, :677-679): a JSON
status cache reloaded on start, permanently-failed ids never retried, and
per-batch persistence so a crash loses at most one batch. The Spark-native
shape (FIXTURES.md §5):

- a checkpoint table ``(run_id, stage, unit_id, partition_id, rows_in,
  rows_out, status, ts)`` written once per processed unit (Iceberg table when
  a catalog is configured; parquet append-dir otherwise — identical module
  interface);
- resume = ``left_anti`` join of the work list against units with
  ``status='success'`` (the anti-membership filters of cloud.py:531-542),
  or the same unit ids collected to the driver (``completed_ids``) when the
  caller filters its work list itself;
- ``failed_permanent`` units are excluded from retries forever
  (cloud.py:608-610: a 404 is permanent);
- metrics per stage = row-count aggregation over the same table (the
  reference's per-batch success-rate prints, cloud.py:677-691).

Scale shape: a ``log`` call ships its O(units) rows as one typed Arrow
table (``session.local_frame``), so the append job scans a
``LocalRelation`` and starts no Python task; the same rows as a list of
tuples would be an RDD of pickled rows, unpickled by a Python worker on
every run.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from landlensdb_spark.session import local_frame

CHECKPOINT_SCHEMA = (
    "run_id string, stage string, unit_id long, partition_id int, "
    "rows_in long, rows_out long, status string, ts double"
)

SUCCESS = "success"
FAILED_TEMPORARY = "failed_temporary"
FAILED_PERMANENT = "failed_permanent"


class CheckpointTable:
    """Parquet-append-backed checkpoint store (Iceberg-shaped interface)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        if not os.path.exists(self.path):
            return local_frame(self.spark, [], CHECKPOINT_SCHEMA)
        return self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.path)

    def log(self, rows: list[tuple]) -> None:
        """Append (run_id, stage, unit_id, partition_id, rows_in, rows_out,
        status) tuples; ts stamped here. One snapshot per call = the
        per-batch commit granularity of the reference."""
        ts = time.time()
        df = local_frame(self.spark, [(*r, ts) for r in rows], CHECKPOINT_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.path)

    def _completed(self, stage: str) -> DataFrame:
        return (
            self.read()
            .filter(
                (F.col("stage") == stage)
                & F.col("status").isin(SUCCESS, FAILED_PERMANENT)
            )
            .select("unit_id")
        )

    def completed_units(self, stage: str) -> DataFrame:
        """unit_ids already succeeded OR permanently failed — never re-run
        (cloud.py:531-542)."""
        return self._completed(stage).distinct()

    def completed_ids(self, stage: str) -> set[int]:
        """:meth:`completed_units` collected to the driver: one small job
        over the O(units) table, and none before the first :meth:`log`."""
        if not os.path.exists(self.path):
            return set()
        return {r.unit_id for r in self._completed(stage).collect()}

    def pending(self, work: DataFrame, stage: str, unit_col: str) -> DataFrame:
        """Resume filter: anti-join the work list against completed units."""
        done = self.completed_units(stage).withColumnRenamed("unit_id", unit_col)
        return work.join(F.broadcast(done), unit_col, "left_anti")

    def metrics(self, run_id: str | None = None) -> DataFrame:
        """Per-stage lineage metrics (rows in/out, unit status counts)."""
        df = self.read()
        if run_id is not None:
            df = df.filter(F.col("run_id") == run_id)
        return df.groupBy("stage", "status").agg(
            F.count("*").alias("units"),
            F.sum("rows_in").alias("rows_in"),
            F.sum("rows_out").alias("rows_out"),
        )
