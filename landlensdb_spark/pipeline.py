"""End-to-end geo pipeline job: staged, checkpointed, idempotently resumable.

The north-star job shape — "every stage writes per-partition lineage +
row-count metrics to a checkpoint table so runs resume idempotently" — over
the engine's headline operators. The reference's equivalent is the resumable
downloader state machine (/root/reference/landlensdb/handlers/cloud.py:483-545:
status cache reloaded on start, done work skipped, per-batch persistence);
here the unit of resume is an input *bucket* (a deterministic hash range of
urls), so a re-run after a crash:

1. reads the completed unit ids from the checkpoint table (no Spark job
   before the first checkpoint exists). When they cover every bucket,
   nothing is pending and the pages are never scanned; otherwise one
   ``groupBy(_bucket).count()`` over the pages of incomplete buckets gives
   both the work list and each unit's ``rows_in``,
2. processes only pending buckets through extract -> PIP -> tile,
3. writes results partitioned BY BUCKET with dynamic partition overwrite
   (a re-run never duplicates rows: only this attempt's bucket directories
   are replaced, so even a bucket retried after a partial write + checkpoint
   miss lands exactly once). Each bucket's ``rows_out`` is counted by an
   ``observe`` metric inside the write's result stage, after the
   repartition: Spark applies result-stage accumulator updates exactly
   once, even when tasks are retried,
4. logs (run_id, stage, unit, rows_in, rows_out) lineage per bucket.

Scale shape: buckets are hash ranges, so the work split is deterministic and
uniform; a fresh attempt costs one counting scan over the pending pages plus
one write job, with no re-read of the output; the checkpoint table stays
tiny (O(buckets)) and is read on the driver as a set of unit ids. The
lineage rows go to the checkpoint as a driver-local Arrow table, so the
log job starts no Python task; the quadkey and the per-bucket ``observe``
metrics are built as SQL text, one JVM call each rather than one per
expression node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from landlensdb_spark.checkpoint import SUCCESS, CheckpointTable
from landlensdb_spark.operators.fused import extract_pip
from landlensdb_spark.operators.tiles import assign_tiles

STAGE = "extract_pip_tile"


def run_geo_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    polygons: DataFrame,
    out_path: str,
    ckpt: CheckpointTable,
    n_buckets: int = 16,
    run_id: str | None = None,
    fail_buckets: set[int] | None = None,
    zoom: int = 14,
    bucket_expr=None,
) -> dict:
    """Run (or resume) the headline pipeline; returns per-run metrics.

    ``fail_buckets`` injects a crash after those buckets would have been
    processed — the idempotency test kills a run mid-way and asserts the
    resumed run produces the identical final table with no duplicate work.
    ``bucket_expr`` overrides the default xxhash64 url bucketing with any
    deterministic int Column in [0, n_buckets) — e.g. a SQL-reproducible
    key for cross-engine lineage verification; a page whose bucket falls
    outside that range (or is NULL) fails the work-list scan.

    The returned dict carries ``scanned_pages`` (False when the checkpoint
    already covered every bucket, so the pages were never read) and
    ``processed_rows_out`` (tile rows written by this attempt).
    """
    import uuid

    run_id = run_id or uuid.uuid4().hex[:12]
    if bucket_expr is None:
        bucket_expr = F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets))
    b = bucket_expr.cast("int")
    bucket = F.when(b.between(0, n_buckets - 1), b).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"run_geo_pipeline: bucket_expr must be in [0, {n_buckets}), got "),
                F.coalesce(b.cast("string"), F.lit("NULL")),
            )
        )
    )
    bucketed = pages.withColumn("_bucket", bucket)
    # a resume that finds every bucket complete never touches the pages:
    # bucket_expr is documented to stay in [0, n_buckets)
    complete = ckpt.completed_ids(STAGE)
    scanned = not complete.issuperset(range(n_buckets))
    rows_in: dict[int, int] = {}
    if scanned:
        open_pages = bucketed
        if complete:
            open_pages = bucketed.filter(~F.col("_bucket").isin(sorted(complete)))
        # one scan gives the work list and each unit's rows_in
        rows_in = {
            r["_bucket"]: r["count"]
            for r in open_pages.groupBy("_bucket").count().collect()
        }
    pending = sorted(rows_in)
    # fail_buckets simulates a crash: this attempt only reaches the rest
    todo = [u for u in pending if u not in (fail_buckets or ())]
    done: list[tuple] = []
    if todo:
        part = bucketed.filter(F.col("_bucket").isin(todo))
        joined = extract_pip(part, polygons, keep=["url", "lang", "_bucket"])
        tiled = assign_tiles(joined, zoom=zoom)
        # rows_out is observed after the repartition, i.e. in the write's
        # result stage, where retried tasks cannot count twice
        rows_out = Observation()
        observed = tiled.repartition("_bucket").observe(
            rows_out,
            *[F.expr(f"count_if(_bucket = {u})").alias(f"b{u}") for u in todo],
        )
        # dynamic partition overwrite: only the bucket directories in
        # THIS write are replaced, so a bucket retried after a partial
        # write + checkpoint miss lands exactly once (idempotent retry)
        (
            observed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bucket")
            .parquet(out_path)
        )
        out = rows_out.get
        done = [
            (run_id, STAGE, u, u, rows_in[u], int(out[f"b{u}"]), SUCCESS)
            for u in todo
        ]
        ckpt.log(done)
    return {
        "run_id": run_id,
        "pending_before": len(pending),
        "processed_units": len(done),
        "processed_rows": sum(r[4] for r in done),
        "resumed": len(pending) < n_buckets,
        "scanned_pages": scanned,
        "processed_rows_out": sum(r[5] for r in done),
    }
