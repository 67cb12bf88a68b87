"""Staged pipeline job: crash mid-run, resume, identical output, no rework."""

from __future__ import annotations

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from landlensdb_spark import synth, tables
from landlensdb_spark.checkpoint import CheckpointTable
from landlensdb_spark.pipeline import STAGE, run_geo_pipeline


def _rows(spark, path):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .select("url", "admin_id", "tile_x", "tile_y")
        .collect()
    )


def test_pipeline_resume_idempotent(spark, tmp_path):
    pages = tables.pages(spark, 2000, clustered=True, num_partitions=8)
    polys = synth.admin_polygons(spark)

    # reference run: single uninterrupted pass
    ref_out = str(tmp_path / "ref")
    ref_ckpt = CheckpointTable(spark, str(tmp_path / "ref_ckpt"))
    m0 = run_geo_pipeline(spark, pages, polys, ref_out, ref_ckpt, n_buckets=8)
    assert m0["processed_units"] == 8 and not m0["resumed"]

    # crashed run: buckets {5, 6, 7} never complete in attempt 1
    out = str(tmp_path / "out")
    ckpt = CheckpointTable(spark, str(tmp_path / "ckpt"))
    m1 = run_geo_pipeline(
        spark, pages, polys, out, ckpt, n_buckets=8, fail_buckets={5, 6, 7}
    )
    assert m1["processed_units"] == 5

    # resume: only the 3 missing buckets are pending and processed
    m2 = run_geo_pipeline(spark, pages, polys, out, ckpt, n_buckets=8)
    assert m2["resumed"]
    assert m2["pending_before"] == 3 and m2["processed_units"] == 3

    # identical final table, lineage row per bucket
    assert _rows(spark, out) == _rows(spark, ref_out)
    lineage = ckpt.read().filter(F.col("stage") == STAGE)
    assert lineage.count() == 8

    # per-bucket exactness: rows_in is the bucket's page count, rows_out the
    # row count of its _bucket=<b> output directory
    bucket = F.pmod(F.xxhash64("url"), F.lit(8))
    pages_per_bucket = dict(pages.groupBy(bucket).count().collect())
    for r in lineage.collect():
        assert r.rows_in == pages_per_bucket[r.unit_id], r
        assert r.rows_out == spark.read.parquet(f"{out}/_bucket={r.unit_id}").count(), r
    assert m1["scanned_pages"] and m2["scanned_pages"]
    assert m1["processed_rows_out"] + m2["processed_rows_out"] == len(_rows(spark, out))

    # third run finds every bucket complete: a no-op that never scans the
    # pages, so at most the checkpoint read runs as a Spark job
    sc = spark.sparkContext
    sc.setJobGroup("pipeline_noop_resume", "complete-resume job count")
    try:
        m3 = run_geo_pipeline(spark, pages, polys, out, ckpt, n_buckets=8)
    finally:
        sc.setJobGroup(None, None)
    assert m3["processed_units"] == 0 and m3["pending_before"] == 0
    assert not m3["scanned_pages"] and m3["processed_rows_out"] == 0
    jobs = sc.statusTracker().getJobIdsForGroup("pipeline_noop_resume")
    assert len(jobs) <= 1, f"complete resume ran {len(jobs)} jobs"


def test_pipeline_lineage_row_counts(spark, tmp_path):
    pages = tables.pages(spark, 1000, num_partitions=4)
    polys = synth.admin_polygons(spark)
    out = str(tmp_path / "out")
    ckpt = CheckpointTable(spark, str(tmp_path / "ckpt"))
    run_geo_pipeline(spark, pages, polys, out, ckpt, n_buckets=4)
    lineage = ckpt.read()
    # rows_in sums to the full page count; rows_out to the joined table size
    agg = lineage.agg(
        F.sum("rows_in").alias("rin"), F.sum("rows_out").alias("rout")
    ).collect()[0]
    assert agg.rin == 1000
    assert agg.rout == spark.read.parquet(out).count()


def test_pipeline_bucket_out_of_range_fails_loudly(spark, tmp_path):
    pages = tables.pages(spark, 200, num_partitions=2)
    polys = synth.admin_polygons(spark)
    ckpt = CheckpointTable(spark, str(tmp_path / "ckpt"))
    with pytest.raises(SparkRuntimeException, match=r"bucket_expr must be in \[0, 4\), got 4"):
        run_geo_pipeline(
            spark, pages, polys, str(tmp_path / "out"), ckpt, n_buckets=4,
            bucket_expr=F.pmod(F.xxhash64("url"), F.lit(5)),
        )
    assert ckpt.completed_ids(STAGE) == set()
