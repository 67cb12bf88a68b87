"""Fused extract->PIP single-stage operator == the two-stage composition."""

from __future__ import annotations

from pyspark.sql import functions as F

from landlensdb_spark import synth, tables
from landlensdb_spark.extract import extract_geotags
from landlensdb_spark.operators.fused import extract_pip
from landlensdb_spark.operators.pip_join import pip_join


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_extract_pip_matches_composition(spark):
    pages = tables.pages(spark, 4000, clustered=True, num_partitions=8)
    polys = synth.admin_polygons(spark)

    fused = extract_pip(pages, polys, keep=["url", "lang"])
    composed = pip_join(
        extract_geotags(pages, with_text=False).select("url", "lang", "lon", "lat"),
        polys,
    )

    cols = ["url", "lang", "lon", "lat", "admin_id"]
    assert _sorted_rows(fused, cols) == _sorted_rows(composed, cols)


def test_extract_pip_with_text_and_default_keep(spark):
    pages = tables.pages(spark, 1000, num_partitions=4)
    polys = synth.admin_polygons(spark)
    out = extract_pip(pages, polys, with_text=True)
    # default keep = every non-html page column, + extraction + polygon id
    assert "html" not in out.columns
    assert {"lon", "lat", "text_extracted", "admin_id"} <= set(out.columns)
    rows = out.collect()
    assert rows and all(r.text_extracted is not None for r in rows)
    # text byte-parity with the standalone extractor (north-rule invariant)
    ref = {
        r.url: r.text_extracted
        for r in extract_geotags(pages).select("url", "text_extracted").collect()
    }
    assert all(ref[r.url] == r.text_extracted for r in rows)


def test_extract_pip_single_python_stage(spark, tmp_path):
    # materialize so the plan under test starts from a parquet scan (the
    # synthetic pages generator is itself a MapInArrow)
    path = str(tmp_path / "pages.parquet")
    tables.pages(spark, 200, num_partitions=2).write.parquet(path)
    pages = spark.read.parquet(path)
    polys = synth.admin_polygons(spark)
    plan = (
        extract_pip(pages, polys)
        .groupBy("admin_id")
        .count()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # exactly one python stage end-to-end (the fused map), vs two for the
    # composable extract |> pip chain (MapInArrow since r08 — the html
    # payload stays an Arrow column through the whole kernel)
    assert plan.count("MapInArrow") == 1
    assert "MapInPandas" not in plan
    assert "ArrowEvalPython" not in plan


def test_extract_pip_multiring_polygons_match_composition(spark):
    # irregular build side: concave L, holed polygon, triangle — exercises
    # the fused path's multi-ring refine branch (lengths==0 lookup)
    L = [[0.0, 0.0], [8.0, 0.0], [8.0, 2.0], [2.0, 2.0], [2.0, 8.0], [0.0, 8.0], [0.0, 0.0]]
    shell = [[10.0, 10.0], [20.0, 10.0], [20.0, 20.0], [10.0, 20.0], [10.0, 10.0]]
    hole = [[14.0, 14.0], [16.0, 14.0], [16.0, 16.0], [14.0, 16.0], [14.0, 14.0]]
    tri = [[-1.0, -1.0], [6.0, 1.0], [1.0, 6.0], [-1.0, -1.0]]
    polys = spark.createDataFrame(
        [(0, "L", [L]), (1, "holed", [shell, hole]), (2, "tri", [tri])],
        "admin_id long, name string, ring array<array<array<double>>>",
    )
    pages = tables.pages(spark, 6000, num_partitions=8)

    fused = extract_pip(pages, polys, keep=["url"], rings_col="ring")
    composed = pip_join(
        extract_geotags(pages, with_text=False).select("url", "lon", "lat"),
        polys,
        rings_col="ring",
    )
    cols = ["url", "lon", "lat", "admin_id"]
    got = _sorted_rows(fused, cols)
    assert got == _sorted_rows(composed, cols)
    assert len(got) > 0  # some globally-spread pages do land in the shapes


def test_extract_pip_keep_typo_raises(spark):
    import pytest

    pages = tables.pages(spark, 10)
    polys = synth.admin_polygons(spark)
    with pytest.raises(ValueError, match="ur1"):
        extract_pip(pages, polys, keep=["ur1", "lang"])
