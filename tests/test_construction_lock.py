"""Pin the plan-construction thread-safety contract: operators that
build ``spark.sql`` text over temp views (circle-aggregation here as the
representative) register them under unique names through
``session.scoped_views``, so concurrent library callers on one session
can never resolve their view names against another thread's data.
tests/test_scoped_views.py covers all five such operators."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from spatialdata_spark.operators.aggregate import aggregate_points_by_circles


def test_concurrent_construction_is_cross_wire_free(spark):
    # two clearly distinguishable datasets: one circle, points all
    # inside it; dataset A has 40 points, dataset B has 7
    def mk(n_points):
        pts = spark.range(n_points).select(
            (F.lit(5.0) + (F.col("id") % 3) * 0.1).alias("x"),
            (F.lit(5.0) + (F.col("id") % 5) * 0.1).alias("y"),
        )
        shp = spark.sql(
            "SELECT 1 AS shape_id, 'circle' AS kind, CAST(NULL AS BINARY) AS wkb, "
            "2.0D AS minx, 2.0D AS miny, 8.0D AS maxx, 8.0D AS maxy, 3.0D AS radius"
        )
        return pts, shp

    a_pts, a_shp = mk(40)
    b_pts, b_shp = mk(7)

    def run(args):
        pts, shp, expect = args
        df = aggregate_points_by_circles(pts, shp, cell_size=0.5)
        rows = df.collect()
        return expect, {r["by_id"]: r["n"] for r in rows}

    jobs = [(a_pts, a_shp, 40), (b_pts, b_shp, 7)] * 4
    with ThreadPoolExecutor(max_workers=4) as pool:
        for expect, got in pool.map(run, jobs):
            assert got == {1: expect}, f"expected {{1: {expect}}}, got {got}"
