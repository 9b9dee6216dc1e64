"""Tile-layer tests: numpy is the oracle — every operator's result is
compared against the direct dense-array computation."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from spatialdata_spark.operators.raster import (
    RasterMeta,
    bounding_box_query_tiles,
    build_pyramid,
    downsample_tiles,
    export_region_tiles,
    long_to_tiles,
    map_tiles,
    map_tiles_with_halo,
    select_pyramid_level,
    tiles_to_long,
    unpad_raster,
    zonal_stats_tiles,
)

H, W, TS = 50, 70, 16


@pytest.fixture(scope="module")
def dense():
    rng = np.random.default_rng(7)
    a = np.zeros((H, W))
    yy, xx = rng.integers(0, H, 400), rng.integers(0, W, 400)
    a[yy, xx] = rng.integers(1, 100, 400).astype(float)
    return a


def _to_long_df(spark, a):
    yy, xx = np.nonzero(a)
    rows = [(int(y), int(x), float(a[y, x])) for y, x in zip(yy, xx)]
    return spark.createDataFrame(rows, ["y", "x", "value"])


@pytest.fixture(scope="module")
def meta():
    return RasterMeta(height=H, width=W, tile=TS)


@pytest.fixture(scope="module")
def tiles(spark, dense, meta):
    return long_to_tiles(_to_long_df(spark, dense), meta).cache()


def _collect_dense(tiles_df, meta, scale=0):
    h, w = meta.shape_at(scale)
    out = np.zeros((h, w))
    for r in tiles_to_long(tiles_df, meta, scale=scale).collect():
        out[r["y"], r["x"]] = r["value"]
    return out


def test_roundtrip(tiles, dense, meta):
    assert np.array_equal(_collect_dense(tiles, meta), dense)


def test_map_tiles(tiles, dense, meta):
    out = map_tiles(tiles, lambda a: a * 2.0, meta)
    assert np.array_equal(_collect_dense(out, meta), dense * 2.0)


def test_map_tiles_with_halo_boxsum(tiles, dense, meta):
    def boxsum(a):
        k = np.zeros_like(a)
        p = np.pad(a, 1)
        for dy in (0, 1, 2):
            for dx in (0, 1, 2):
                k += p[dy : dy + a.shape[0], dx : dx + a.shape[1]]
        return k

    out = map_tiles_with_halo(tiles, boxsum, meta, halo=1)
    got = _collect_dense(out, meta)
    want = boxsum(dense)
    # interior tiles exist only where the input had tiles; all tiles of
    # this fixture are present, so the comparison is global
    assert np.array_equal(got, want)


def test_bbox_query_tiles(tiles, dense, meta):
    y0, x0, y1, x1 = 10, 5, 40, 60
    out = bounding_box_query_tiles(tiles, meta, y0, x0, y1, x1)
    got = _collect_dense(out, meta)
    want = np.zeros_like(dense)
    want[y0:y1, x0:x1] = dense[y0:y1, x0:x1]
    assert np.array_equal(got, want)


def test_unpad(spark, meta):
    a = np.zeros((H, W))
    a[12:30, 20:44] = 5.0
    t = long_to_tiles(_to_long_df(spark, a), meta)
    out, (y0, x0, y1, x1) = unpad_raster(t, meta)
    assert (y0, x0, y1, x1) == (12, 20, 30, 44)
    got = _collect_dense(out, meta)
    assert np.array_equal(got, a)  # crop keeps coordinates, zeroes outside


def test_pyramid_sum(tiles, dense, meta):
    out = downsample_tiles(tiles, meta, scale=0, reduction="sum")
    got = _collect_dense(out, meta, scale=1)
    padded = np.zeros((64, 80))  # pad to tile multiples (4x5 tiles of 16)
    padded[:H, :W] = dense
    want = padded.reshape(32, 2, 40, 2).sum(axis=(1, 3))[: meta.shape_at(1)[0], : meta.shape_at(1)[1]]
    assert np.array_equal(got, want)


def test_pyramid_levels(tiles, meta):
    pyr = build_pyramid(tiles, meta, n_scales=2)
    scales = sorted(r["scale"] for r in pyr.select("scale").distinct().collect())
    assert scales == [0, 1, 2]
    assert select_pyramid_level(meta, 2, target_resolution=1.0) == 0
    assert select_pyramid_level(meta, 2, target_resolution=3.0) == 1
    assert select_pyramid_level(meta, 2, target_resolution=6.0) == 2


def test_zonal_stats_tiles(spark, tiles, dense, meta):
    labels = np.zeros((H, W), dtype=np.int64)
    labels[:25, :] = 1
    labels[25:, :35] = 2
    lmeta = RasterMeta(height=H, width=W, tile=TS, dtype="i8")
    yy, xx = np.nonzero(labels)
    ldf = spark.createDataFrame(
        [(int(y), int(x), int(labels[y, x])) for y, x in zip(yy, xx)], ["y", "x", "value"]
    )
    ltiles = long_to_tiles(ldf, lmeta)
    out = {r["label"]: (r["sum_value"], r["n"], r["mean_value"]) for r in zonal_stats_tiles(tiles, ltiles, meta, lmeta).collect()}
    for lab in (1, 2):
        m = labels == lab
        # zero-padded pixels inside the label mask count toward n (dense
        # zonal semantics, like xrspatial over a dense array)
        assert out[lab][0] == dense[m].sum()
        assert out[lab][1] == m.sum()


def _direct_resample(dense, m, out_shape, order):
    a00, a01, b0 = m[0]
    a10, a11, b1 = m[1]
    oy, ox = np.mgrid[0 : out_shape[0], 0 : out_shape[1]]
    iy = a00 * oy + a01 * ox + b0
    ix = a10 * oy + a11 * ox + b1
    h, w = dense.shape
    out = np.zeros(out_shape)
    if order == 0:
        ry = np.floor(iy + 0.5).astype(int)
        rx = np.floor(ix + 0.5).astype(int)
        ok = (ry >= 0) & (ry < h) & (rx >= 0) & (rx < w)
        out[ok] = dense[ry[ok], rx[ok]]
        return out
    fy = np.floor(iy).astype(int)
    fx = np.floor(ix).astype(int)
    wy, wx = iy - fy, ix - fx

    def at(yy, xx):
        ok = (yy >= 0) & (yy < h) & (xx >= 0) & (xx < w)
        v = np.zeros_like(wy)
        v[ok] = dense[yy[ok], xx[ok]]
        return v

    return (
        at(fy, fx) * (1 - wy) * (1 - wx)
        + at(fy, fx + 1) * (1 - wy) * wx
        + at(fy + 1, fx) * wy * (1 - wx)
        + at(fy + 1, fx + 1) * wy * wx
    )


@pytest.mark.parametrize("order", [0, 1])
def test_affine_resample(tiles, dense, meta, order):
    from spatialdata_spark.operators.raster import transform_raster_tiles

    # rotation+scale inverse map: i = R(15deg)/1.7 @ o + t
    th = np.deg2rad(15)
    s = 1 / 1.7
    m = np.array(
        [
            [s * np.cos(th), -s * np.sin(th), 3.2],
            [s * np.sin(th), s * np.cos(th), -1.1],
            [0, 0, 1],
        ]
    )
    out_meta = RasterMeta(height=80, width=96, tile=TS)
    got_tiles = transform_raster_tiles(tiles, meta, m, out_meta, order=order)
    got = _collect_dense(got_tiles, out_meta)
    want = _direct_resample(dense, m, (80, 96), order)
    assert np.allclose(got, want)


def test_export_region_tiles(spark, tiles, dense, meta):
    regions = spark.createDataFrame([(1, 20, 30), (2, 8, 60)], ["region_id", "cy", "cx"])
    out = export_region_tiles(tiles, meta, regions, tile_px=12)
    rows = {r["region_id"]: r for r in out.collect()}
    for rid, cy, cx in [(1, 20, 30), (2, 8, 60)]:
        r = rows[rid]
        got = np.frombuffer(r["data"], dtype=np.float64).reshape(12, 12)
        y0, x0 = cy - 6, cx - 6
        want = np.zeros((12, 12))
        src = dense[max(0, y0) : y0 + 12, max(0, x0) : x0 + 12]
        want[max(0, -y0) : max(0, -y0) + src.shape[0], max(0, -x0) : max(0, -x0) + src.shape[1]] = src
        assert np.array_equal(got, want)


def test_pyramid_store_level_pruning(spark, tiles, meta, tmp_path):
    import io
    from contextlib import redirect_stdout

    from spatialdata_spark.operators.raster import (
        build_pyramid,
        read_pyramid_level,
        write_pyramid_store,
    )

    pyr = build_pyramid(tiles, meta, n_scales=2)
    path = str(tmp_path / "pyr")
    write_pyramid_store(pyr, path)

    df, level = read_pyramid_level(spark, path, meta, 2, target_resolution=3.0)
    assert level == 1
    # same rows as the in-memory pyramid at that scale
    want = pyr.filter(F.col("scale") == 1).select("ty", "tx").orderBy("ty", "tx").collect()
    got = df.select("ty", "tx").orderBy("ty", "tx").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "scale" in plan


def test_select_pyramid_level_for_rasterize_matches_reference_rule():
    """Mirror of _core/operations/rasterize.py:407-451 walked by hand on
    a 10k x 10k asv-style scene with 5 pyramid levels (factor 2)."""
    from spatialdata_spark.operators.raster import RasterMeta, select_pyramid_level_for_rasterize

    meta = RasterMeta(height=10000, width=10000, tile=256, scale_factor=2)
    t = {"y": 300.0, "x": 300.0}
    # bbox 10000px: at s=4 -> 625px >= 300*sqrt(2)=424.2 on both axes -> coarsest qualifying is 4
    assert select_pyramid_level_for_rasterize(meta, 4, {"y": 10000.0, "x": 10000.0}, t) == 4
    # bbox 3000px: s=3 -> 375 < 424.2 fails; s=2 -> 750 >= 424.2 -> 2
    assert select_pyramid_level_for_rasterize(meta, 4, {"y": 3000.0, "x": 3000.0}, t) == 2
    # bbox 500px: only full resolution has enough pixels -> 0
    assert select_pyramid_level_for_rasterize(meta, 4, {"y": 500.0, "x": 500.0}, t) == 0
    # anisotropic: the *every axis* rule is limited by the short axis
    assert select_pyramid_level_for_rasterize(meta, 4, {"y": 10000.0, "x": 900.0}, t) == 1
    # rotated 1000px square: axis-aligned bounds grow to ~1414px but the
    # sqrt(2) slack compensates -> same level as the unrotated 1000px box
    assert select_pyramid_level_for_rasterize(meta, 4, {"y": 1414.2, "x": 1414.2}, t) == 1
    assert select_pyramid_level_for_rasterize(meta, 4, {"y": 1000.0, "x": 1000.0}, t) == 1


def test_image_tiles_dataset(spark, dense):
    """ImageTilesDataset analog: per-region windows stream back as numpy
    arrays, matching direct dense-array crops (reference
    dataloader/datasets.py)."""
    from spatialdata_spark.dataloader import ImageTilesDataset

    meta = RasterMeta(height=H, width=W, tile=TS)
    tiles = long_to_tiles(_to_long_df(spark, dense), meta)
    regions = spark.createDataFrame(
        [(1, 10.0, 12.0), (2, 30.0, 40.0)], "region_id long, cy double, cx double"
    )
    ds = ImageTilesDataset(tiles, meta, regions, tile_px=8, transform=lambda a: a * 2.0)
    assert len(ds) == 2
    got = dict(iter(ds))
    assert set(got) == {1, 2}
    for rid, (cy, cx) in ((1, (10, 12)), (2, (30, 40))):
        y0, x0 = cy - 4, cx - 4
        exp = np.zeros((8, 8))
        sub = dense[max(0, y0) : y0 + 8, max(0, x0) : x0 + 8]
        exp[: sub.shape[0], : sub.shape[1]] = sub
        np.testing.assert_allclose(got[rid], exp * 2.0)


def test_zonal_quantiles_long(spark):
    from spatialdata_spark.operators.raster import zonal_quantiles_long

    img = spark.createDataFrame(
        [(0, 0, 0, 1.0), (0, 0, 1, 2.0), (0, 1, 0, 10.0), (0, 1, 1, 11.0)],
        ["c", "y", "x", "value"],
    )
    labels = spark.createDataFrame(
        [(0, 0, 5), (0, 1, 5), (1, 0, 5), (1, 1, 5)], ["y", "x", "value"]
    )
    r = zonal_quantiles_long(img, labels).first()
    # values {1,2,10,11}: q25=1.75, q50=6.0, q75=10.25 (linear interp)
    assert (r["label"], r["c"]) == (5, 0)
    assert abs(r["q25"] - 1.75) < 1e-12
    assert abs(r["q50"] - 6.0) < 1e-12
    assert abs(r["q75"] - 10.25) < 1e-12


# the pyspark release whose private calls (_map_in_pandas_cached,
# _apply_in_pandas_cached, session.scoped_views) were checked against
PYSPARK_CHECKED = "4.1.2"


def test_private_pyspark_calls_are_pinned(spark):
    """``_map_in_pandas_cached`` calls ``df._jdf.mapInPandas(jc, False,
    None)`` and ``_apply_in_pandas_cached`` calls
    ``grouped._jgd.flatMapGroupsInPandas(jc)``: private signatures that
    have drifted between pyspark releases before.  Both mirror the
    public mixin bodies, so an upgrade must re-check them.
    ``session.scoped_views`` drops its views with
    ``_jsparkSession.sessionState().catalog().dropTempView(name)``, which
    must remove the name and leave the cache alone (the public
    ``Catalog.dropTempView`` also uncaches the view's plan)."""
    import inspect

    import pyspark
    from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin
    from pyspark.sql.pandas.map_ops import PandasMapOpsMixin

    assert pyspark.__version__ == PYSPARK_CHECKED, (
        f"pyspark {pyspark.__version__} is installed, but the private calls in "
        "spatialdata_spark/operators/raster.py (_jdf.mapInPandas(jc, False, None) and "
        "_jgd.flatMapGroupsInPandas(jc)) and spatialdata_spark/session.py "
        "(_jsparkSession.sessionState().catalog().dropTempView(name)) were checked on "
        f"pyspark {PYSPARK_CHECKED}: compare them with PandasMapOpsMixin.mapInPandas, "
        "PandasGroupedOpsMixin.applyInPandas and SessionCatalog.dropTempView of the new "
        "release, then update PYSPARK_CHECKED"
    )
    assert "self._jdf.mapInPandas(udf_column._jc, barrier, jrp)" in inspect.getsource(
        PandasMapOpsMixin.mapInPandas
    )
    assert "self._jgd.flatMapGroupsInPandas(udf_column._jc)" in inspect.getsource(
        PandasGroupedOpsMixin.applyInPandas
    )
    df = spark.range(3).persist()
    try:
        df.count()
        df.createTempView("__pin_drop_temp_view")
        dropped = spark._jsparkSession.sessionState().catalog().dropTempView("__pin_drop_temp_view")
        assert dropped and not spark.catalog.tableExists("__pin_drop_temp_view"), (
            "sessionState().catalog().dropTempView(name) no longer drops the view"
        )
        assert df.storageLevel.useMemory, (
            "sessionState().catalog().dropTempView(name) uncached the view's plan"
        )
    finally:
        df.unpersist()
