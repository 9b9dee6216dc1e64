"""Zarr v2 / OME-NGFF store IO tests (pure-stdlib zarr implementation)."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from spatialdata_spark.sources.zarrio import (
    read_zarr_store,
    read_zarr_tiles,
    write_tiles_to_zarr,
    write_zarr_store,
    zarr_read_array,
    zarr_write_array,
)


def test_array_roundtrip_codecs(tmp_path):
    rng = np.random.default_rng(0)
    for codec in [None, "zlib", "gzip", "bz2"]:
        a = rng.standard_normal((7, 11)).astype("f8")
        p = str(tmp_path / f"arr_{codec}")
        zarr_write_array(p, a, chunks=(4, 4), compressor=codec)
        assert np.array_equal(zarr_read_array(p), a)
        # spec-valid v2 metadata on disk
        meta = json.load(open(os.path.join(p, ".zarray")))
        assert meta["zarr_format"] == 2 and meta["chunks"] == [4, 4]


def test_unsupported_compressor_is_a_clear_error(tmp_path):
    p = tmp_path / "lzma_arr"
    p.mkdir()
    (p / ".zarray").write_text(
        json.dumps(
            {
                "zarr_format": 2,
                "shape": [2, 2],
                "chunks": [2, 2],
                "dtype": "<f8",
                "compressor": {"id": "lzma"},
                "fill_value": 0,
                "order": "C",
                "filters": None,
            }
        )
    )
    with pytest.raises(ValueError, match="lzma"):
        zarr_read_array(str(p))


def test_missing_chunks_are_fill_value(tmp_path):
    a = np.arange(16, dtype="f8").reshape(4, 4)
    p = str(tmp_path / "arr")
    zarr_write_array(p, a, chunks=(2, 2))
    os.remove(os.path.join(p, "1.1"))  # drop the last chunk
    out = zarr_read_array(p)
    assert np.array_equal(out[:2, :], a[:2, :])
    assert (out[2:, 2:] == 0).all()


def test_tiles_zarr_roundtrip_distributed(spark, tmp_path):
    from spatialdata_spark.operators.raster import RasterMeta, long_to_tiles, tiles_to_long

    meta = RasterMeta(height=70, width=50, tile=32, dtype="f8")
    rows = [(0, y, x, float(y * 100 + x)) for y in range(0, 70, 3) for x in range(0, 50, 7)]
    long_df = spark.createDataFrame(rows, "c int, y long, x long, value double")
    tiles = long_to_tiles(long_df, meta)
    p = str(tmp_path / "raster0")
    n = write_tiles_to_zarr(tiles, meta, p, compressor="zlib")
    assert n == 6  # ceil(70/32) * ceil(50/32) tiles
    back, meta2 = read_zarr_tiles(spark, p)
    assert (meta2.height, meta2.width, meta2.tile) == (70, 50, 32)
    got = {
        (r["y"], r["x"]): r["value"]
        for r in tiles_to_long(back, meta2).filter(F.col("value") != 0).collect()
    }
    exp = {(y, x): v for _, y, x, v in rows if v != 0}
    assert got == exp


def test_container_store_roundtrip(spark, tmp_path):
    from spatialdata_spark.catalog import SpatialDataset
    from spatialdata_spark.operators.raster import RasterMeta
    from spatialdata_spark.transformations import Scale, Sequence, Translation

    pts = spark.createDataFrame([(i, float(i), float(2 * i)) for i in range(20)], "id long, x double, y double")
    labels = spark.createDataFrame(
        [(y, x, (y * 7 + x) % 5 + 1) for y in range(40) for x in range(30)], "y long, x long, label long"
    )
    table = spark.createDataFrame([(1, "cells", 3.5)], "instance_id long, region string, v double")
    t = Sequence([Scale([2.0, 2.0], ("x", "y")), Translation([1.0, -1.0], ("x", "y"))])

    ds = SpatialDataset(spark)
    ds.add_points("pts", pts, {"global": t})
    ds.add_labels("cells", labels, {"global": Scale([1.0, 1.0], ("y", "x"))})
    ds.add_table("tab", table, region="cells")

    p = str(tmp_path / "store.zarr")
    write_zarr_store(ds, p, raster_meta={"cells": RasterMeta(height=40, width=30, tile=32, dtype="i8")})

    # spec surface: zarr group documents exist
    assert json.load(open(os.path.join(p, ".zgroup")))["zarr_format"] == 2
    root_attrs = json.load(open(os.path.join(p, ".zattrs")))
    assert root_attrs["spatialdata_attrs"]["version"] == "0.1"
    assert os.path.exists(os.path.join(p, "labels", "cells", "0", ".zarray"))

    back = read_zarr_store(spark, p)
    assert sorted(r["id"] for r in back.points["pts"].collect()) == list(range(20))
    got_labels = {(r["y"], r["x"]): r["label"] for r in back.labels["cells"].collect()}
    exp_labels = {(y, x): (y * 7 + x) % 5 + 1 for y in range(40) for x in range(30)}
    assert got_labels == exp_labels
    # transform round-trips through the NGFF dict form
    m0 = ds.get_transformation("pts", "global").to_affine_matrix(("x", "y"), ("x", "y"))
    m1 = back.get_transformation("pts", "global").to_affine_matrix(("x", "y"), ("x", "y"))
    assert np.allclose(m0, m1)
    assert back.table_meta["tab"].region == ["cells"]

    # selection + bad-file tolerance
    only_pts = read_zarr_store(spark, p, selection=("points",))
    assert only_pts.element_names() == ["pts"]
    os.remove(os.path.join(p, "points", "pts", ".zattrs"))
    import shutil

    shutil.rmtree(os.path.join(p, "points", "pts", "points.parquet"))
    with pytest.warns(UserWarning):
        tolerant = read_zarr_store(spark, p, on_bad_files="warn")
    assert "pts" not in tolerant.element_names()


def test_consolidated_metadata(spark, tmp_path):
    from spatialdata_spark.catalog import SpatialDataset
    from spatialdata_spark.sources.zarrio import read_consolidated_metadata, read_zarr_store
    from spatialdata_spark.transformations import Identity

    pts = spark.createDataFrame([(1, 2.0, 3.0)], "id long, x double, y double")
    ds = SpatialDataset(spark).add_points("pts", pts, {"global": Identity()})
    p = str(tmp_path / "store.zarr")
    ds.write_zarr(p)
    meta = read_consolidated_metadata(p)
    assert meta is not None and ".zgroup" in meta
    assert "points/pts/.zattrs" in meta
    # reading resolves attrs from the consolidated doc even when the
    # per-group sidecar is gone
    os.remove(os.path.join(p, "points", "pts", ".zattrs"))
    back = read_zarr_store(spark, p)
    assert "global" in back.transforms["pts"]


def test_reference_style_geoparquet_shapes(spark, tmp_path):
    """A shapes.parquet laid out the way the reference writes it
    (geometry WKB column + radius + persisted index, ShapesFormatV02+)
    normalizes into the denormalized shapes schema on zarr read."""
    from spatialdata_spark.geometry.wkb import encode_point, encode_polygon
    from spatialdata_spark.sources.zarrio import read_zarr_store, write_group

    ring = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 3.0], [0.0, 3.0]])
    rows = [
        (10, bytes(encode_point(5.0, 6.0)), 2.0),
        (11, bytes(encode_polygon([ring])), None),
    ]
    df = spark.createDataFrame(rows, "__index_level_0__ long, geometry binary, radius double")
    p = tmp_path / "refstore"
    gpath = p / "shapes" / "cells"
    df.coalesce(1).write.parquet(str(gpath / "shapes.parquet"))
    write_group(str(p), {"spatialdata_attrs": {"version": "0.1"}})
    write_group(str(p / "shapes"))
    write_group(str(gpath), {"spatialdata_attrs": {"version": "0.1"}})

    ds = read_zarr_store(spark, str(p))
    got = {r["shape_id"]: r for r in ds.shapes["cells"].collect()}
    assert got[10]["kind"] == "point" and got[10]["minx"] == 3.0 and got[10]["maxy"] == 8.0
    assert got[11]["kind"] == "polygon" and got[11]["maxx"] == 4.0 and got[11]["radius"] is None


def test_zarr_tiles_feed_bbox_query(spark, tmp_path):
    """Chunks decoded from a zarr store flow straight into the tile
    bbox query — the zarr layer integrates with the operator stack, not
    just with itself."""
    from spatialdata_spark.operators.raster import (
        RasterMeta,
        bounding_box_query_tiles,
        long_to_tiles,
        tiles_to_long,
    )
    from spatialdata_spark.sources.zarrio import read_zarr_tiles, write_tiles_to_zarr

    meta = RasterMeta(height=80, width=80, tile=32, dtype="f8")
    rows = [(0, y, x, float(y * 1000 + x)) for y in range(80) for x in range(0, 80, 5)]
    long_df = spark.createDataFrame(rows, "c int, y long, x long, value double")
    p = str(tmp_path / "arr")
    write_tiles_to_zarr(long_to_tiles(long_df, meta), meta, p)

    tiles, meta2 = read_zarr_tiles(spark, p)
    q = bounding_box_query_tiles(tiles, meta2, 10, 5, 40, 41)
    got = {
        (r["y"], r["x"]): r["value"]
        for r in tiles_to_long(q, meta2).filter(F.col("value") != 0).collect()
    }
    exp = {
        (y, x): float(y * 1000 + x)
        for y in range(10, 40)
        for x in range(5, 41, 5)
        if y * 1000 + x != 0
    }
    assert got == exp


FIXDIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def _fixture_expected():
    yy, xx = np.mgrid[0:8, 0:8].astype(np.float64)
    return {
        (0, 0): np.full((8, 8), 7.0),
        (0, 1): yy * 10.0 + xx,
        (1, 0): xx * 2.0 + 1.0,
        (1, 1): yy - xx,
    }


def test_blosc_fixture_store_content_hash(spark):
    """Committed blosc-lz4 chunk bytes (incl. a hand-encoded LZ4 match
    stream and a memcpyed chunk) decode through the distributed tile
    reader to the exact expected pixels (reference writes blosc by
    default: _io/io_raster.py:350-384)."""
    p = os.path.join(FIXDIR, "blosc_store", "image", "0")
    tiles, meta = read_zarr_tiles(spark, p)
    assert (meta.height, meta.width, meta.tile, meta.n_channels) == (16, 16, 8, 1)
    got = {
        (r["ty"], r["tx"]): np.frombuffer(bytes(r["tile"]), dtype="f8").reshape(8, 8)
        for r in tiles.collect()
    }
    exp = _fixture_expected()
    assert set(got) == set(exp)
    for k in exp:
        assert np.array_equal(got[k], exp[k]), k
    import hashlib

    digest = hashlib.sha256(
        b"".join(got[k].tobytes() for k in sorted(got))
    ).hexdigest()
    assert digest == "b0bac531c623f2371c9969f1481dec7cb5b17b905c301df4cc97cbe2bf84957e"


def test_nested_dimension_separator_store(spark):
    """'/'-nested chunk directories (the ome-zarr NGFF v0.4 layout) are
    listed and decoded; same pixel content as the flat fixture."""
    p = os.path.join(FIXDIR, "nested_store", "image", "0")
    tiles, meta = read_zarr_tiles(spark, p)
    got = {
        (r["ty"], r["tx"]): np.frombuffer(bytes(r["tile"]), dtype="f8").reshape(8, 8)
        for r in tiles.collect()
    }
    exp = _fixture_expected()
    assert set(got) == set(exp)
    for k in exp:
        assert np.array_equal(got[k], exp[k]), k


def test_separator_mismatch_is_an_error(spark, tmp_path):
    """Chunks laid out nested but .zarray claiming '.' (or vice versa)
    raise instead of silently returning an empty raster."""
    import shutil

    src = os.path.join(FIXDIR, "nested_store", "image", "0")
    dst = str(tmp_path / "bad")
    shutil.copytree(src, dst)
    meta = json.load(open(os.path.join(dst, ".zarray")))
    del meta["dimension_separator"]  # now claims flat '.'
    json.dump(meta, open(os.path.join(dst, ".zarray"), "w"))
    with pytest.raises(ValueError, match="dimension_separator"):
        read_zarr_tiles(spark, dst)


def test_blosc_array_roundtrip(tmp_path):
    rng = np.random.default_rng(3)
    a = (rng.standard_normal((13, 9)) * 100).astype("<i4")
    p = str(tmp_path / "blosc_arr")
    zarr_write_array(p, a, chunks=(8, 8), compressor="blosc")
    meta = json.load(open(os.path.join(p, ".zarray")))
    assert meta["compressor"]["id"] == "blosc"
    assert np.array_equal(zarr_read_array(p), a)


def test_labels_written_2d_ngff_conformant(spark, tmp_path):
    """Labels arrays on disk are true 2-d (y, x) with 2-part chunk keys,
    matching the 2-axis multiscales metadata external readers validate."""
    from spatialdata_spark.catalog import SpatialDataset
    from spatialdata_spark.operators.raster import RasterMeta

    labels = spark.createDataFrame(
        [(y, x, (y + x) % 4 + 1) for y in range(20) for x in range(20)], "y long, x long, label long"
    )
    ds = SpatialDataset(spark)
    ds.add_labels("cells", labels)
    p = str(tmp_path / "store.zarr")
    write_zarr_store(ds, p, raster_meta={"cells": RasterMeta(height=20, width=20, tile=16, dtype="i8")})
    apath = os.path.join(p, "labels", "cells", "0")
    meta = json.load(open(os.path.join(apath, ".zarray")))
    attrs = json.load(open(os.path.join(p, "labels", "cells", ".zattrs")))
    axes = [a["name"] for a in attrs["multiscales"][0]["axes"]]
    assert axes == ["y", "x"]
    assert len(meta["shape"]) == 2 == len(meta["chunks"])  # ndim matches axes
    chunk_names = [n for n in os.listdir(apath) if not n.startswith(".")]
    assert chunk_names and all(len(n.split(".")) == 2 for n in chunk_names)
    back = read_zarr_store(spark, p)
    got = {(r["y"], r["x"]): r["label"] for r in back.labels["cells"].collect()}
    assert got == {(y, x): (y + x) % 4 + 1 for y in range(20) for x in range(20)}


# ---------------------------------------------------------------------------
# chunk bytes, fail-fast, job groups and concurrent writes
# ---------------------------------------------------------------------------

IMG_C, IMG_H, IMG_W, IMG_TS = 2, 37, 50, 16
VOL_Z, VOL_H, VOL_W, VOL_TS = 3, 20, 20, 8


@pytest.fixture(scope="module")
def rasters():
    """Dense numpy oracles with some tiles left empty: a 2-channel image
    ``(c, y, x)``, 2-D labels ``(y, x)`` and 3-D labels ``(z, y, x)``."""
    rng = np.random.default_rng(5)
    img = np.zeros((IMG_C, IMG_H, IMG_W))
    for c in range(IMG_C):
        yy, xx = rng.integers(0, IMG_H, 150), rng.integers(0, IMG_W, 150)
        img[c, yy, xx] = rng.integers(1, 100, 150) + 0.5
    img[0, 16:32, 32:48] = 0  # tile (0, 1, 2) stays empty
    img[1, :16, :] = 0  # channel 1 has no tile in row 0
    lab = np.zeros((IMG_H, IMG_W), dtype=np.int64)
    yy, xx = rng.integers(0, IMG_H, 200), rng.integers(0, IMG_W, 200)
    lab[yy, xx] = rng.integers(1, 9, 200)
    lab[:, 16:32] = 0  # tile column 1 stays empty
    vol = np.zeros((VOL_Z, VOL_H, VOL_W), dtype=np.int64)
    zz, yy, xx = rng.integers(0, VOL_Z, 60), rng.integers(0, VOL_H, 60), rng.integers(0, VOL_W, 60)
    vol[zz, yy, xx] = rng.integers(1, 5, 60)
    vol[1] = 0  # plane 1 stays empty
    return {"image": img, "cells": lab, "vol": vol}


def _long_rows(a: np.ndarray) -> list[tuple]:
    return [tuple(int(i) for i in idx) + (a[idx].item(),) for idx in zip(*np.nonzero(a))]


def _raster_ds(spark, rasters, image_tiles: bool = False):
    from spatialdata_spark.catalog import SpatialDataset
    from spatialdata_spark.operators.raster import long_to_tiles

    image = spark.createDataFrame(_long_rows(rasters["image"]), "c int, y long, x long, value double")
    if image_tiles:
        image = long_to_tiles(image, _raster_meta()["image"])
    ds = SpatialDataset(spark)
    ds.add_images("image", image)
    ds.add_labels("cells", spark.createDataFrame(_long_rows(rasters["cells"]), "y long, x long, label long"))
    ds.add_labels("vol", spark.createDataFrame(_long_rows(rasters["vol"]), "z long, y long, x long, label long"))
    return ds


def _raster_meta():
    from spatialdata_spark.operators.raster import RasterMeta

    return {
        "image": RasterMeta(height=IMG_H, width=IMG_W, tile=IMG_TS, dtype="f8", n_channels=IMG_C),
        "cells": RasterMeta(height=IMG_H, width=IMG_W, tile=IMG_TS, dtype="i8"),
        "vol": RasterMeta(height=VOL_H, width=VOL_W, tile=VOL_TS, dtype="i8", depth=VOL_Z),
    }


def _expected_chunks(a: np.ndarray, ts: int) -> dict[tuple[int, ...], bytes]:
    """Dense zero-padded tile bytes of every non-empty tile of ``a``,
    keyed by the chunk grid index (leading axes are one chunk each)."""
    out = {}
    *lead, h, w = a.shape
    for idx in np.ndindex(*lead):
        for ty in range(-(-h // ts)):
            for tx in range(-(-w // ts)):
                block = a[idx][ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]
                if not block.any():
                    continue
                dense = np.zeros((ts, ts), dtype=a.dtype)
                dense[: block.shape[0], : block.shape[1]] = block
                out[idx + (ty, tx)] = dense.tobytes()
    return out


def _same_chunk(got: bytes, want: bytes, codec: str | None) -> bool:
    if codec == "gzip":
        # bytes 4-8 of a gzip member hold its mtime, the time of writing
        return got[:4] == want[:4] and got[8:] == want[8:]
    return got == want


@pytest.mark.parametrize("zarr_format", [2, 3])
@pytest.mark.parametrize("codec", [None, "zlib", "blosc"])
def test_store_chunk_bytes_match_numpy(spark, tmp_path, rasters, zarr_format, codec):
    """Every chunk file of an image ``(c, y, x)``, 2-D labels and 3-D
    labels equals the codec applied to the dense tile built in plain
    numpy; the chunk keys are exactly the non-empty tiles; long-form
    and tile-form input of the same raster write identical arrays."""
    from spatialdata_spark.operators.raster import long3d_to_tiles, long_to_tiles
    from spatialdata_spark.sources.zarrio import _compress, write_tiles3d_to_zarr

    metas = _raster_meta()
    p = str(tmp_path / "store.zarr")
    write_zarr_store(_raster_ds(spark, rasters), p, raster_meta=metas, compressor=codec, zarr_format=zarr_format)
    eff = "gzip" if (zarr_format == 3 and codec == "zlib") else codec
    doc_names = {".zarray", ".zattrs", "zarr.json"}
    for kind, name in [("images", "image"), ("labels", "cells"), ("labels", "vol")]:
        level = os.path.join(p, kind, name, "0")
        want = _expected_chunks(rasters[name], metas[name].tile)
        got = {}
        for root, _dirs, files in os.walk(level):
            for fn in files:
                rel = os.path.relpath(os.path.join(root, fn), level).replace(os.sep, "/")
                if rel in doc_names:
                    continue
                nums = rel.split("/")[1:] if zarr_format == 3 else rel.split(".")
                if zarr_format == 3:
                    assert rel.startswith("c/"), rel
                got[tuple(int(n) for n in nums)] = open(os.path.join(root, fn), "rb").read()
        assert set(got) == set(want), (name, sorted(set(got) ^ set(want)))
        for key, dense in want.items():
            assert _same_chunk(got[key], _compress(eff, dense, typesize=8), eff), (name, key)

    # tile-form input: the same image group, byte for byte
    p2 = str(tmp_path / "tiles.zarr")
    write_zarr_store(
        _raster_ds(spark, rasters, image_tiles=True), p2, raster_meta=metas, compressor=codec,
        zarr_format=zarr_format,
    )
    _assert_same_files(os.path.join(p, "images", "image"), os.path.join(p2, "images", "image"), eff)
    # ... and the same labels levels from the tile writers
    ds = _raster_ds(spark, rasters)
    for name, pack, writer in [
        ("cells", long_to_tiles, write_tiles_to_zarr),
        ("vol", long3d_to_tiles, write_tiles3d_to_zarr),
    ]:
        tiles = pack(ds[name].withColumnRenamed("label", "value"), metas[name])
        out = str(tmp_path / f"{name}_tiles")
        writer(tiles, metas[name], out, compressor=codec, squeeze_channel=True, zarr_format=zarr_format)
        _assert_same_files(os.path.join(p, "labels", name, "0"), out, eff)


def _store_files(root: str) -> dict[str, str]:
    """Relative path -> absolute path of every file in a store, with the
    per-write uuid of parquet part files masked."""
    import re

    out = {}
    for d, _dirs, files in os.walk(root):
        for fn in files:
            rel = os.path.relpath(os.path.join(d, fn), root).replace(os.sep, "/")
            out[re.sub(r"part-(\d+)-[0-9a-f-]{36}", r"part-\1-UUID", rel)] = os.path.join(d, fn)
    return out


def _assert_same_files(a: str, b: str, codec: str | None = None) -> None:
    """Same file list, the same bytes for chunks and JSON documents
    (parquet part names masked in ``.zmetadata``), the same rows in
    every parquet leaf."""
    import re

    import pandas as pd

    fa, fb = _store_files(a), _store_files(b)
    assert sorted(fa) == sorted(fb)
    leaves = set()
    for rel in fa:
        if ".parquet/" in rel:
            leaves.add(rel.split(".parquet/")[0] + ".parquet")
            continue
        x, y = open(fa[rel], "rb").read(), open(fb[rel], "rb").read()
        if rel.endswith(".zmetadata"):
            x, y = (re.sub(rb"part-(\d+)-[0-9a-f-]{36}", rb"part-\1-UUID", v) for v in (x, y))
        is_doc = rel.rsplit("/", 1)[-1] in (".zarray", ".zattrs", ".zgroup", ".zmetadata", "zarr.json")
        assert _same_chunk(x, y, None if is_doc else codec), rel
    for leaf in sorted(leaves):
        ra, rb = (pd.read_parquet(os.path.join(root, leaf)) for root in (a, b))
        cols = list(ra.columns)
        pd.testing.assert_frame_equal(
            ra.sort_values(cols).reset_index(drop=True), rb.sort_values(cols).reset_index(drop=True)
        )


def test_missing_raster_meta_fails_before_any_write(spark, tmp_path, rasters):
    """A raster without a RasterMeta raises before any element — the
    points leaf included — is written."""
    ds = _raster_ds(spark, rasters)
    ds.add_points("pts", spark.createDataFrame([(1, 2.0, 3.0)], "id long, x double, y double"))
    p = tmp_path / "store.zarr"
    metas = _raster_meta()
    del metas["vol"]
    with pytest.raises(ValueError, match="'vol'.*RasterMeta"):
        write_zarr_store(ds, str(p), raster_meta=metas)
    assert not p.exists()


def test_element_write_failure_is_raised_after_the_pool(spark, tmp_path, rasters):
    """An element that fails inside the pool raises to the caller; the
    store gets no kind groups and no consolidated metadata."""
    from spatialdata_spark.operators.raster import RasterMeta

    ds = _raster_ds(spark, rasters)
    ds.add_points("pts", spark.createDataFrame([(1, 2.0, 3.0)], "id long, x double, y double"))
    metas = _raster_meta()
    metas["cells"] = RasterMeta(height=IMG_H, width=IMG_W, tile=IMG_TS, dtype="i8", n_channels=2)
    p = tmp_path / "store.zarr"
    with pytest.raises(ValueError, match="single-channel"):
        write_zarr_store(ds, str(p), raster_meta=metas)
    assert (p / ".zgroup").exists()
    assert not (p / ".zmetadata").exists() and not (p / "labels" / ".zgroup").exists()


def test_store_write_jobs_keep_the_callers_job_group(spark, tmp_path, rasters):
    """Every job the element pool launches runs in the caller's job
    group: none is left without one."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker(group: str) -> list[int]:
        sc.setJobGroup(group, "marker")
        spark.range(1).count()
        return tracker.getJobIdsForGroup(group)

    ds = _raster_ds(spark, rasters)
    ds.add_points("pts", spark.createDataFrame([(1, 2.0, 3.0)], "id long, x double, y double"))
    try:
        first = max(marker("zarr-test-before"))
        sc.setJobGroup("zarr-test-write", "store write")
        write_zarr_store(ds, str(tmp_path / "store.zarr"), raster_meta=_raster_meta())
        last = min(marker("zarr-test-after"))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    during = set(range(first + 1, last))
    assert len(during) >= 4  # a parquet leaf and three raster levels
    assert during <= set(tracker.getJobIdsForGroup("zarr-test-write"))
    assert not during & set(tracker.getJobIdsForGroup(None))


def test_concurrent_store_writes_match_sequential(spark, tmp_path, rasters):
    """Two write_zarr_store calls from two threads write the same stores
    as the same calls one after the other."""
    import threading

    def ds_for(i: int):
        ds = _raster_ds(spark, rasters)
        pts = spark.createDataFrame(
            [(j, float(j * i), float(j + i)) for j in range(50)], "id long, x double, y double"
        )
        return ds.add_points("pts", pts)

    import sys

    metas = _raster_meta()
    for i in (1, 2):
        write_zarr_store(ds_for(i), str(tmp_path / f"seq{i}.zarr"), raster_meta=metas)
    errors = []

    def run(i: int) -> None:
        try:
            write_zarr_store(ds_for(i), str(tmp_path / f"par{i}.zarr"), raster_meta=metas)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in (1, 2)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the writer threads finely
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    for i in (1, 2):
        _assert_same_files(str(tmp_path / f"seq{i}.zarr"), str(tmp_path / f"par{i}.zarr"), "zlib")
