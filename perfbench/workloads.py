"""The benchmark's workloads: which operations a pass runs, on what
data, and how each operation's output is checked.

An operation has two timed phases.  ``construct`` is the library call
that builds the result (a query function, a catalog build, a store
read); ``materialize`` forces it (a ``noop`` write, a store write).
Query operations are the registered ``__spark_entry__.queries()``
entries, checked against their ``oracle_sql()`` entry on DuckDB with
the comparison of ``tests/parity.py``.  The zarr operations form one
store round trip per pass, checked against the in-memory originals.
"""

from __future__ import annotations

import inspect
import os
import re
import shutil

_MODULE_RE = re.compile(r"from spatialdata_spark\.((?:operators|pipeline|streaming)\.\w+) import")

# name -> corpus scale (a directory under corpus/), operations (``zarr.*``
# are the store round trip, the rest registered queries), passes run
# after the cold pass but left out of the warm statistics, and the zarr
# raster side
WORKLOADS = {
    # the exact spatial operators: the circle-aggregation boundary join,
    # the fraction-weighted box aggregation and the zonal image-by-labels
    # sum (operators.aggregate), and the convex and concave polygon
    # queries (operators.spatial_query).  sf0.01 because the DuckDB
    # circle oracles are nested-loop joins, quadratic in scale;
    # ag_points_by_circles_count runs the same boundary join as
    # ag_points_categorical and is left out to fit the run budget.  The
    # pooled median lands on the middle operation by time: with an odd
    # count it falls inside one operation's samples rather than in the
    # gap between two, and the zonal sum puts a JVM-only operation there
    # instead of the Arrow-UDF concave test, whose time moves 1.6x from
    # run to run.  One
    # settle pass: the JIT is still compiling the join's generated code
    # in the first warm pass, which runs about 1.4x the later ones
    "spatial_join": {
        "corpus": "sf0.01",
        "settle_passes": 1,
        "ops": [
            "ag_points_categorical",
            "ag_fractions",
            "sq_polygon_concave",
            "sq_polygon_points",
            "ag_zonal_image",
        ],
    },
    # fixed cost per operation: plan construction, planning and
    # scheduling, one query per construction module, plus a store
    # round trip (build, write, read back, crop, zonal sum) -- the only
    # write path.  No circle aggregation: this is the workload a change
    # to the spatial_join boundary join must leave unchanged.  Exact
    # rather than MinHash dedup: the MinHash cold pass (5-6 s of Python
    # worker start) did not fit the run budget
    "interactive_small": {
        "corpus": "sf0.001",
        "ops": [
            "q03_shipping",
            "sq_bbox_rotation",
            "rv_rasterize_count",
            "rv_transform_points",
            "pl_dedup_exact",
            "pl_knn_cosine",
            "pl_text_stats",
            "st_tumbling",
            "zarr.build",
            "zarr.write",
            "zarr.read",
            "zarr.crop",
            "zarr.zonal",
        ],
        "image_side": 240,
    },
}

# the modules a query function's construction time is split by
MODULES = (
    "entry",
    "operators.spatial_query",
    "operators.aggregate",
    "operators.raster",
    "operators.rasterize",
    "operators.vectorize",
    "operators.transform",
    "pipeline.dedup",
    "pipeline.similarity",
    "pipeline.textstats",
    "streaming.windows",
)

ZARR_CHAIN = ("zarr.build", "zarr.write", "zarr.read")


def module_of(fn) -> str:
    """The library module a query function calls: the last
    ``spatialdata_spark.<package>.<module>`` it imports (helpers such as
    raster tiling come first, the operator that shapes the result last),
    else ``entry`` (relational queries built in the entry module)."""
    found = _MODULE_RE.findall(inspect.getsource(fn))
    return found[-1] if found else "entry"


class QueryOp:
    def __init__(self, name: str, fn, oracle: str | None):
        self.name = name
        self.fn = fn
        self.oracle = oracle
        self.module = module_of(fn)

    def construct(self, ctx):
        return self.fn(ctx.spark, ctx.data_dir)

    def materialize(self, ctx, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def check(self, ctx) -> tuple[bool, str]:
        if self.oracle is None:
            return False, "no oracle_sql() entry"
        got = self.fn(ctx.spark, ctx.data_dir).toPandas()
        want = ctx.oracle(self.oracle)
        ok, msg = ctx.parity.compare(got, want)
        return ok, f"{msg} ({len(got)} rows)"


def query_ops(entry, names: list[str]) -> list[QueryOp]:
    qs = entry.queries()
    oracles = entry.oracle_sql()
    return [QueryOp(n, qs[n], oracles.get(n)) for n in names]


# ---------------------------------------------------------------------------
# zarr round trip
# ---------------------------------------------------------------------------


class ZarrRoundTrip:
    """State shared by the five zarr operations of one pass: the
    in-memory elements, the store path, and the dataset read back.

    The image and labels rasters are ``side`` x ``side`` pixels derived
    from lineitem; ``rng`` (the workload seed) fixes the crop box and the
    raster offset (the image's row shift)."""

    def __init__(self, ctx, rng, side: int):
        from pyspark.sql import functions as F

        from spatialdata_spark.operators.raster import RasterMeta
        from spatialdata_spark.operators.vectorize import circles_to_shapes

        spark, d = ctx.spark, ctx.data_dir
        self.ctx = ctx
        self.offset = rng.randrange(side)
        x0, y0 = rng.uniform(5.0, 60.0), rng.uniform(2.0, 25.0)
        self.box = ([x0, y0], [x0 + 40.0, y0 + 20.0])
        li = spark.read.parquet(f"{d}/lineitem.parquet")
        self.points = li.select(
            (F.col("l_extendedprice") / 1000.0).alias("x"),
            F.col("l_quantity").alias("y"),
            F.col("l_discount").alias("value"),
            F.col("l_orderkey").alias("instance_id"),
        )
        self.circles = circles_to_shapes(
            spark.read.parquet(f"{d}/customer.parquet").selectExpr(
                "c_custkey AS shape_id",
                "((c_custkey % 97) * 1.0D) AS x",
                "(((c_custkey * 7) % 53) * 1.0D) AS y",
                "((3 + (c_custkey % 5)) * 1.0D) AS radius",
            )
        )
        pix_y = ((F.col("l_orderkey") + self.offset) % side).cast("long")
        pix_x = (F.col("l_partkey") % side).cast("long")
        self.image = li.groupBy(pix_y.alias("y"), pix_x.alias("x")).agg(
            F.sum("l_quantity").alias("value")
        ).select(F.lit(0).alias("c"), "y", "x", "value")
        self.labels = li.groupBy(pix_y.alias("y"), pix_x.alias("x")).agg(
            F.max((F.col("l_suppkey") % 50) + 1).cast("long").alias("label")
        )
        meta = RasterMeta(height=side, width=side, tile=side // 3)
        self.raster_meta = {"image": meta, "labels": meta}
        self.ds = None
        self.back = None
        self.store = None
        self.n_stores = 0
        self.roundtrip_check = None

    def build(self):
        from spatialdata_spark.catalog import SpatialDataset

        ds = SpatialDataset(self.ctx.spark)
        ds.add_points("points", self.points)
        ds.add_shapes("circles", self.circles)
        ds.add_images("image", self.image)
        ds.add_labels("labels", self.labels)
        self.ds = ds

    def write(self):
        from spatialdata_spark.sources.zarrio import write_zarr_store

        if self.store is not None:
            shutil.rmtree(self.store, ignore_errors=True)
        self.n_stores += 1
        self.store = os.path.join(self.ctx.run_dir, f"store{self.n_stores}.zarr")
        write_zarr_store(self.ds, self.store, raster_meta=self.raster_meta)

    def read(self):
        from spatialdata_spark.sources.zarrio import read_zarr_store

        self.back = read_zarr_store(self.ctx.spark, self.store)

    def compare_elements(self) -> tuple[bool, str]:
        """Row counts and value sums of every element read back against
        the in-memory original (one check for the write and the read)."""
        from pyspark.sql import functions as F

        probes = {
            "points": [F.count("*"), F.sum("x"), F.sum("y"), F.sum("value"), F.sum("instance_id")],
            "circles": [F.count("*"), F.sum("minx"), F.sum("maxy"), F.sum("shape_id")],
            "image": [F.count(F.when(F.col("value") != 0, 1)), F.sum("value")],
            "labels": [F.count(F.when(F.col("label") != 0, 1)), F.sum("label")],
        }
        for name, aggs in probes.items():
            a = tuple(self.ds[name].agg(*aggs).first())
            b = tuple(self.back[name].agg(*aggs).first())
            if a != b:
                return False, f"{name}: read back {b} != written {a}"
        return True, "counts and sums match"

    def crop(self, ds):
        lo, hi = self.box
        return ds.query.bounding_box(("x", "y"), lo, hi)["points"]

    def zonal(self, ds):
        return ds.aggregate("image", "labels", agg_func="sum")


class ZarrOp:
    module = "sources.zarrio"

    def __init__(self, name: str, trip: ZarrRoundTrip):
        self.name = name
        self.trip = trip

    def construct(self, ctx):
        t = self.trip
        if self.name == "zarr.build":
            t.build()
        elif self.name == "zarr.read":
            t.read()
        elif self.name == "zarr.crop":
            return t.crop(t.back)
        elif self.name == "zarr.zonal":
            return t.zonal(t.back)
        return None

    def materialize(self, ctx, df) -> None:
        if self.name == "zarr.write":
            self.trip.write()
        elif df is not None:
            df.write.format("noop").mode("overwrite").save()

    def check(self, ctx) -> tuple[bool, str]:
        """Compare the last pass's read-back elements, crop and zonal
        sum with the same computed on the in-memory originals."""
        t = self.trip
        if self.name == "zarr.build":
            return (t.ds is not None and sorted(t.ds.element_names()) == ["circles", "image", "labels", "points"]), "elements"
        if self.name in ("zarr.write", "zarr.read"):
            if t.roundtrip_check is None:
                t.roundtrip_check = t.compare_elements()
            return t.roundtrip_check
        fn = t.crop if self.name == "zarr.crop" else t.zonal
        a = sorted(tuple(r) for r in fn(t.ds).collect())
        b = sorted(tuple(r) for r in fn(t.back).collect())
        return a == b, f"{len(b)} rows" if a == b else f"{len(b)} rows read back vs {len(a)} in memory"


def make_ops(ctx, entry, spec: dict, rng) -> list:
    names = spec["ops"]
    ops = query_ops(entry, [n for n in names if not n.startswith("zarr.")])
    zarr = [n for n in names if n.startswith("zarr.")]
    if zarr:
        trip = ZarrRoundTrip(ctx, rng, spec["image_side"])
        ops += [ZarrOp(n, trip) for n in zarr]
    return ops


def pass_order(ops: list, rng) -> list:
    """The order of one pass: a seeded shuffle, after which the zarr
    operations are put back in dependency order (build, write, read,
    then crop and zonal sum in a seeded order) on the slots they drew."""
    order = list(ops)
    rng.shuffle(order)
    slots = [i for i, op in enumerate(order) if isinstance(op, ZarrOp)]
    chain = sorted((op for op in order if isinstance(op, ZarrOp)), key=lambda op: op.name not in ZARR_CHAIN)
    head = sorted(chain[: len(ZARR_CHAIN)], key=lambda op: ZARR_CHAIN.index(op.name))
    tail = chain[len(ZARR_CHAIN):]
    rng.shuffle(tail)
    for i, op in zip(slots, head + tail):
        order[i] = op
    return order
