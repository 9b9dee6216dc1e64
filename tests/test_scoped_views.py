"""The five operators that build their plans as ``spark.sql`` text over
temp views (circle aggregation, the grid shapes join, ngram Jaccard,
minhash bands, knn subquery) leave the catalog as they found it, keep
every cache in place, and build correct plans from concurrent threads
with no lock.

Each case builds two inputs with different answers.  The threaded runs
construct and collect both from 4 threads at once; a thread that
resolved a view name against another thread's data would return the
other input's answer."""

from __future__ import annotations

import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F


def _circle_agg(spark, n):
    from spatialdata_spark.operators.aggregate import aggregate_points_by_circles

    pts = spark.range(n).select(
        (F.lit(5.0) + (F.col("id") % 3) * 0.1).alias("x"),
        (F.lit(5.0) + (F.col("id") % 5) * 0.1).alias("y"),
    )
    shp = spark.sql(
        "SELECT 1 AS shape_id, 'circle' AS kind, CAST(NULL AS BINARY) AS wkb, "
        "2.0D AS minx, 2.0D AS miny, 8.0D AS maxx, 8.0D AS maxy, 3.0D AS radius"
    )
    return (pts, shp), lambda p, s: aggregate_points_by_circles(p, s, cell_size=0.5)


def _grid_join(spark, n):
    from spatialdata_spark.operators.aggregate import grid_join_shapes_shapes

    values = spark.range(n).selectExpr(
        "id AS shape_id", "'box' AS kind", "CAST(NULL AS BINARY) AS wkb",
        "id * 2.0D AS minx", "0.0D AS miny", "id * 2.0D + 1.0D AS maxx", "1.0D AS maxy",
        "0.0D AS radius",
    )
    by = spark.sql(
        "SELECT 100 AS shape_id, 'box' AS kind, CAST(NULL AS BINARY) AS wkb, "
        "-1.0D AS minx, -1.0D AS miny, 9.5D AS maxx, 2.0D AS maxy, 0.0D AS radius"
    )
    box = frozenset({"box"})
    return (values, by), lambda v, b: grid_join_shapes_shapes(
        v, b, cell_size=3.0, values_kinds=box, by_kinds=box
    ).select("v_id", "b_id")


def _docs(spark, n):
    rows = [(i, ("alpha beta gamma delta %d " % (i % 3)) * 2 + "tail%d" % (i % 2)) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _ngram(spark, n):
    from spatialdata_spark.pipeline.dedup import ngram_jaccard_join

    return (_docs(spark, n),), lambda d: ngram_jaccard_join(d, threshold=0.0)


def _minhash(spark, n):
    from spatialdata_spark.pipeline.dedup import minhash_band_candidates

    return (_docs(spark, n),), lambda d: minhash_band_candidates(d, num_hashes=16, num_bands=4)


def _knn(spark, n):
    from spatialdata_spark.pipeline.similarity import cosine_topk_subquery

    emb = spark.range(n).selectExpr(
        "id AS vec_id", "array(CAST(id + 1 AS FLOAT), CAST(10 - id AS FLOAT)) AS embedding"
    )
    query = spark.sql("SELECT array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)) AS embedding")
    return (emb, query), lambda e, q: cosine_topk_subquery(e, q, k=3)


# name -> (input and operator factory, the two input sizes, a column of
# the operator's own persisted intermediate or None, InMemoryTableScan
# nodes in the executed plan when the caller has persisted every input).
# The scan counts equal those of the plans built over fixed view names;
# the intermediates are circle-agg's cell cover, ngram's shingle table
# and minhash's band table.
CASES = {
    "aggregate_points_by_circles": (_circle_agg, (40, 7), "__full", 2),
    "grid_join_shapes_shapes": (_grid_join, (5, 2), None, 2),
    "ngram_jaccard_join": (_ngram, (6, 4), "_sh", 4),
    "minhash_band_candidates": (_minhash, (6, 4), "band", 2),
    "cosine_topk_subquery": (_knn, (8, 4), None, 2),
}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _cache_scans(df):
    """The column names of each InMemoryTableScan node in the executed
    (final adaptive) plan, not counting those inside cached plans."""

    def walk(node):
        cls = node.getClass().getSimpleName()
        if node.nodeName() == "InMemoryTableScan":
            out = node.output()
            return [frozenset(out.apply(i).name() for i in range(out.size()))]
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        kids = node.children()
        return [s for i in range(kids.size()) for s in walk(kids.apply(i))]

    return walk(df._jdf.queryExecution().executedPlan())


@pytest.mark.parametrize("name", sorted(CASES))
def test_scoped_view_operator(spark, name):
    make, sizes, own_col, n_scans = CASES[name]
    (inputs_a, op), (inputs_b, _) = make(spark, sizes[0]), make(spark, sizes[1])
    tables = sorted(t.name for t in spark.catalog.listTables())

    # 1. construction leaves the catalog as it found it (checked again
    # after the threaded runs)
    out = op(*inputs_a)
    assert sorted(t.name for t in spark.catalog.listTables()) == tables

    # 2. concurrent construction gives the sequential answers
    want = {"a": _rows(out), "b": _rows(op(*inputs_b))}
    assert want["a"] != want["b"]
    jobs = [("a", inputs_a), ("b", inputs_b)] * 4
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads' py4j calls finely
    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            results = list(pool.map(lambda j: (j[0], _rows(op(*j[1]))), jobs, timeout=600))
    finally:
        sys.setswitchinterval(interval)
    for tag, got in results:
        assert got == want[tag], f"{name}: input {tag} got another input's answer"

    assert sorted(t.name for t in spark.catalog.listTables()) == tables

    # 3. a caller-persisted input stays cached, and the executed plan
    # still reads every cache
    cached = [df.persist() for df in inputs_a]
    try:
        for df in cached:
            df.count()
        out = op(*cached)
        assert _rows(out) == want["a"]
        for df in cached:
            assert df.storageLevel.useMemory, f"{name} uncached a caller-persisted input"
        scans = _cache_scans(out)
        assert len(scans) == n_scans, scans
        if own_col is not None:
            assert any(own_col in cols for cols in scans), f"{name}: own cache not read: {scans}"
    finally:
        for df in cached:
            df.unpersist()


def test_temp_views_are_registered_only_by_scoped_views():
    """One way to run SQL over DataFrames: every temp view the library
    registers goes through ``session.scoped_views``, which names it
    uniquely and drops it.  A direct registration elsewhere would bring
    back shared catalog names."""
    import ast
    import pathlib

    import spatialdata_spark

    register = {
        "createTempView",
        "createOrReplaceTempView",
        "createGlobalTempView",
        "createOrReplaceGlobalTempView",
        "registerTempTable",
    }
    root = pathlib.Path(spatialdata_spark.__file__).parent
    found = [
        f"{path.relative_to(root.parent)}:{node.lineno} {node.attr}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "session.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and node.attr in register
    ]
    assert not found, f"temp views registered outside session.scoped_views: {found}"
