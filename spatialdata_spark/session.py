"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]``; the configuration is chosen so the same
code runs unchanged on a multi-executor cluster: AQE on (runtime shuffle
re-planning, skew-join splitting), shuffle partitions sized to cores
locally (on a cluster you'd size to 2-3x total cores), Arrow enabled for
the pandas-UDF paths, UTC timezone pinned so results are comparable with
the DuckDB oracle (duckdb timestamps are UTC-naive).
"""

from __future__ import annotations

import contextlib
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


@contextlib.contextmanager
def scoped_views(spark: SparkSession, *frames: DataFrame):
    """Register each frame as a temp view under a fresh ``__sd_<uuid>``
    name and yield the names, for ``spark.sql`` text built in an
    f-string; every name is dropped on exit.

    ``spark.sql`` analyses eagerly, so the DataFrame it returns no longer
    needs the view: leave the scope as soon as the last parse that reads
    it has returned.  Unique names mean no caller's view is replaced and
    concurrent construction needs no lock.  The drop goes through the
    session catalog, which removes only the name: the public
    ``Catalog.dropTempView`` (and ``spark.sql(text, **frames)``, which
    calls it) also uncaches every cached plan equal to the view's, which
    would silently drop a caller's persisted input or an operator's
    persisted intermediate."""
    catalog = spark._jsparkSession.sessionState().catalog()
    names: list[str] = []
    try:
        for df in frames:
            name = f"__sd_{uuid.uuid4().hex}"
            df.createTempView(name)
            names.append(name)
        yield tuple(names)
    finally:
        for name in names:
            catalog.dropTempView(name)


def get_spark(app_name: str = "spatialdata-spark", cores: int | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # default openCost (4MB) floors split size, so a 10MB input scans
        # as ~3 tasks and any compute-heavy pipeline above it runs on 3
        # cores; with a small openCost the bytes-per-core term sizes
        # splits to the parallelism, while maxPartitionBytes (128MB
        # default) still governs real-scale inputs
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        # PySpark 4 wraps every DataFrame API call to capture the user
        # call site for error decoration: a Python stack walk plus ~3
        # py4j round trips (conf.get + PySparkCurrentOrigin set/clear)
        # PER CALL.  Interleaved A/B (r15): 25-50% of plan-construction
        # time on complex operators.  Errors still raise normally, they
        # just lose the "line N in user code" origin line — the right
        # trade for an engine whose driver-side cost is on the query
        # path (guide §5: the driver should do almost no work).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Put the library root on the WORKER interpreters' startup
        # PYTHONPATH (not just the task-time include path): `site` then
        # imports the repo's sitecustomize.py, whose stat-guarded
        # zipimporter.invalidate_caches removes the 130-210 ms/task
        # zip-TOC re-read Spark's per-task importlib.invalidate_caches
        # triggers on CPython 3.11 (see sitecustomize.py).  On a real
        # cluster the library is shipped to executors anyway
        # (--py-files / image); this keeps local workers equivalent.
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        .getOrCreate()
    )
    _invalidate_udf_caches_on_new_context(spark)
    return spark


# SparkContext id the keyed-factory UDF caches were built against.
_UDF_CACHE_CTX: list = [None]


def _invalidate_udf_caches_on_new_context(spark: SparkSession) -> None:
    """The lru_cache'd Arrow-kernel factories (raster/transform/
    vectorize/aggregate/spatial_query) memoize pandas_udf wrappers, and
    the module-level ``@pandas_udf`` constants cache a ``_judf``
    handle, both bound to the session that first used them; after a
    stop()/restart in the same process the stale JVM handle raises py4j
    errors.  When a DIFFERENT SparkContext appears: sweep every factory
    cache (kernels rebuild + re-register), and reset each module-level
    UDF constant's ``_judf_placeholder`` (the ``UserDefinedFunction``
    lives in the wrapper's closure; clearing the placeholder makes
    pyspark re-create the JVM UDF against the live session on next
    use)."""
    ctx = spark.sparkContext
    if _UDF_CACHE_CTX[0] is ctx:
        return
    if _UDF_CACHE_CTX[0] is not None:
        import sys

        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("spatialdata_spark") and mod_name != "__spark_entry__":
                continue
            for obj in vars(mod).values():
                clear = getattr(obj, "cache_clear", None)
                if callable(clear):
                    clear()
                    continue
                if callable(obj) and getattr(obj, "evalType", None) is not None:
                    for cell in getattr(obj, "__closure__", None) or ():
                        try:
                            v = cell.cell_contents
                        except ValueError:
                            continue
                        if hasattr(v, "_judf_placeholder"):
                            v._judf_placeholder = None
    _UDF_CACHE_CTX[0] = ctx
