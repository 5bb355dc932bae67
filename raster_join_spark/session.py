"""SparkSession factory with the engine's required configuration.

Local-mode testing stands in for a multi-executor cluster; every setting
here is also what we would submit with ``spark-submit --py-files`` on a
real 1000-executor cluster (see README "Scale design").
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "raster_join_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Arrow is mandatory: every Python-side kernel in this engine consumes
    whole Arrow batches (``mapInArrow`` for the spatial and kNN passes,
    ``mapInPandas``/pandas UDFs for the text and media operators); none
    runs per row. AQE is on so skewed shuffle partitions get split at
    runtime, the reference's answer being GPU atomics
    (RasterJoin/join/RasterJoin.cpp). The aggregate joins need neither:
    their point pass never shuffles (operators/spatial_join).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # match parallelism in local mode; a real cluster would use 2-3x cores
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(int(n), 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # CRITICAL for the python (mapInPandas) stages: Spark 4.1's
        # Arrow-input batching loop calls ArrowWriter.sizeInBytes() PER
        # ROW to enforce maxBytesPerBatch (default 64m), and that walks
        # the whole Arrow vector tree (StructVector.setValueCount +
        # getBufferSizeFor) — measured ~1.9us/row, 25 of 32 cores burned
        # in the feed path (JFR: 6124/6309 exec samples in sizeInBytes).
        # Int.MaxValue is the explicit sentinel that SKIPS the check
        # (BatchedPythonArrowInput.underBatchSizeLimit). Batch size is
        # then bounded by maxRecordsPerBatch above (65536 rows ~ 1-2 MB
        # for numeric kernels); media stages derate their own row counts
        # by payload budget (operators/multimodal.py), so no batch can
        # still blow past executor memory.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "2147483647b")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def drop_zip_finders() -> None:
    """Remove every zip-archive finder from ``sys.path_importer_cache``.

    PySpark's worker runs ``importlib.invalidate_caches()`` at the start
    of every Python task, and CPython 3.11's
    ``zipimporter.invalidate_caches`` re-reads its archive's whole
    directory. A worker holds zip finders over ``pyspark.zip``, the py4j
    source zip and the spark-core jar (all on the workers' PYTHONPATH),
    so each task paid ~0.2 s re-reading them (CLAUDE.md, "Python
    stages"). Every kernel the engine hands to Spark calls this first:
    the current task has already paid, but later tasks on the reused
    worker find no zip finder to refresh. An import from one of those
    archives still works: the path hook builds a new finder from
    ``zipimport._zip_directory_cache`` without reading the archive.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
