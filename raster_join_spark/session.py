"""SparkSession factory with the engine's required configuration.

Local-mode testing stands in for a multi-executor cluster; every setting
here is also what we would submit with ``spark-submit --py-files`` on a
real 1000-executor cluster (see README "Scale design").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "raster_join_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Arrow is mandatory: every Python-side kernel in this engine is an
    Arrow-batched pandas UDF (input_hint: "no per-row Python").
    AQE is on so skewed shuffle partitions get split at runtime — the
    reference absorbs skew with GPU atomics (RasterJoin/join/RasterJoin.cpp),
    we absorb it with AQE skew-join + explicit salting (operators/spatial_join).
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
        # knn_join reduces per-query top-k in-plan via a
        # map-side-combined collect_list aggregation (operators/knn.py)
        # whose group key is the query id — thousands of distinct keys
        # per task. ObjectHashAggregate's sort-based fallback triggers
        # at just 128 distinct keys, replacing the hash agg with a
        # per-task SORT of every (query, candidate) row; raise the
        # threshold so the partial lists stay hash-aggregated. Memory
        # stays bounded: the operator caps per-query candidates before
        # the agg (annulus literal cap).
        # SESSION-WIDE INVARIANT (ADVICE r7): because this raises the
        # sort-based fallback for EVERY ObjectHashAggregate in the
        # engine, any new collect_list/collect_set-style operator MUST
        # cap its per-group payload before aggregating (as knn_join
        # does) — an uncapped group inherits OOM risk instead
        # of graceful sort-based spill.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
