"""Structured-Streaming front end for the spatial engine.

The reference treats time purely as a filter column (DataHandler.cpp:
86-96); a web-crawl ingest is really an unbounded stream, so the engine
exposes streaming equivalents of its core aggregations:

- windowed_cell_counts: tumbling event-time windows x grid cell with a
  watermark for late crawl records — the incremental form of the raster
  join's cell pre-aggregation (state = open windows only)
- streaming_polygon_counts: per-micro-batch exact hybrid join via
  foreachBatch, accumulating per-polygon counts in a sink table —
  exactly-once via the streaming checkpoint + idempotent batch ids

Both run `availableNow` in tests (bounded replay of a directory) and
unchanged on a real unbounded source (Kafka/file-arrival) in production.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from raster_join_spark.geo.grid import GridSpec
from raster_join_spark.operators.spatial_join import SpatialJoin


def stream_points(
    spark: SparkSession, src_dir: str, schema, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-arrival streaming source over a parquet directory of points
    (the test/bench stand-in for the crawl firehose)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(src_dir)


def windowed_cell_counts(
    stream: DataFrame,
    grid: GridSpec,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Tumbling-window per-cell counts with late-data watermark.

    State is bounded: the watermark closes windows older than the max
    observed event time minus the allowed lateness, so state size is
    O(open windows x active cells) regardless of stream length.
    """
    cells = (
        stream.withColumn("cell_id", grid.cell_id_col(F.col("x"), F.col("y")))
        .filter(F.col("cell_id").isNotNull())
        # watermarks require TIMESTAMP (tz-aware); parquet NTZ is cast in
        # the session's UTC zone, so the instant is unchanged
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    )
    return (
        cells.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("cell_id"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "cell_id",
            "cnt",
        )
    )


def cover_pairs_df(sj: SpatialJoin) -> DataFrame:
    """The J1 cover map of ``sj`` — one (cell_id, poly_id) row per cell
    whose center lies inside the polygon — as the static side of a
    stream-static broadcast join. Every micro-batch re-executes that
    join, so the literal frame is coalesced to one partition and
    persisted (CLAUDE.md, literal broadcast maps); it stays cached while
    the stream runs."""
    t = sj.tables
    schema = T.StructType(
        [
            T.StructField("cell_id", T.LongType(), False),
            T.StructField("poly_id", T.LongType(), False),
        ]
    )
    pdf = pd.DataFrame(
        {"cell_id": t.cover_cell.astype(np.int64), "poly_id": t.cover_poly.astype(np.int64)}
    )
    return sj.spark.createDataFrame(pdf, schema=schema).coalesce(1).persist()


def windowed_polygon_counts(
    stream: DataFrame,
    sj: SpatialJoin,
    window: str = "6 hours",
    watermark: str = "1 hour",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Fully declarative streaming spatial aggregation: tumbling event-time
    windows x polygon via the raster cover broadcast join (stream-static
    joins are supported natively; the polygon side is a static broadcast).
    Approximate (J1 whole-cell attribution) — the declarative counterpart
    of streaming_polygon_counts' exact foreachBatch path, with watermarked
    bounded state."""
    cover = cover_pairs_df(sj)
    cells = (
        stream.withColumn("cell_id", sj.grid.cell_id_col(F.col(sj.x), F.col(sj.y)))
        .filter(F.col("cell_id").isNotNull())
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    )
    joined = cells.join(F.broadcast(cover), "cell_id", "inner")
    return (
        joined.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("poly_id"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "poly_id",
            "cnt",
        )
    )


def streaming_polygon_counts(
    stream: DataFrame,
    sj: SpatialJoin,
    checkpoint_dir: str,
    sink_table: str = "poly_counts_stream",
    sink_dir: str | None = None,
):
    """Continuous per-polygon counts: each micro-batch runs the exact
    hybrid join (its one Spark job runs inside the batch) and writes its
    PARTIAL per-polygon counts to a durable directory keyed by batch_id;
    the sink view sums over batch partials at read time.

    This is genuinely exactly-once: a replayed micro-batch (same
    batch_id, from the streaming checkpoint) OVERWRITES its own partial
    directory instead of double-counting, and a restart resumes from the
    partials already on disk — the same additive-partials recipe as
    plans/checkpoint.py. The sink stays O(polygons x batches) and
    compactable (sum-rewrite) out of band.

    Two lifecycle guards at setup time: (1) a FRESH checkpoint (no
    offsets — new pipeline or operator-reset checkpoint) replays the
    source from batch 0, so partials left in the sink by a dead
    lineage of the same sink_dir would double-count; they are removed
    before the run starts. (2) if partials already exist under a LIVE
    checkpoint, the sink view is registered immediately, so a restart
    that finds no new data still exposes the accumulated counts."""
    import os
    import shutil

    sink_dir = sink_dir or f"{checkpoint_dir.rstrip('/')}_sink"
    offsets = os.path.join(checkpoint_dir, "offsets")
    fresh_ckpt = not (os.path.isdir(offsets) and os.listdir(offsets))
    batch_dirs = (
        [d for d in os.listdir(sink_dir) if d.startswith("batch=")]
        if os.path.isdir(sink_dir)
        else []
    )
    if fresh_ckpt and batch_dirs:
        # stale partials from a previous run whose checkpoint is gone:
        # the new run replays everything, so keeping them double-counts
        for d in batch_dirs:
            shutil.rmtree(os.path.join(sink_dir, d))
    elif batch_dirs:
        sj.spark.read.parquet(sink_dir).groupBy("poly_id").agg(
            F.sum("agg").alias("agg")
        ).createOrReplaceTempView(sink_table)
    return (
        stream.writeStream.foreachBatch(polygon_batch_writer(sj, sink_dir, sink_table))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def polygon_batch_writer(sj: SpatialJoin, sink_dir: str, sink_table: str):
    """The foreachBatch body of streaming_polygon_counts, exposed so the
    replay-idempotence property is directly testable: calling it twice
    with the same batch_id overwrites the same partial directory."""
    spark = sj.spark

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = sj.hybrid_join(batch_df, include_zero=False)
        # overwrite-by-batch_id: replays land in the same path
        part.write.mode("overwrite").parquet(f"{sink_dir}/batch={batch_id}")
        spark.read.parquet(sink_dir).groupBy("poly_id").agg(
            F.sum("agg").alias("agg")
        ).createOrReplaceTempView(sink_table)

    return process_batch
