"""Structured-Streaming equivalents vs their batch results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from raster_join_spark.fixtures import COARSE_GRID, ORACLE_POLYS
from raster_join_spark.operators.spatial_join import SpatialJoin
from raster_join_spark.sources.pages import points_df
from raster_join_spark.streaming.windowed import (
    stream_points,
    streaming_polygon_counts,
    windowed_cell_counts,
)


@pytest.fixture(scope="module")
def points_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_src"))
    # several files so availableNow replays multiple micro-batches
    points_df(spark, sf_dir).repartition(4).write.mode("overwrite").parquet(d)
    return d


@pytest.fixture(scope="module")
def pts_schema(spark, points_dir):
    return spark.read.parquet(points_dir).schema


def test_windowed_cell_counts_match_batch(spark, points_dir, pts_schema, tmp_path):
    stream = stream_points(spark, points_dir, pts_schema, max_files_per_trigger=2)
    agg = windowed_cell_counts(stream, COARSE_GRID, window="6 hours", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_cells")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT win_start, cell_id, cnt FROM win_cells").toPandas()

    batch = spark.read.parquet(points_dir)
    exp = (
        batch.withColumn("cell_id", COARSE_GRID.cell_id_col(F.col("x"), F.col("y")))
        .filter(F.col("cell_id").isNotNull())
        .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        .groupBy(F.window("warc_ts", "6 hours").alias("win"), "cell_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("win.start").alias("win_start"), "cell_id", "cnt")
        .toPandas()
    )
    key = ["win_start", "cell_id"]
    assert (
        got.sort_values(key, ignore_index=True)[["win_start", "cell_id", "cnt"]]
        .equals(exp.sort_values(key, ignore_index=True))
    )
    assert len(got) > 0


def test_streaming_polygon_counts_match_batch(spark, points_dir, pts_schema, tmp_path):
    sj = SpatialJoin(spark, ORACLE_POLYS, COARSE_GRID)
    stream = stream_points(spark, points_dir, pts_schema, max_files_per_trigger=1)
    writer = streaming_polygon_counts(stream, sj, str(tmp_path / "ck2"), "poly_acc")
    q = writer.start()
    q.awaitTermination(180)
    got = (
        spark.sql("SELECT * FROM poly_acc").toPandas().set_index("poly_id")["agg"]
    )
    exp = (
        sj.hybrid_join(spark.read.parquet(points_dir), include_zero=False)
        .toPandas()
        .set_index("poly_id")["agg"]
    )
    assert got.sort_index().astype(int).equals(exp.sort_index().astype(int))


def test_streaming_polygon_counts_replay_idempotent(spark, sf_dir, tmp_path):
    """A replayed micro-batch (same batch_id) must NOT double-count:
    the partial overwrites its own batch directory."""
    from raster_join_spark.streaming.windowed import polygon_batch_writer

    sj = SpatialJoin(spark, ORACLE_POLYS, COARSE_GRID)
    batch = points_df(spark, sf_dir)
    writer = polygon_batch_writer(sj, str(tmp_path / "sink"), "poly_replay")
    writer(batch, 0)
    once = spark.sql("SELECT * FROM poly_replay").toPandas().set_index("poly_id")["agg"]
    writer(batch, 0)  # replay of the SAME batch id
    twice = spark.sql("SELECT * FROM poly_replay").toPandas().set_index("poly_id")["agg"]
    assert once.sort_index().equals(twice.sort_index())


def test_streaming_first_seen_dedup(spark, tmp_path):
    """applyInPandasWithState first-seen dedup: duplicates within and
    across micro-batches are dropped; state persists between batches."""
    import pandas as pd

    from raster_join_spark.streaming.stateful import streaming_first_seen

    src = str(tmp_path / "src")
    # batch 1: u0..u9 plus dup of u0; batch 2 (separate file): u5..u14
    pd1 = pd.DataFrame({"url": [f"u{i}" for i in range(10)] + ["u0"]})
    pd2 = pd.DataFrame({"url": [f"u{i}" for i in range(5, 15)]})
    spark.createDataFrame(pd1).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(pd2).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("url string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = streaming_first_seen(stream, n_bucket_bits=3)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT url FROM dedup_stream").toPandas()["url"].tolist()
    assert sorted(got) == sorted({f"u{i}" for i in range(15)})
    assert len(got) == 15  # no duplicates emitted


def _run_windowed(spark, points_dir, pts_schema, sj, name, ckpt):
    from raster_join_spark.streaming.windowed import windowed_polygon_counts

    stream = stream_points(spark, points_dir, pts_schema, max_files_per_trigger=2)
    agg = windowed_polygon_counts(stream, sj, window="6 hours", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()


def test_windowed_polygon_counts_match_batch(spark, points_dir, pts_schema, tmp_path):
    """Declarative watermarked window x polygon (raster cover attribution)
    vs the batch raster join: each 6-hour window's counts are
    ``SpatialJoin.raster_join`` over that window's rows."""
    sj = SpatialJoin(spark, ORACLE_POLYS, COARSE_GRID)
    _run_windowed(spark, points_dir, pts_schema, sj, "win_polys", str(tmp_path / "ck3"))
    got = spark.sql("SELECT win_start, poly_id, cnt FROM win_polys").toPandas()

    pts = spark.read.parquet(points_dir).select("warc_ts", "x", "y").toPandas()
    win = pts["warc_ts"].dt.floor("6h")  # epoch-aligned, as F.window
    for w in win.unique():
        rows = spark.createDataFrame(pts.loc[win == w, ["x", "y"]])
        exp = sj.raster_join(rows, include_zero=False).toPandas()
        sub = got[got.win_start == w].sort_values("poly_id")
        assert sub["poly_id"].tolist() == exp["poly_id"].tolist(), w
        assert sub["cnt"].tolist() == exp["agg"].tolist(), w
    assert set(got.win_start) <= set(win) and len(got) > 0


def test_windowed_polygon_counts_persist_nothing(spark, points_dir, pts_schema, tmp_path):
    """A started-then-stopped windowed query leaves no persisted RDD
    behind: the polygon side is the raster join's broadcast artifact,
    not a cached literal frame."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    # a grid no other test uses: nothing cached by an earlier query can
    # stand in for what this one would cache
    sj = SpatialJoin(spark, ORACLE_POLYS, COARSE_GRID.refined(2))
    _run_windowed(spark, points_dir, pts_schema, sj, "win_polys_rdds", str(tmp_path / "ck"))
    assert spark.table("win_polys_rdds").count() > 0
    assert set(jsc.getPersistentRDDs().keys()) == before


def test_streaming_checkpoint_reset_discards_stale_partials(
    spark, points_dir, pts_schema, tmp_path
):
    """Lifecycle guards: (a) a run that finds partials under a LIVE
    checkpoint registers the sink view immediately even when no new
    batch fires; (b) a FRESH checkpoint (reset/deleted) replays the
    source from scratch, so partials left by the dead lineage must be
    discarded, not double-counted."""
    import shutil

    sj = SpatialJoin(spark, ORACLE_POLYS, COARSE_GRID)
    ck = str(tmp_path / "ck_reset")
    sink = str(tmp_path / "ck_reset_sink")
    exp = (
        sj.hybrid_join(spark.read.parquet(points_dir), include_zero=False)
        .toPandas()
        .set_index("poly_id")["agg"]
        .sort_index()
    )

    stream = stream_points(spark, points_dir, pts_schema, max_files_per_trigger=1)
    q = streaming_polygon_counts(stream, sj, ck, "poly_reset", sink_dir=sink).start()
    q.awaitTermination(180)

    # (a) restart with NOTHING new pending: the view must still resolve
    spark.catalog.dropTempView("poly_reset")
    stream2 = stream_points(spark, points_dir, pts_schema, max_files_per_trigger=1)
    q2 = streaming_polygon_counts(stream2, sj, ck, "poly_reset", sink_dir=sink).start()
    q2.awaitTermination(180)
    got = spark.sql("SELECT * FROM poly_reset").toPandas().set_index("poly_id")["agg"]
    assert got.sort_index().equals(exp)

    # (b) operator deletes the checkpoint -> full replay; stale partials
    # must be cleared or every count doubles
    shutil.rmtree(ck)
    stream3 = stream_points(spark, points_dir, pts_schema, max_files_per_trigger=1)
    q3 = streaming_polygon_counts(stream3, sj, ck, "poly_reset", sink_dir=sink).start()
    q3.awaitTermination(180)
    got3 = spark.sql("SELECT * FROM poly_reset").toPandas().set_index("poly_id")["agg"]
    assert got3.sort_index().equals(exp)
