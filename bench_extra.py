"""Extra benchmarks for optimization rounds (guide §1.4 noop-sink isolation).

NOT part of the driver contract — bench.py stays the frozen measured
surface. This file exists so optimization evidence (per-phase timings,
plan isolation, A/B of operator internals) is reproducible and citable
from OPTIMIZATION_r*.md.

Usage:
  python bench_extra.py knn       [sf_dir]   # knn_join with round stats
  python bench_extra.py knn_bulk  [sf_dir]   # knn_join_bulk wall time per rep
  python bench_extra.py suite     [sf_dir]   # every headline query, noop sink
  python bench_extra.py plans     [sf_dir]   # dump .explain for headline queries
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _spark():
    from raster_join_spark.session import get_spark

    return get_spark(app_name="rjs-bench-extra", master=f"local[{CPUS}]")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_knn(sf_dir: str, reps: int = 3) -> None:
    from raster_join_spark.fixtures import COARSE_GRID, KNN_K, KNN_QUERIES
    from raster_join_spark.operators.knn import knn_join
    import __spark_entry__ as e

    spark = _spark()
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    e._EVENTS_COUNT_CACHE[sf_dir] = n
    for i in range(reps):
        stats: dict = {}
        spark.sparkContext.setJobDescription(f"knn rep {i}")
        t0 = time.perf_counter()
        out = knn_join(
            spark, e._points(spark, sf_dir), COARSE_GRID, KNN_QUERIES, KNN_K,
            n_total=n, stats=stats,
        )
        out.count()
        wall = round(time.perf_counter() - t0, 3)
        print(json.dumps({"rep": i, "wall": wall, **stats}))


def run_knn_bulk(sf_dir: str, reps: int = 3) -> None:
    from pyspark.sql import functions as F

    from raster_join_spark.fixtures import COARSE_GRID, KNN_K
    from raster_join_spark.operators.knn import knn_join_bulk
    import __spark_entry__ as e

    spark = _spark()
    for i in range(reps):
        pts = e._points(spark, sf_dir)
        qdf = pts.filter((F.col("event_id") % e.KNN_BULK_MOD) == 0).select(
            F.col("event_id").alias("q_id"),
            F.col("x").alias("qx"),
            F.col("y").alias("qy"),
        )
        spark.sparkContext.setJobDescription(f"knn_bulk rep {i}")
        t0 = time.perf_counter()
        out = knn_join_bulk(spark, pts, COARSE_GRID, qdf, KNN_K)
        out.count()
        wall = round(time.perf_counter() - t0, 3)
        out.unpersist()
        print(json.dumps({"rep": i, "wall": wall}))


def run_suite(sf_dir: str, reps: int = 2) -> None:
    """Each headline query through the noop sink (computation only)."""
    import __spark_entry__ as e

    spark = _spark()
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    e._EVENTS_COUNT_CACHE[sf_dir] = n
    qs = e.queries()
    names = [
        "spatial_hybrid_count", "spatial_split_count", "spatial_index_count",
        "spatial_raster_count", "spatial_error_bounds", "spatial_filter_count",
        "tile_assign", "point_poly_assign", "knn", "knn_bulk",
    ]
    out: dict[str, list[float]] = {}
    for rep in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"{name} rep {rep}")
            t0 = time.perf_counter()
            _noop(qs[name](spark, sf_dir))
            out.setdefault(name, []).append(round(time.perf_counter() - t0, 3))
    print(json.dumps({"sf_dir": sf_dir, "noop_secs": out}))


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "suite"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else SF_DIR
    if mode == "knn":
        run_knn(sf_dir)
    elif mode == "knn_bulk":
        run_knn_bulk(sf_dir)
    elif mode == "suite":
        run_suite(sf_dir)
    else:
        raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()
