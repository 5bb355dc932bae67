"""Regenerate docs/PLANS.md: captured .explain('formatted') output for the
key operators, with commentary. See tests/test_plans.py for the asserted
plan properties."""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from raster_join_spark.fixtures import COARSE_GRID, FINE_GRID, ORACLE_POLYS
    from raster_join_spark.operators.spatial_join import SpatialJoin
    from raster_join_spark.session import get_spark
    from raster_join_spark.sources.pages import points_df

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    sf = "/root/testdata/sf0.001"

    def plan_of(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    def ran_plan(call) -> str:
        """The formatted plan of the one SQL execution ``call`` ran. The
        aggregate strategies run their job at call time and return a
        local result, so the plan that matters is the one Spark's SQL
        status store recorded, not the returned frame's."""
        store = spark._jsparkSession.sharedState().statusStore()
        before = store.executionsList().size()
        call()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        execs = store.executionsList()
        (plan,) = [execs.apply(i).physicalPlanDescription() for i in range(before, execs.size())]
        return plan

    sj = SpatialJoin(spark, ORACLE_POLYS, COARSE_GRID)
    sjf = SpatialJoin(spark, ORACLE_POLYS, FINE_GRID)
    pts = points_df(spark, sf)

    sections = [
        (
            "Hybrid join (flagship, J3)",
            "The one Spark job of an aggregate call: one MapInArrow pass "
            "emits <=16-row partial vectors per Arrow batch, which the "
            "driver collects and sums; no exchange, no join. Filters on "
            "the events scan are pushed; `text`/`html` are pruned.",
            ran_plan(lambda: sj.hybrid_join(pts, include_zero=False)),
        ),
        (
            "Raster join (J1)",
            "The same single MapInArrow pass; the kernel looks each point's "
            "cell up in the driver-rasterized cover table and runs no PIP.",
            ran_plan(lambda: sjf.raster_join(pts, include_zero=False)),
        ),
        (
            "Index join (J2)",
            "The same single MapInArrow pass; every MBR candidate of the "
            "point's cell goes through the exact PIP kernel.",
            ran_plan(lambda: sj.index_join(pts, include_zero=False)),
        ),
    ]

    from raster_join_spark.plans.query import ConstraintType, QueryConstraint, QueryEngine

    eng = QueryEngine(spark, pts, COARSE_GRID).set_polygon_query(ORACLE_POLYS)
    eng.execute_query(None, "2024-01-05 00:00:00", "2024-01-25 00:00:00")
    eng.set_query_constraints([QueryConstraint("value_c", ConstraintType.GT, 2000)])
    sections += [
        (
            "QueryEngine request (executeQuery + executeFunction)",
            "A request over the engine's cached points: the same single "
            "MapInArrow pass as the strategies above, straight over the "
            "InMemoryTableScan. There is no Filter: the window, the time "
            "bounds and the constraints are evaluated inside the kernel, so "
            "the plan holds no literal of the request and every request over "
            "the same columns runs (and reuses the generated code of) this "
            "same plan.",
            ran_plan(lambda: eng.execute_function("hybrid")),
        ),
    ]
    eng.points.unpersist()
    sections += [
        (
            "Filtered scan (F1 + S6)",
            "Attribute constraints reach the parquet scan as PushedFilters.",
            plan_of(
                pts.filter(
                    (F.col("lang") == "purchase") & (F.col("value_c") > 2000)
                ).select("url", "x", "y")
            ),
        ),
    ]

    from raster_join_spark.operators.knn import knn_join_bulk

    qdf = pts.filter((F.col("event_id") % 10) == 0).select(
        F.col("event_id").alias("q_id"),
        F.col("x").alias("qx"),
        F.col("y").alias("qy"),
    )
    sections += [
        (
            "Bulk kNN (J6 at table scale)",
            "The driver collects the point projection with toArrow() (one "
            "job) and broadcasts its grid index. The returned frame is the "
            "cached query pass: the query table hash-partitioned by q_id "
            "and ONE MapInArrow that runs every query's cell-ring "
            "expansion in-kernel and emits the final (q_id, id, rank, "
            "dist2) rows. No join, no cogroup, no aggregate.",
            plan_of(knn_join_bulk(spark, pts, COARSE_GRID, qdf, 5)),
        ),
    ]

    from raster_join_spark.operators.dedup import minhash_lsh_pairs, simhash

    docs_df = spark.read.parquet(f"{sf}/documents.parquet")
    sections += [
        (
            "SimHash (pure JVM)",
            "Explode words -> md5-derived bit votes -> ONE map-side-combined "
            "hash aggregate (64 sums) -> repack. No Python operator; the "
            "exchange carries <= one row per doc per task.",
            plan_of(simhash(docs_df)),
        ),
        (
            "MinHash banded LSH pairs (pure JVM)",
            "Explode shingles -> 64 min-aggregates (map-side combined) -> "
            "band slices as join keys -> capped self-join. No Python operator.",
            plan_of(minhash_lsh_pairs(docs_df, k=64, bands=16, shingle_w=3)),
        ),
    ]

    from raster_join_spark.operators.sampling import split_assign
    from raster_join_spark.plans.pipeline import prepare_corpus

    pairs_df = minhash_lsh_pairs(docs_df, k=64, bands=16, shingle_w=3)
    sections += [
        (
            "Leakage-safe split (cluster-hash assignment)",
            "Corpus scan -> BROADCAST hash join against the "
            "connected-components label table (checkpoint-backed, so the "
            "broadcast is hinted — without it the planner SortMergeJoins "
            "and shuffles the whole corpus) -> stateless salted-md5 "
            "decision per row. No Window, no Cartesian.",
            plan_of(split_assign(docs_df, pairs_df, test_permille=200)),
        ),
        (
            "Composed corpus pipeline (filter -> dedup -> split)",
            "The keep decision is the predicate cluster_id == doc_id on "
            "the assignment frame, so the composed plan stays: one "
            "document scan (language/quality predicates evaluated in the "
            "scan stage) -> broadcast label join -> filter -> project. "
            "The iterative CC rounds run once, up front, over the pair "
            "list only.",
            plan_of(prepare_corpus(docs_df, test_permille=200)),
        ),
    ]
    out = [
        "# Physical plans (captured from .explain('formatted'))",
        "",
        "Regenerate with `python tools/dump_plans.py`. Assertions over these",
        "properties live in `tests/test_plans.py`.",
        "",
    ]
    for title, blurb, plan in sections:
        out += [f"## {title}", "", blurb, "", "```", plan.strip(), "```", ""]
    docs = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs")
    os.makedirs(docs, exist_ok=True)
    with open(os.path.join(docs, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(os.path.join(docs, "PLANS.md"))


if __name__ == "__main__":
    main()
