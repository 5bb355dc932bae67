"""Physical-plan regression tests — the scale guarantees, checked in CI.

These lock in the properties that make the engine viable at 100 TB:
filters reach the parquet scan, projection prunes columns, the polygon
side broadcasts (never a shuffle of the point side), and every aggregate
strategy runs one Arrow pass with no exchange.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from raster_join_spark.fixtures import COARSE_GRID, ORACLE_POLYS
from raster_join_spark.operators.spatial_join import SpatialJoin
from raster_join_spark.sources.pages import pages_df, points_df


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def sj(spark):
    return SpatialJoin(spark, ORACLE_POLYS, COARSE_GRID)


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = plan_of(pages_df(spark, sf_dir).select("url"))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and "event_id" in read[0]
    # none of the unused wide columns survive to the scan
    for col in ("props", "value", "user_id", "ts"):
        assert col not in read[0], f"column {col} not pruned: {read[0]}"


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_of(points_df(spark, sf_dir).filter(F.col("lang") == "purchase"))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "EqualTo(event_type,purchase)" in pushed[0]


def ran_plans(spark, call, into_cache: bool = False) -> list[list[tuple[str, str]]]:
    """Run ``call``; return, for each SQL execution it started, the
    (name, description) of every physical operator Spark's status store
    recorded — the plan that actually ran, not the plan of the returned
    DataFrame (an aggregate strategy returns a LocalTableScan of its
    reduced result). The walk stops at an InMemoryTableScan (a cached
    relation's own plan ran when it was built) unless ``into_cache``:
    then it also walks the plans of the relations ``call`` cached."""
    store = spark._jsparkSession.sharedState().statusStore()

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def ids():
        return {e.executionId() for e in seq(store.executionsList())}

    before = ids()
    call()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    plans = []
    for eid in sorted(ids() - before):
        graph = store.planGraph(eid)
        nodes = {n.id(): n for n in seq(graph.allNodes())}
        kids: dict[int, list[int]] = {}
        for e in seq(graph.edges()):  # edges run child -> parent
            kids.setdefault(e.toId(), []).append(e.fromId())
        children = {c for cs in kids.values() for c in cs}
        todo, ops = [i for i in nodes if i not in children], []
        while todo:
            node = nodes[todo.pop()]
            ops.append((node.name(), node.desc()))
            if into_cache or node.name() != "InMemoryTableScan":
                todo.extend(kids.get(node.id(), []))
        plans.append(ops)
    return plans


def assert_one_arrow_pass(spark, call) -> list[tuple[str, str]]:
    """``call`` ran one SQL execution: a single MapInArrow pass over the
    points with no Exchange and no join. Returns its operators."""
    plans = ran_plans(spark, call)
    assert len(plans) == 1, plans
    names = [name for name, _ in plans[0]]
    assert names.count("MapInArrow") == 1, names
    assert not [n for n in names if "Exchange" in n or "Join" in n], names
    return plans[0]


def test_index_join_broadcasts_polygon_side(spark, sf_dir, sj):
    """The polygon side reaches the executors only as the broadcast
    artifact: the point side never shuffles and no join runs."""
    pts = points_df(spark, sf_dir)
    assert_one_arrow_pass(spark, lambda: sj.index_join(pts, include_zero=False))


def test_raster_join_one_arrow_pass(spark, sf_dir, sj):
    """The raster join is the same single Arrow pass (cover lookup, no
    PIP); the former per-cell groupBy, cover join and densify join are
    gone from its plan."""
    pts = points_df(spark, sf_dir)
    assert_one_arrow_pass(spark, lambda: sj.raster_join(pts, include_zero=False))


def test_fused_hybrid_minimal_exchanges(spark, sf_dir, sj):
    """The fused kernel rides mapInArrow (no pandas copy layer), and its
    partial vectors are summed on the driver: no exchange at all."""
    pts = points_df(spark, sf_dir)
    assert_one_arrow_pass(spark, lambda: sj.hybrid_join(pts, include_zero=False))


def test_simhash_and_minhash_are_pure_jvm(spark):
    """The md5-derived hash family keeps minhash/simhash entirely inside
    whole-stage codegen — no Python operator may appear in their plans."""
    import pandas as pd

    from raster_join_spark.operators.dedup import minhash_lsh_pairs, simhash

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["a b c d", "b c d e"]})
    )
    for df in (simhash(docs), minhash_lsh_pairs(docs, k=8, bands=2, shingle_w=2)):
        plan = plan_of(df)
        assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
        assert "FlatMapGroupsInPandas" not in plan
    # hot-bucket cap must be a broadcast anti-join, never a full-input
    # window shuffle over the (skewed) bucket key
    pair_plan = plan_of(minhash_lsh_pairs(docs, k=8, bands=2, shingle_w=2))
    assert "Window" not in pair_plan, pair_plan
    assert "LeftAnti" in pair_plan, pair_plan


def test_neardup_pairs_pure_jvm(spark):
    import pandas as pd

    from raster_join_spark.operators.similarity import embedding_neardup_pairs

    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [0, 1], "embedding": [[1.0, 0.0], [0.0, 1.0]]}
        )
    )
    plan = plan_of(embedding_neardup_pairs(emb, n_planes=2, dim=2))
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan
    # bucket cap = broadcast anti-join, no window shuffle on the bucket key
    assert "Window" not in plan, plan
    assert "LeftAnti" in plan, plan


def test_no_row_at_a_time_python_udfs_in_codebase():
    """input_hint: vectorized pandas/Arrow UDFs only. Guard the codebase
    against accidental row-at-a-time F.udf usage."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "raster_join_spark"
    offenders = []
    for py in root.rglob("*.py"):
        src = py.read_text()
        if "F.udf(" in src or "functions.udf(" in src or "@udf" in src:
            offenders.append(str(py))
    assert not offenders, f"row-at-a-time UDFs found: {offenders}"


def test_split_assign_broadcasts_label_table(spark, sf_dir):
    """The corpus->labels join must be a broadcast hash join: the label
    table is checkpoint-backed (no size stats), so without the hint the
    planner SortMergeJoins — i.e. shuffles the whole corpus against a
    table of pair endpoints."""
    from raster_join_spark.operators.dedup import minhash_lsh_pairs
    from raster_join_spark.operators.sampling import split_assign

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_pairs(docs, k=64, bands=16, shingle_w=3)
    plan = plan_of(split_assign(docs, pairs, test_permille=200))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan and "Cartesian" not in plan


def test_prepare_corpus_no_doc_sized_join(spark, sf_dir):
    """The composed pipeline's final plan is one corpus scan -> broadcast
    label join -> filter -> project; the keep decision is a predicate on
    the assignment frame, never a doc-sized join against a keep set."""
    from raster_join_spark.plans.pipeline import prepare_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(prepare_corpus(docs, test_permille=200))
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan and "Cartesian" not in plan


def test_query_engine_reads_cached_points(spark, sf_dir):
    """QueryEngine requests scan the engine's persisted copy of its input:
    the page synthesis (regex extraction) ran once when the engine was
    built and is in no request's plan. Each request is one Arrow pass
    straight over that copy: the window, time bounds and constraints run
    inside the kernel, so there is no Filter above the InMemoryTableScan,
    and two requests with different literals run the same physical
    operators (nothing to re-plan or compile). ``coarse_scan`` filters on
    the window once, written on the grid coordinates (no CASE WHEN)."""
    import re

    from raster_join_spark.plans.query import ConstraintType, QueryConstraint, QueryEngine

    eng = QueryEngine(spark, points_df(spark, sf_dir), COARSE_GRID).set_polygon_query(ORACLE_POLYS)

    def request(fn: str, t0: str, t1: str, lo: int):
        eng.execute_query(None, t0, t1)
        eng.set_query_constraints([QueryConstraint("value_c", ConstraintType.GT, lo)])
        ops = assert_one_arrow_pass(spark, lambda: eng.execute_function(fn))
        assert any(name == "InMemoryTableScan" for name, _ in ops), (fn, ops)
        assert not [d for _, d in ops if "regexp_extract" in d], (fn, ops)
        assert "Filter" not in [name for name, _ in ops], (fn, ops)
        return [(name, re.sub(r"#\d+", "#", d)) for name, d in ops]

    for fn in ("raster", "index", "hybrid", "errorbounds"):
        a = request(fn, "2024-01-05 00:00:00", "2024-01-25 00:00:00", 2000)
        b = request(fn, "2024-01-07 06:00:00", "2024-01-19 23:59:59.999999", 5000)
        assert a == b, (fn, a, b)
    sj = SpatialJoin(spark, ORACLE_POLYS, COARSE_GRID)
    (ops,) = ran_plans(spark, lambda: sj.coarse_scan(eng.points, *ORACLE_POLYS.bbox).count())
    filters = [d for name, d in ops if name == "Filter"]
    assert len(filters) == 1 and "CASE WHEN" not in filters[0].upper(), ops
    eng.points.unpersist()


def test_knn_bulk_one_arrow_pass(spark, spark_jobs):
    """knn_join_bulk runs two Spark jobs (the point collect, then the
    query shuffle and the kNN pass that fill the result cache) with one
    MapInArrow and none of the former round plan: no pandas cogroup, no
    collect_list merge, no nested-loop fallback."""
    import numpy as np
    import pandas as pd

    from raster_join_spark.geo.grid import GridSpec
    from raster_join_spark.operators.knn import knn_join_bulk

    rng = np.random.RandomState(5)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {"event_id": np.arange(500), "x": rng.uniform(0, 100, 500), "y": rng.uniform(0, 100, 500)}
        )
    )
    qdf = spark.createDataFrame(
        pd.DataFrame({"q_id": np.arange(40), "qx": rng.uniform(-5, 105, 40), "qy": rng.uniform(0, 100, 40)})
    )
    grid = GridSpec(0.0, 0.0, 10.0, 10.0, 10, 10)
    ran = []
    plans = ran_plans(
        spark, lambda: ran.append(spark_jobs(lambda: knn_join_bulk(spark, pts, grid, qdf, 4))), into_cache=True
    )
    out, jobs = ran[0]
    assert out.count() == 160
    out.unpersist()
    assert len(jobs) <= 2, jobs
    ops = [op for plan in plans for op in plan]
    names = [name for name, _ in ops]
    assert names.count("MapInArrow") == 1, names
    assert not [n for n in names if "FlatMapCoGroups" in n or "NestedLoopJoin" in n], names
    assert not [d for _, d in ops if "collect_list" in d], ops


def test_knn_join_one_collect(spark, spark_jobs):
    """knn_join over a driver list runs one Spark job, the collect of the
    point projection: no collect_list merge, no join of any kind (the
    former probe rounds and nested-loop fallback), and nothing persisted
    afterwards."""
    import numpy as np
    import pandas as pd

    from raster_join_spark.geo.grid import GridSpec
    from raster_join_spark.operators.knn import knn_join

    rng = np.random.RandomState(6)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {"event_id": np.arange(500), "x": rng.uniform(0, 100, 500), "y": rng.uniform(0, 100, 500)}
        )
    )
    qs = [(0, 5.0, 5.0), (1, 50.0, 99.0), (2, -20.0, 40.0)]
    grid = GridSpec(0.0, 0.0, 10.0, 10.0, 10, 10)
    jsc = spark.sparkContext._jsc
    cached = set(jsc.getPersistentRDDs().keys())
    ran = []
    plans = ran_plans(spark, lambda: ran.append(spark_jobs(lambda: knn_join(spark, pts, grid, qs, 4))))
    out, jobs = ran[0]
    assert len(jobs) == 1 and len(plans) == 1, (jobs, plans)
    names = [name for name, _ in plans[0]]
    assert not [n for n in names if "Join" in n or "Aggregate" in n], names
    assert not [d for _, d in plans[0] if "collect_list" in d], plans[0]
    assert set(jsc.getPersistentRDDs().keys()) == cached
    # the result is a local relation: consuming it runs no Spark job
    rows, jobs = spark_jobs(out.collect)
    assert len(rows) == 12 and jobs == [], jobs
