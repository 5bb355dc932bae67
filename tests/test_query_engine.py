"""DataHandler-shaped façade: constraint semantics, coarse window,
strategy equivalence (mirrors the reference's main.cpp query lifecycle)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from raster_join_spark.fixtures import COARSE_GRID, ORACLE_POLYS
from raster_join_spark.operators.spatial_join import SpatialJoin
from raster_join_spark.plans.query import (
    Aggregation,
    ConstraintType,
    QueryConstraint,
    QueryEngine,
)
from raster_join_spark.sources.pages import points_df


@pytest.fixture(scope="module")
def pts(spark, sf_dir):
    df = points_df(spark, sf_dir)
    yield df
    # every engine here persists this input; release it so later modules
    # plan over the raw scan (Spark would serve them from the cache)
    df.unpersist()


def test_constraints_match_manual_filters(spark, pts):
    """The reference's hardcoded constraint set shape (main.cpp:82-118):
    EQ on a categorical + GT/LT on numerics, conjunctive, inside a time
    window. Every strategy over the engine's cached input equals the same
    SpatialJoin strategy over the raw, uncached, manually filtered input,
    in every output column."""
    t0, t1 = "2024-01-05 00:00:00", "2024-01-25 00:00:00"
    eng = QueryEngine(spark, pts, COARSE_GRID).set_polygon_query(ORACLE_POLYS)
    eng.execute_query(None, t0, t1)
    eng.set_query_constraints(
        [
            QueryConstraint("lang", ConstraintType.EQ, "purchase"),
            QueryConstraint("value_c", ConstraintType.GT, 2000),
            QueryConstraint("value_c", ConstraintType.LT, 15000),
        ]
    )
    fns = ("raster", "index", "hybrid", "errorbounds")
    got = {fn: eng.execute_function(fn).orderBy("poly_id").toPandas() for fn in fns}

    eng.points.unpersist()
    ts = F.col("warc_ts")
    manual = pts.filter(
        (ts >= F.lit(t0).cast("timestamp_ntz"))
        & (ts <= F.lit(t1).cast("timestamp_ntz"))
        & (F.col("lang") == "purchase")
        & (F.col("value_c") > 2000)
        & (F.col("value_c") < 15000)
    )
    assert "InMemoryTableScan" not in manual._jdf.queryExecution().executedPlan().toString()
    sj = SpatialJoin(spark, ORACLE_POLYS, COARSE_GRID)
    exp = {
        "raster": sj.raster_join(manual),
        "index": sj.index_join(manual),
        "hybrid": sj.hybrid_join(manual),
        "errorbounds": sj.error_bounds(manual),
    }
    assert got["hybrid"]["agg"].sum() > 0
    for fn in fns:
        pd.testing.assert_frame_equal(
            got[fn], exp[fn].orderBy("poly_id").toPandas(), check_exact=True, obj=fn
        )


def test_all_exact_strategies_agree(spark, pts):
    eng = QueryEngine(spark, pts, COARSE_GRID).set_polygon_query(ORACLE_POLYS)
    res = {
        fn: eng.execute_function(fn).orderBy("poly_id").toPandas()["agg"].tolist()
        for fn in ("index", "hybrid", "cpu")
    }
    assert res["index"] == res["hybrid"] == res["cpu"]


def test_avg_and_sum_aggregations(spark, pts):
    eng = QueryEngine(spark, pts, COARSE_GRID).set_polygon_query(ORACLE_POLYS)
    eng.set_aggregation(Aggregation.SUM, "value_c")
    s = eng.execute_function("hybrid").orderBy("poly_id").toPandas()
    eng.set_aggregation(Aggregation.AVG, "value_c")
    a = eng.execute_function("hybrid").orderBy("poly_id").toPandas()
    eng.set_aggregation(Aggregation.COUNT)
    c = eng.execute_function("hybrid").orderBy("poly_id").toPandas()
    nz = c["agg"].to_numpy() > 0
    np.testing.assert_allclose(
        a["agg"].to_numpy()[nz],
        s["agg"].to_numpy()[nz] / c["agg"].to_numpy()[nz],
    )


def test_coarse_window_then_aggregate(spark, pts):
    """executeQuery narrows to the window superset; results over the
    window equal filtering exactly when polygons lie inside it."""
    eng = QueryEngine(spark, pts, COARSE_GRID).set_polygon_query(ORACLE_POLYS)
    eng.execute_query(t0="2024-01-01 00:00:00")
    out = eng.execute_function("errorbounds").toPandas()
    assert len(out) == ORACLE_POLYS.n_polys
    assert (out.lo1 <= out.cnt).all() and (out.cnt <= out.hi1).all()


def test_unknown_function_raises(spark, pts):
    """Bad input raises ValueError (not an assert, which ``python -O``
    strips)."""
    eng = QueryEngine(spark, pts, COARSE_GRID).set_polygon_query(ORACLE_POLYS)
    bare = QueryEngine(spark, pts, COARSE_GRID)
    cases = [
        (lambda: eng.execute_function("gpu"), "unknown join type"),
        (lambda: eng.set_aggregation(Aggregation.AVG), "AVG needs an attribute"),
        (lambda: eng.set_aggregation(Aggregation.SUM, ""), "SUM needs an attribute"),
        (lambda: bare.execute_function("hybrid"), "set_polygon_query first"),
        (lambda: bare.execute_query(ORACLE_POLYS.bbox), "set_polygon_query first"),
        (lambda: bare.execute_query(), "needs a box or a polygon collection"),
    ]
    for call, match in cases:
        with pytest.raises(ValueError, match=match):
            call()


def test_one_spark_job_per_request(spark, pts, spark_jobs):
    """Every strategy runs exactly one Spark job when the request is
    executed (one Arrow pass, reduced on the driver), and collecting its
    result runs none."""
    eng = QueryEngine(spark, pts, COARSE_GRID).set_polygon_query(ORACLE_POLYS)
    eng.execute_query(None, "2024-01-05 00:00:00", "2024-01-25 00:00:00")
    eng.set_query_constraints([QueryConstraint("value_c", ConstraintType.GT, 2000)])
    eng.set_aggregation(Aggregation.AVG, "value_c")
    for fn in ("raster", "index", "hybrid", "errorbounds"):
        df, jobs = spark_jobs(lambda: eng.execute_function(fn))
        assert len(jobs) == 1, (fn, jobs)
        rows, jobs = spark_jobs(df.collect)
        assert jobs == [] and len(rows) == ORACLE_POLYS.n_polys, (fn, jobs)


def test_empty_window_and_constraint(spark, pts):
    """A window or a constraint that matches no row: COUNT is 0 and
    SUM/AVG are NULL for every polygon, error_bounds is all 0, and
    without include_zero no row comes back. Each case's input is empty
    under the same predicate as a Spark filter (``window_spark_sql``,
    the time bounds, ``QueryConstraint.to_column``)."""
    eng = QueryEngine(spark, pts, COARSE_GRID).set_polygon_query(ORACLE_POLYS)
    n = ORACLE_POLYS.n_polys
    window = F.expr(COARSE_GRID.window_spark_sql("x", "y", ORACLE_POLYS.bbox))
    ts = F.col("warc_ts")
    t0, t1 = "2030-01-01 00:00:00", "2030-01-02 00:00:00"
    low = QueryConstraint("value_c", ConstraintType.LT, -(10**15))
    empties = {
        "window": (
            lambda: eng.execute_query(None, t0, t1).set_query_constraints([]),
            window
            & (ts >= F.lit(t0).cast("timestamp_ntz"))
            & (ts <= F.lit(t1).cast("timestamp_ntz")),
        ),
        "constraint": (
            lambda: eng.execute_query(None).set_query_constraints([low]),
            window & low.to_column(),
        ),
    }
    for case, (make_empty, spark_pred) in empties.items():
        make_empty()
        filtered = eng.points.filter(spark_pred)
        assert filtered.count() == 0, case
        for fn in ("raster", "index", "hybrid"):
            for agg, want in ((Aggregation.COUNT, 0), (Aggregation.SUM, None), (Aggregation.AVG, None)):
                eng.set_aggregation(agg, None if agg is Aggregation.COUNT else "value_c")
                rows = eng.execute_function(fn).orderBy("poly_id").collect()
                assert [r["poly_id"] for r in rows] == list(range(n)), (case, fn, agg)
                assert [r["agg"] for r in rows] == [want] * n, (case, fn, agg)
        eb = eng.execute_function("errorbounds").orderBy("poly_id").toPandas()
        assert eb["poly_id"].tolist() == list(range(n))
        assert (eb.drop(columns="poly_id").to_numpy() == 0).all(), case
        sj = SpatialJoin(spark, ORACLE_POLYS, COARSE_GRID)
        for strategy in (sj.raster_join, sj.index_join, sj.hybrid_join):
            assert strategy(filtered, include_zero=False).collect() == [], (case, strategy)


def test_time_bound_is_a_literal(spark, pts):
    """A time bound is parsed as one naive timestamp: text that would
    close a quote and widen the predicate, a time zone, an impossible
    date or a non-string raises ValueError at the request, and the
    engine keeps its previous (here empty) window instead of widening."""
    eng = QueryEngine(spark, pts, COARSE_GRID).set_polygon_query(ORACLE_POLYS)
    eng.execute_query(None, "2099-01-01 00:00:00")
    bad = [
        "2099-01-01 00:00:00' OR TRUE OR '",
        "2024-01-05T00:00:00+01:00",
        "2024-01-05 00:00:00Z",
        "2024-01-05 00:00:00 UTC",
        "2024-02-30 00:00:00",
        "2024-01-05 24:00:00",
        "2024-01-05 00:00",
        "2024-1-5",
        "yesterday",
        " 2024-01-05",
        "2024-01-05 00:00:00.1234567",
        20240105,
    ]
    for t in bad:
        with pytest.raises(ValueError, match="time bound"):
            eng.execute_query(None, t)
        with pytest.raises(ValueError, match="time bound"):
            eng.execute_query(None, "2024-01-01 00:00:00", t)
    assert [r.agg for r in eng.execute_function("hybrid").collect()] == [0] * ORACLE_POLYS.n_polys


def test_bad_predicate_input_raises(spark, pts):
    """Input the kernel cannot evaluate exactly raises ValueError naming
    it, before any job: a literal of the wrong type for its column, an
    unknown column, an integer outside int64, and a time bound on a
    column that is not TIMESTAMP_NTZ."""
    eng = QueryEngine(spark, pts, COARSE_GRID).set_polygon_query(ORACLE_POLYS)
    cases = [
        (("lang", ConstraintType.EQ, 3), "string column compares only with a string"),
        (("lang", ConstraintType.LT, 1.5), "string column compares only with a string"),
        (("value_c", ConstraintType.GT, "2000"), "compares only with an int or a float"),
        (("value_c", ConstraintType.GT, True), "compares only with an int or a float"),
        (("value_c", ConstraintType.LT, 2**70), "outside int64"),
        (("nope", ConstraintType.EQ, 1), "no column 'nope'"),
        (("url", ConstraintType.EQ, "\ud800"), "not valid UTF-8"),
    ]
    for (attr, op, value), match in cases:
        eng.set_query_constraints([QueryConstraint(attr, op, value)])
        with pytest.raises(ValueError, match=match):
            eng.execute_function("hybrid")
    eng.set_query_constraints([])
    for col, match in (("event_id", "bigint"), ("missing", "no such column")):
        with pytest.raises(ValueError, match=match):
            eng.execute_query(None, "2024-01-05 00:00:00", None, ts_col=col)


def test_no_request_compiles(spark, pts):
    """Requests differ only in literals, and those live in the kernel's
    predicate: after one warm request per strategy, requests with new
    windows, time bounds and constraint values compile no generated
    code (Spark's CodegenMetrics compilation count stays put). A Spark
    Filter carrying the literals compiled ~3 classes per request."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    eng = QueryEngine(spark, pts, COARSE_GRID).set_polygon_query(ORACLE_POLYS)
    eng.set_aggregation(Aggregation.SUM, "value_c")
    fns = ("raster", "index", "hybrid", "errorbounds")
    x0, y0, x1, y1 = ORACLE_POLYS.bbox
    langs = ("purchase", "view", "click")

    def request(i: int) -> None:
        d = i * (x1 - x0) / 40
        eng.execute_query((x0 + d, y0, x1 - d, y1 - d), f"2024-01-{1 + i:02d} 00:00:00",
                          f"2024-01-{20 + i:02d} 12:00:00.{i:06d}")
        eng.set_query_constraints(
            [
                QueryConstraint("lang", ConstraintType.EQ, langs[i % 3]),
                QueryConstraint("value_c", ConstraintType.GT, 1000 + 37 * i),
                QueryConstraint("value_c", ConstraintType.LT, 15000 - 11 * i),
            ]
        )
        eng.execute_function(fns[i % 4]).collect()

    for i in range(4):
        request(i)
    before = compiles.getCount()
    for i in range(4, 12):
        request(i)
    assert compiles.getCount() == before
