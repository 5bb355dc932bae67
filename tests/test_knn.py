"""kNN over the grid index of the points (J6, GridIndexF.cpp:177-198)
vs brute-force numpy top-k, and radius queries vs numpy."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from raster_join_spark.geo.grid import GridSpec
from raster_join_spark.operators import knn
from raster_join_spark.operators.knn import knn_join, knn_join_bulk


def _brute(ids, x, y, grid, qx, qy, k):
    """[(dist2, id)] of ranks 1..k over the in-grid points, ordered by
    (dist2, id), distances in the oracle's op order."""
    keep = np.flatnonzero(grid.cell_ids_np(x, y) >= 0)
    d2 = (x[keep] - qx) * (x[keep] - qx) + (y[keep] - qy) * (y[keep] - qy)
    return sorted(zip(d2.tolist(), [ids[i] for i in keep]))[:k]


def _assert_knn(got, ids, x, y, grid, qs, k, id_col="event_id"):
    """``got`` (pandas) holds exactly the brute-force rows of every query."""
    n_rows = 0
    for q, qx, qy in qs:
        exp = _brute(ids, x, y, grid, qx, qy, k)
        sub = got[got.q_id == q].sort_values("rank")
        assert sub["rank"].tolist() == list(range(1, len(exp) + 1)), f"q={q}"
        assert list(zip(sub["dist2"].tolist(), sub[id_col].tolist())) == exp, f"q={q}"
        n_rows += len(exp)
    assert len(got) == n_rows


def test_knn_exact_vs_bruteforce(spark):
    rng = np.random.RandomState(5)
    n = 3000
    x = np.round(rng.uniform(0, 1000, n))
    y = np.round(rng.uniform(0, 1000, n))
    df = spark.createDataFrame(
        pd.DataFrame({"event_id": np.arange(n, dtype=np.int64), "x": x, "y": y})
    )
    grid = GridSpec(0.0, 0.0, 50.0, 50.0, 20, 20)
    queries = [(0, 100.0, 100.0), (1, 995.0, 5.0), (2, 500.0, 500.0)]
    k = 7

    got = knn_join(spark, df, grid, queries, k).toPandas()
    assert len(got) == k * len(queries)

    for q, qx, qy in queries:
        d2 = (x - qx) * (x - qx) + (y - qy) * (y - qy)
        order = np.lexsort((np.arange(n), d2))[:k]
        exp_ids = order.tolist()
        sub = got[got.q_id == q].sort_values("rank")
        assert sub["event_id"].tolist() == exp_ids, f"q={q}"
        np.testing.assert_array_equal(sub["dist2"].to_numpy(), d2[order])


def test_knn_radius_clamp_no_overshoot(spark):
    """k > n: fewer in-grid points than k exist, so no query can certify
    by its k-th distance; every query must still finish and return each
    point exactly once, ranked (the whole-grid block closes it out)."""
    n = 5
    ids = np.arange(n, dtype=np.int64)
    x = np.array([900.0, 910.0, 920.0, 930.0, 940.0])
    y = np.array([900.0, 910.0, 920.0, 930.0, 940.0])
    grid = GridSpec(0.0, 0.0, 50.0, 50.0, 20, 20)
    qs = [(0, 10.0, 10.0)]
    got = knn_join(spark, _pdf(spark, ids, x, y), grid, qs, k=10).toPandas()
    _assert_knn(got, ids, x, y, grid, qs, 10)


def test_knn_fine_grid_sparse_no_giant_literal(spark):
    """A fine grid (2048 x 2048 = 4.2M cells) with sparse data, ~1 point
    per 100k cells: the query's block must grow across most of the grid
    and stay exact."""
    rng = np.random.RandomState(11)
    n = 40
    ids = np.arange(n, dtype=np.int64)
    x = rng.uniform(0, 204800, n).round()
    y = rng.uniform(0, 204800, n).round()
    grid = GridSpec(0.0, 0.0, 100.0, 100.0, 2048, 2048)
    qs = [(0, 55.0, 44.0)]
    got = knn_join(spark, _pdf(spark, ids, x, y), grid, qs, k=5).toPandas()
    _assert_knn(got, ids, x, y, grid, qs, 5)


def test_knn_annulus_merge_across_rounds(spark):
    """Four points near the query and a far shell: the top-9 combines the
    near 4 with candidates only a wider block reaches, so a probe that
    replaced instead of merged would lose the near 4."""
    rng = np.random.RandomState(21)
    ang = rng.uniform(0, 2 * np.pi, 396)
    fx = (500 + np.cos(ang) * 160.0).round()  # far shell, fully in-grid
    fy = (500 + np.sin(ang) * 160.0).round()
    x = np.r_[[560.0, 500.0, 540.0, 515.0], fx]
    y = np.r_[[500.0, 560.0, 540.0, 545.0], fy]
    n = len(x)
    ids = np.arange(n, dtype=np.int64)
    grid = GridSpec(0.0, 0.0, 25.0, 25.0, 40, 40)
    qs = [(0, 500.0, 500.0)]
    got = knn_join(spark, _pdf(spark, ids, x, y), grid, qs, k=9).toPandas()
    assert {0, 1, 2, 3} <= set(got["event_id"])  # the near 4 are in the answer
    _assert_knn(got, ids, x, y, grid, qs, 9)


def test_knn_bulk_vs_bruteforce(spark):
    """Set-oriented kNN over a DataFrame of query points — exact vs
    numpy brute force for every query, including ties broken by id."""
    rng = np.random.RandomState(31)
    n, nq, k = 2000, 50, 4
    x = rng.uniform(0, 1000, n).round()
    y = rng.uniform(0, 1000, n).round()
    df = spark.createDataFrame(
        pd.DataFrame({"event_id": np.arange(n, dtype=np.int64), "x": x, "y": y})
    )
    qx = rng.uniform(0, 1000, nq).round()
    qy = rng.uniform(0, 1000, nq).round()
    qdf = spark.createDataFrame(
        pd.DataFrame({"q_id": np.arange(nq, dtype=np.int64), "qx": qx, "qy": qy})
    )
    grid = GridSpec(0.0, 0.0, 50.0, 50.0, 20, 20)
    got = knn_join_bulk(spark, df, grid, qdf, k).toPandas()
    assert len(got) == nq * k
    for q in range(nq):
        d2 = (x - qx[q]) ** 2 + (y - qy[q]) ** 2
        exp = np.lexsort((np.arange(n), d2))[:k].tolist()
        sub = got[got.q_id == q].sort_values("rank")
        assert sub["event_id"].tolist() == exp, f"q={q}"


def test_knn_bulk_sparse_forces_multi_round(spark, monkeypatch):
    """Queries in empty regions: the in-kernel ring expansion must grow
    over several block probes (counted on the kernel run in-process) and
    the operator must stay exact."""
    rng = np.random.RandomState(41)
    n, k = 2000, 6
    x = rng.uniform(900, 1000, n).round()
    y = rng.uniform(900, 1000, n).round()
    ids = np.arange(n, dtype=np.int64)
    df = spark.createDataFrame(pd.DataFrame({"event_id": ids, "x": x, "y": y}))
    qs = [(0, 5.0, 5.0), (1, 980.0, 990.0)]
    qdf = spark.createDataFrame(pd.DataFrame(qs, columns=["q_id", "qx", "qy"]))
    grid = GridSpec(0.0, 0.0, 10.0, 10.0, 100, 100)
    probes = []
    block_topk = knn._block_topk

    def counted(ix, qx, *args):
        probes.append(len(qx))
        return block_topk(ix, qx, *args)

    monkeypatch.setattr(knn, "_block_topk", counted)
    ix = knn._point_index(
        pa.table({"event_id": ids, "x": x, "y": y}), grid, "event_id", "x", "y"
    )
    knn._knn_batch(ix, np.array([5.0, 980.0]), np.array([5.0, 990.0]), k, 1 << 20)
    assert len(probes) >= 2, probes
    got = knn_join_bulk(spark, df, grid, qdf, k).toPandas()
    _assert_knn(got, ids, x, y, grid, qs, k)


def test_knn_bulk_no_reexecution_on_consume(spark):
    """Round-4 verdict item 2: the query pass executes exactly once —
    consuming the returned DataFrame (even repeatedly) must NOT re-scan
    the point source. The source is wrapped in a counting mapInArrow
    stage; after knn_join_bulk returns (it materializes the persisted
    result internally), further consumption leaves the scan counter
    untouched."""
    rng = np.random.RandomState(51)
    n, k = 60, 6
    x = rng.uniform(900, 1000, n).round()
    y = rng.uniform(900, 1000, n).round()
    src = spark.createDataFrame(
        pd.DataFrame({"event_id": np.arange(n, dtype=np.int64), "x": x, "y": y})
    )
    acc = spark.sparkContext.accumulator(0)

    def bump(it):
        for rb in it:
            acc.add(rb.num_rows)
            yield rb

    counted = src.mapInArrow(bump, src.schema)
    qdf = spark.createDataFrame(
        pd.DataFrame(
            {"q_id": np.array([0, 1], dtype=np.int64),
             "qx": [5.0, 980.0], "qy": [5.0, 990.0]}
        )
    )
    grid = GridSpec(0.0, 0.0, 10.0, 10.0, 100, 100)
    got = knn_join_bulk(spark, counted, grid, qdf, k)
    scans_after_build = acc.value
    assert scans_after_build > 0
    got.count()
    out = got.toPandas()  # consume twice — still no source re-scan
    assert acc.value == scans_after_build, (
        f"result consumption re-executed the probe join: source rows "
        f"scanned went {scans_after_build} -> {acc.value}"
    )
    for q, (qx_, qy_) in enumerate([(5.0, 5.0), (980.0, 990.0)]):
        d2 = (x - qx_) ** 2 + (y - qy_) ** 2
        exp = np.lexsort((np.arange(n), d2))[:k].tolist()
        sub = out[out.q_id == q].sort_values("rank")
        assert sub["event_id"].tolist() == exp, f"q={q}"
    got.unpersist()


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _cell_id_equi_join(plan: str) -> bool:
    return any(
        ("HashJoin" in line or "SortMergeJoin" in line) and "cell_id" in line
        for line in plan.splitlines()
    )


def test_radius_query_offgrid_span_does_not_bypass_cap(spark):
    """ADVICE round 4: a query MBR fully right/above the grid used to
    yield a NEGATIVE clamped span that offset another query's huge
    positive span and bypassed literal_cap. Spans must clamp at 0 per
    query; rows must be identical either way."""
    from raster_join_spark.operators.knn import radius_query

    rng = np.random.RandomState(17)
    n = 300
    x = rng.uniform(0, 100_000, n).round()
    y = rng.uniform(0, 100_000, n).round()
    df = spark.createDataFrame(
        pd.DataFrame({"event_id": np.arange(n, dtype=np.int64), "x": x, "y": y})
    )
    grid = GridSpec(0.0, 0.0, 50.0, 50.0, 2000, 2000)
    # q0: x far off-grid, y in-grid -> unclamped span is hugely NEGATIVE
    # (neg x-span * pos y-span) and would offset q1's 2.56M-cell span
    # right past the 65,536 cap; q1 alone demands the fallback
    queries = [(0, 10_000_000.0, 50_000.0), (1, 50_000.0, 50_000.0)]
    rx = ry = 40_000.0
    fallback = radius_query(spark, df, grid, queries, rx, ry)
    got = fallback.toPandas()
    # the clamp kept the guard honest: the query list broadcast against
    # every point, no cell table
    plan = _executed_plan(fallback)
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan, plan
    assert not _cell_id_equi_join(plan), plan
    cells = radius_query(spark, df, grid, queries, rx, ry, literal_cap=10**9)
    oracle = cells.toPandas()
    assert _cell_id_equi_join(_executed_plan(cells))
    key = ["q_id", "event_id"]
    pd.testing.assert_frame_equal(
        got.sort_values(key, ignore_index=True),
        oracle.sort_values(key, ignore_index=True),
    )
    m = ((x - 50_000.0) / rx) ** 2 + ((y - 50_000.0) / ry) ** 2 <= 1.0
    assert set(got[got.q_id == 1]["event_id"]) == set(np.flatnonzero(m))
    assert (got.q_id == 0).sum() == 0  # off-grid query matches nothing


def test_knn_query_outside_dense_area(spark):
    """Query in an empty corner: ring must expand several rounds and still
    return exact results."""
    rng = np.random.RandomState(8)
    n = 500
    x = rng.uniform(800, 1000, n).round()
    y = rng.uniform(800, 1000, n).round()
    df = spark.createDataFrame(
        pd.DataFrame({"event_id": np.arange(n, dtype=np.int64), "x": x, "y": y})
    )
    grid = GridSpec(0.0, 0.0, 25.0, 25.0, 40, 40)
    got = knn_join(spark, df, grid, [(0, 10.0, 10.0)], 3).toPandas()
    d2 = (x - 10.0) ** 2 + (y - 10.0) ** 2
    exp = np.lexsort((np.arange(n), d2))[:3].tolist()
    assert got.sort_values("rank")["event_id"].tolist() == exp


def test_radius_query_literal_cap_fallback(spark):
    """A huge radius on a fine grid must NOT enumerate a giant cell
    table — the fallback broadcasts the query list against all points
    and returns identical rows."""
    from raster_join_spark.operators.knn import radius_query

    rng = np.random.RandomState(13)
    n = 500
    x = rng.uniform(0, 100_000, n).round()
    y = rng.uniform(0, 100_000, n).round()
    df = spark.createDataFrame(
        pd.DataFrame({"event_id": np.arange(n, dtype=np.int64), "x": x, "y": y})
    )
    grid = GridSpec(0.0, 0.0, 50.0, 50.0, 2000, 2000)  # 4M cells
    queries = [(0, 20_000.0, 30_000.0), (1, 90_000.0, 10_000.0)]
    rx = ry = 40_000.0  # covers ~2.6M cells -> must take the fallback
    got = radius_query(spark, df, grid, queries, rx, ry).toPandas()
    small = radius_query(
        spark, df, grid, queries, rx, ry, literal_cap=10**9
    ).toPandas()  # force the cell-table plan as the oracle
    key = ["q_id", "event_id"]
    pd.testing.assert_frame_equal(
        got.sort_values(key, ignore_index=True),
        small.sort_values(key, ignore_index=True),
    )
    for q, qx, qy in queries:
        m = ((x - qx) / rx) ** 2 + ((y - qy) / ry) ** 2 <= 1.0
        assert set(got[got.q_id == q]["event_id"]) == set(np.flatnonzero(m))


def test_knn_bulk_hotcell_skew_block_kernel(spark):
    """Round-5 skew: a hot cell shared by many queries and many points.
    2,000 points and 300 queries share one cell of the caller's grid;
    the index refines it, the (query, candidate) pairs live only in the
    kernel's padded distance blocks, and results must stay exact vs
    numpy brute force INCLUDING duplicate-distance ties (lattice
    coordinates force dist2 collisions; ties break by id)."""
    rng = np.random.RandomState(77)
    n, k = 2000, 5
    # integer lattice inside the single cell [500,510)x[500,510) ->
    # many exact dist2 ties across distinct event_ids
    x = 500.0 + rng.randint(0, 10, n).astype(np.float64)
    y = 500.0 + rng.randint(0, 10, n).astype(np.float64)
    src = spark.createDataFrame(
        pd.DataFrame({"event_id": np.arange(n, dtype=np.int64), "x": x, "y": y})
    )
    nq = 300
    qx = 500.0 + rng.randint(0, 10, nq).astype(np.float64)
    qy = 500.0 + rng.randint(0, 10, nq).astype(np.float64)
    qdf = spark.createDataFrame(
        pd.DataFrame(
            {"q_id": np.arange(nq, dtype=np.int64), "qx": qx, "qy": qy}
        )
    )
    grid = GridSpec(0.0, 0.0, 10.0, 10.0, 100, 100)
    got = knn_join_bulk(spark, src, grid, qdf, k)
    out = got.toPandas()
    assert len(out) == nq * k
    ids = np.arange(n)
    for q in range(nq):
        d2 = (x - qx[q]) ** 2 + (y - qy[q]) ** 2
        order = np.lexsort((ids, d2))[:k]
        sub = out[out.q_id == q].sort_values("rank")
        assert sub["event_id"].tolist() == order.tolist(), f"q={q}"
        np.testing.assert_array_equal(sub["dist2"].to_numpy(), d2[order])
    got.unpersist()


def test_knn_bulk_out_of_grid_query_no_cell_alias(spark):
    """An out-of-grid query (qcx=-1) must not alias a valid cell when
    seeding its initial radius (ADVICE r6: qcx + nx*qcy wraps onto cell
    (nx-1, qcy-1) without bounds checks). Exactness was never at stake
    (certification bounds results) — pin it anyway, with queries on all
    four out-of-grid sides plus a far corner."""
    rng = np.random.RandomState(17)
    n = 4000
    x = np.round(rng.uniform(0, 1000, n))
    y = np.round(rng.uniform(0, 1000, n))
    df = spark.createDataFrame(
        pd.DataFrame({"event_id": np.arange(n, dtype=np.int64), "x": x, "y": y})
    )
    grid = GridSpec(0.0, 0.0, 50.0, 50.0, 20, 20)
    qs = [(0, -30.0, 500.0), (1, 1030.0, 500.0), (2, 500.0, -30.0),
          (3, 500.0, 1030.0), (4, -500.0, -500.0)]
    qdf = spark.createDataFrame(pd.DataFrame(qs, columns=["q_id", "qx", "qy"]))
    k = 5
    got = knn_join_bulk(spark, df, grid, qdf, k).toPandas()
    assert len(got) == k * len(qs)
    for q, qx, qy in qs:
        d2 = (x - qx) * (x - qx) + (y - qy) * (y - qy)
        order = np.lexsort((np.arange(n), d2))[:k]
        sub = got[got.q_id == q].sort_values("rank")
        assert sub["event_id"].tolist() == order.tolist(), f"q={q}"


def _pdf(spark, ids, x, y, id_col="event_id"):
    pdf = pd.DataFrame({id_col: ids, "x": x, "y": y})
    # an empty frame has no rows to infer its schema from
    return spark.createDataFrame(pdf, None if len(pdf) else f"{id_col} long, x double, y double")


def _qdf(spark, qs):
    return spark.createDataFrame(
        pd.DataFrame(qs, columns=["q_id", "qx", "qy"]).astype({"q_id": np.int64})
    )


def test_knn_bulk_empty_inputs(spark):
    """No points: every query gets zero rows. No queries: zero rows."""
    grid = GridSpec(0.0, 0.0, 10.0, 10.0, 10, 10)
    no_pts = _pdf(spark, np.array([], np.int64), np.array([]), np.array([]))
    qdf = _qdf(spark, [(0, 5.0, 5.0), (1, 55.0, 95.0)])
    assert knn_join_bulk(spark, no_pts, grid, qdf, 3).count() == 0
    pts = _pdf(spark, np.arange(5, dtype=np.int64), np.arange(5.0), np.arange(5.0))
    no_qs = spark.createDataFrame([], "q_id long, qx double, qy double")
    out = knn_join_bulk(spark, pts, grid, no_qs, 3)
    assert out.count() == 0
    assert out.columns == ["q_id", "event_id", "rank", "dist2"]


def test_knn_join_empty_inputs(spark, spark_jobs):
    """No in-grid points, no points at all, or no queries: an empty frame
    with the operator's schema, not an error."""
    grid = GridSpec(0.0, 0.0, 10.0, 10.0, 10, 10)
    schema = [
        ("q_id", "bigint", False),
        ("event_id", "bigint", False),
        ("rank", "int", False),
        ("dist2", "double", False),
    ]
    ids = np.arange(3, dtype=np.int64)
    outside = _pdf(spark, ids, np.array([-5.0, 150.0, 20.0]), np.array([5.0, 5.0, 100.0]))
    no_pts = _pdf(spark, np.array([], np.int64), np.array([]), np.array([]))
    pts = _pdf(spark, ids, np.arange(3.0), np.arange(3.0))
    cases = [(outside, [(0, 5.0, 5.0), (1, 55.0, 95.0)]), (no_pts, [(0, 5.0, 5.0)]), (pts, [])]
    for points, qs in cases:
        out = knn_join(spark, points, grid, qs, 3)
        assert [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema.fields] == schema
        assert spark_jobs(out.collect) == ([], [])


def test_knn_bulk_fewer_points_than_k(spark):
    """Three in-grid points (two more lie outside the grid and never
    count): every query gets those three, ranked, and no more."""
    grid = GridSpec(0.0, 0.0, 10.0, 10.0, 10, 10)
    ids = np.arange(5, dtype=np.int64)
    x = np.array([1.0, 50.0, 99.0, -3.0, 150.0])
    y = np.array([1.0, 50.0, 99.0, 20.0, 20.0])
    qs = [(0, 0.0, 0.0), (1, 60.0, 40.0), (2, -50.0, 200.0)]
    got = knn_join_bulk(spark, _pdf(spark, ids, x, y), grid, _qdf(spark, qs), 5).toPandas()
    assert len(got) == 9
    _assert_knn(got, ids, x, y, grid, qs, 5)


def test_knn_bulk_single_coordinate_ties_by_id(spark, monkeypatch):
    """Every point on one coordinate: refinement cannot split the cell,
    so each query's block holds all 3,000 points. A 256-entry matrix
    budget forces column tiles merging into the running top-k; all
    distances tie, so ranks follow the ids."""
    monkeypatch.setattr(knn, "_MATRIX_ENTRIES", 256)
    n, k = 3000, 7
    ids = np.random.RandomState(3).permutation(n).astype(np.int64) + 100
    x = np.full(n, 50.0)
    y = np.full(n, 50.0)
    grid = GridSpec(0.0, 0.0, 10.0, 10.0, 10, 10)
    qs = [(0, 50.0, 50.0), (1, 0.5, 3.25), (2, 250.0, 50.0)]
    got = knn_join_bulk(spark, _pdf(spark, ids, x, y), grid, _qdf(spark, qs), k).toPandas()
    _assert_knn(got, ids, x, y, grid, qs, k)
    assert got[got.q_id == 0]["event_id"].tolist() == list(range(100, 100 + k))


def test_knn_bulk_non_integral_and_out_of_grid_queries(spark):
    """Coordinates off the integer lattice on a non-dyadic grid, queries
    on every side outside the grid: an out-of-grid query probes from its
    clamped edge cell, and its certification bound still holds."""
    rng = np.random.RandomState(19)
    n, k = 1500, 4
    grid = GridSpec(-3.7, 2.2, 1.0 / 3.0, 0.7, 30, 20)
    ids = np.arange(n, dtype=np.int64)
    x = rng.uniform(grid.x0 - 1.0, grid.x1 + 1.0, n)
    y = rng.uniform(grid.y0 - 1.0, grid.y1 + 1.0, n)
    qx = np.r_[rng.uniform(grid.x0, grid.x1, 20), [grid.x0 - 5.3, grid.x1 + 0.01, 0.0, 1.5, -50.0]]
    qy = np.r_[rng.uniform(grid.y0, grid.y1, 20), [5.0, 9.1, grid.y0 - 0.2, grid.y1 + 7.7, 80.0]]
    qs = [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(qx, qy))]
    got = knn_join_bulk(spark, _pdf(spark, ids, x, y), grid, _qdf(spark, qs), k).toPandas()
    _assert_knn(got, ids, x, y, grid, qs, k)


def test_knn_bulk_string_ids_and_schema(spark):
    """A string id column is ranked and tie-broken by its own order, and
    the output schema follows the inputs' types: q_id keeps its type and
    nullability, the id column its type (never nullable), rank int,
    dist2 double."""
    rng = np.random.RandomState(23)
    n, k = 400, 3
    ids = np.array([f"p{i:04d}" for i in rng.permutation(n)], dtype=object)
    x = rng.randint(0, 40, n).astype(np.float64)  # lattice: many ties
    y = rng.randint(0, 40, n).astype(np.float64)
    grid = GridSpec(0.0, 0.0, 4.0, 4.0, 10, 10)
    pts = _pdf(spark, ids, x, y, id_col="pid")
    qs = [(i, float(a), float(b)) for i, (a, b) in enumerate(rng.randint(0, 40, (30, 2)))]
    qdf = _qdf(spark, qs).withColumn("q_id", F.col("q_id").cast("int"))
    out = knn_join_bulk(spark, pts, grid, qdf, k, id_col="pid")
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema.fields] == [
        ("q_id", "int", True),
        ("pid", "string", False),
        ("rank", "int", False),
        ("dist2", "double", False),
    ]
    _assert_knn(out.toPandas(), ids, x, y, grid, qs, k, id_col="pid")
    sq = spark.createDataFrame(pd.DataFrame({"q_id": ["a", "b"], "qx": [1.0, 39.0], "qy": [2.0, 0.5]}))
    pts_int = _pdf(spark, np.arange(n, dtype=np.int32), x, y)
    out = knn_join_bulk(spark, pts_int, grid, sq, k)
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema.fields] == [
        ("q_id", "string", True),
        ("event_id", "int", False),
        ("rank", "int", False),
        ("dist2", "double", False),
    ]
    assert out.count() == 2 * k


def test_knn_bulk_restores_aqe_conf(spark):
    """AQE (and with it partition coalescing) is held off only for the
    call: the session's settings come back afterwards, also when the
    call raises."""
    keys = ["spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled"]
    grid = GridSpec(0.0, 0.0, 10.0, 10.0, 10, 10)
    pts = _pdf(spark, np.arange(20, dtype=np.int64), np.arange(20.0) * 4, np.arange(20.0) * 3)
    qdf = _qdf(spark, [(0, 5.0, 5.0)])
    bad = qdf.withColumn("qx", F.when(F.col("q_id") >= 0, F.raise_error(F.lit("bad query"))))
    assert [spark.conf.get(key) for key in keys] == ["true", "true"]
    knn_join_bulk(spark, pts, grid, qdf, 2).unpersist()
    assert [spark.conf.get(key) for key in keys] == ["true", "true"]
    with pytest.raises(Exception, match="bad query"):
        knn_join_bulk(spark, pts, grid, bad, 2)
    assert [spark.conf.get(key) for key in keys] == ["true", "true"]


_cell = st.sampled_from([1.0, 0.5, 0.1, 1.0 / 3.0, 2.5, 7.3])
_frac = st.floats(min_value=-0.2, max_value=1.2, allow_nan=False)


@settings(max_examples=25, deadline=None)
@given(data=st.data())
def test_knn_bulk_matches_brute_force_property(spark, data):
    """knn_join_bulk and knn_join equal brute force over random grids
    (non-dyadic cell sizes), coordinates off the integer lattice, duplicated points,
    points and queries outside the grid, and k from 1 to past n."""
    nx, ny = data.draw(st.integers(1, 12)), data.draw(st.integers(1, 12))
    grid = GridSpec(
        data.draw(st.floats(-50, 50, allow_nan=False)),
        data.draw(st.floats(-50, 50, allow_nan=False)),
        data.draw(_cell), data.draw(_cell), nx, ny,
    )
    fx = st.builds(lambda f: grid.x0 + f * (grid.x1 - grid.x0), _frac)
    fy = st.builds(lambda f: grid.y0 + f * (grid.y1 - grid.y0), _frac)
    pts = data.draw(st.lists(st.tuples(fx, fy), max_size=60))
    dups = data.draw(st.lists(st.integers(0, max(len(pts) - 1, 0)), max_size=10)) if pts else []
    pts = pts + [pts[i] for i in dups]
    if data.draw(st.booleans()):
        pts = [(float(round(a)), float(round(b))) for a, b in pts]
    n = len(pts)
    qs = data.draw(st.lists(st.tuples(fx, fy), min_size=1, max_size=8))
    qs = [(i, a, b) for i, (a, b) in enumerate(qs)]
    k = data.draw(st.integers(1, n + 3))
    ids = np.arange(n, dtype=np.int64)[::-1].copy()
    x = np.array([p[0] for p in pts], dtype=np.float64)
    y = np.array([p[1] for p in pts], dtype=np.float64)
    pdf = _pdf(spark, ids, x, y)
    got = knn_join_bulk(spark, pdf, grid, _qdf(spark, qs), k)
    _assert_knn(got.toPandas(), ids, x, y, grid, qs, k)
    got.unpersist()
    _assert_knn(knn_join(spark, pdf, grid, qs, k).toPandas(), ids, x, y, grid, qs, k)


def test_knn_bulk_entry_releases_its_result(spark, sf_dir):
    """The driver's knn_bulk query collects the operator's persisted
    result into a local frame and unpersists it: three calls leave the
    session's persisted-RDD count where it was."""
    import __spark_entry__ as e

    jsc = spark.sparkContext._jsc
    e._q_knn_bulk(spark, sf_dir).collect()  # warm the entry's own caches
    before = jsc.getPersistentRDDs().size()
    rows = [e._q_knn_bulk(spark, sf_dir).collect() for _ in range(3)]
    assert jsc.getPersistentRDDs().size() == before
    assert rows[0] == rows[2] and len(rows[0]) > 0
