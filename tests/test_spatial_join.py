"""Spatial-join strategies vs the reference's semantics oracle.

Mirrors the reference's correctness methodology (SURVEY.md §5): the exact
strategies (index J2, hybrid J3) must agree with brute force row-for-row;
the approximate raster join (J1) must satisfy the error-bound property
(exact within [cnt-fp1, cnt+fn1], RasterJoin/main.cpp:178-193).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from raster_join_spark.fixtures import micro_fixture
from raster_join_spark.geo.grid import GridSpec
from raster_join_spark.geo.pip import pip_multi
from raster_join_spark.geo.polygons import blob_polygons
from raster_join_spark.operators.spatial_join import AggSpec, SpatialJoin


@pytest.fixture(scope="module")
def random_points():
    rng = np.random.RandomState(99)
    n = 4000
    x = np.round(rng.uniform(0, 1000, n))
    y = np.round(rng.uniform(0, 1000, n))
    val = rng.randint(0, 100, n)
    return x, y, val


@pytest.fixture(scope="module")
def points_df(spark, random_points):
    x, y, val = random_points
    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(len(x))],
            "x": x.astype(np.float64),
            "y": y.astype(np.float64),
            "val": val.astype(np.int64),
        }
    )
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def polyset():
    return blob_polygons(8, 0, 0, 1000, 1000, n_verts=9, seed=31)


@pytest.fixture(scope="module")
def grid():
    return GridSpec(0.0, 0.0, 25.0, 25.0, 40, 40)


def brute_counts(x, y, ps, val=None):
    pt_idx, poly_ids = pip_multi(x, y, ps.verts, ps.offsets)
    cnt = np.zeros(ps.n_polys, dtype=np.int64)
    sums = np.zeros(ps.n_polys, dtype=np.int64)
    for i, p in zip(pt_idx, poly_ids):
        cnt[p] += 1
        if val is not None:
            sums[p] += val[i]
    return cnt, sums


# ------------------------------------------------------------ micro fixture


def test_micro_fixture_counts(spark):
    """Reference baseLineSample (baseline.hpp:139-217): poly0=2, poly1=3."""
    px, py, polys = micro_fixture()
    df = spark.createDataFrame(
        pd.DataFrame({"url": [f"p{i}" for i in range(5)], "x": px, "y": py})
    )
    grid = GridSpec(4.8, 4.8, 0.05, 0.05, 12, 12)
    sj = SpatialJoin(spark, polys, grid)
    for strategy in (sj.index_join, sj.hybrid_join):
        got = {r["poly_id"]: r["agg"] for r in strategy(df).collect()}
        assert got == {0: 2, 1: 3}, strategy.__name__


# ----------------------------------------------------- exact strategies


def test_index_join_matches_bruteforce(spark, points_df, polyset, grid, random_points):
    x, y, val = random_points
    exp_cnt, _ = brute_counts(x, y, polyset)
    sj = SpatialJoin(spark, polyset, grid)
    got = sj.index_join(points_df).orderBy("poly_id").toPandas()
    np.testing.assert_array_equal(got["agg"].to_numpy(), exp_cnt)


def test_hybrid_equals_index(spark, points_df, polyset, grid, random_points):
    x, y, val = random_points
    exp_cnt, exp_sum = brute_counts(x, y, polyset, val)
    sj = SpatialJoin(spark, polyset, grid)
    cnt = sj.hybrid_join(points_df).orderBy("poly_id").toPandas()
    np.testing.assert_array_equal(cnt["agg"].to_numpy(), exp_cnt)
    # sum + avg parity (A2; reference wires Avg, Sum enum exists, Common.h:26)
    s = sj.hybrid_join(points_df, AggSpec("sum", "val", "s")).orderBy("poly_id").toPandas()
    np.testing.assert_array_equal(
        np.nan_to_num(s["s"].to_numpy(), nan=0).astype(np.int64), exp_sum
    )
    a = sj.hybrid_join(points_df, AggSpec("avg", "val", "a")).orderBy("poly_id").toPandas()
    nonzero = exp_cnt > 0
    np.testing.assert_allclose(
        a["a"].to_numpy()[nonzero], exp_sum[nonzero] / exp_cnt[nonzero]
    )


def test_assign_polygons_row_for_row(spark, points_df, polyset, grid, random_points):
    """Per-point tile+polygon assignments match brute force ROW-FOR-ROW
    (north_star requirement)."""
    x, y, val = random_points
    pt_idx, poly_ids = pip_multi(x, y, polyset.verts, polyset.offsets)
    expected = {(f"u{i}", int(p)) for i, p in zip(pt_idx, poly_ids)}
    sj = SpatialJoin(spark, polyset, grid)
    got_rows = sj.assign_polygons(points_df).collect()
    got = {(r["url"], r["poly_id"]) for r in got_rows}
    assert got == expected
    assert len(got_rows) == len(got_rows)  # no duplicate pairs
    # cell ids in the assignment match the grid kernel
    cells = grid.cell_ids_np(x, y)
    idx = {f"u{i}": int(c) for i, c in enumerate(cells)}
    for r in got_rows:
        assert idx[r["url"]] == r["cell_id"]


def test_non_integral_coordinates_match_brute_force(spark):
    """Every exact path against the numpy brute force on inputs off the
    integer lattice: half-integer polygon vertices, points at fractional
    positions, points exactly on cell edges, and points on polygon
    vertices and edges. The first three points are the smallest case
    that truncating the coordinates gets wrong: all three lie inside
    the square [0.5, 5.5]^2, but (0.7, 0.7) truncates to (0, 0)."""
    from raster_join_spark.geo.polygons import PolygonSet

    polys = PolygonSet.from_list(
        [
            [(0.5, 0.5), (5.5, 0.5), (5.5, 5.5), (0.5, 5.5)],
            [(7.5, 1.5), (13.5, 2.5), (9.5, 8.5)],
            [(2.5, 9.5), (6.5, 7.5), (8.5, 12.5), (4.5, 14.5), (1.5, 12.5)],
            [(11.5, 10.5), (17.5, 10.5), (17.5, 17.5), (14.5, 13.5), (11.5, 17.5)],
        ]
    )
    grid = GridSpec(0.0, 0.0, 2.5, 2.5, 8, 8)  # cell edges at multiples of 2.5
    rng = np.random.RandomState(41)
    n = 1500
    x = np.r_[
        [0.7, 2.0, 5.3],
        rng.uniform(0, 20, n),  # fractional positions
        2.5 * rng.randint(0, 8, n // 3),  # on vertical cell edges
        rng.uniform(0, 20, n // 3),
        polys.verts[:, 0],  # on polygon vertices
        np.repeat([0.5, 5.5, 11.5, 17.5], 5),  # on vertical polygon edges
    ]
    y = np.r_[
        [0.7, 2.0, 1.0],
        rng.uniform(0, 20, n),
        rng.uniform(0, 20, n // 3),
        2.5 * rng.randint(0, 8, n // 3),  # on horizontal cell edges
        polys.verts[:, 1],
        np.tile([0.5, 2.25, 3.0, 5.5, 12.75], 4),
    ]
    val = rng.randint(0, 1000, len(x)).astype(np.int64)
    df = spark.createDataFrame(
        pd.DataFrame({"url": [f"u{i}" for i in range(len(x))], "x": x, "y": y, "val": val})
    )
    cnt, sums = brute_counts(x, y, polys, val)
    want_avg = np.where(cnt > 0, sums / np.where(cnt > 0, cnt, 1), np.nan)
    pt_idx, poly_ids = pip_multi(x, y, polys.verts, polys.offsets)
    cells = grid.cell_ids_np(x, y)
    want_pairs = {(f"u{i}", int(cells[i]), int(p)) for i, p in zip(pt_idx, poly_ids)}
    # the three repro points alone: 3 in the square, index and hybrid alike
    sj = SpatialJoin(spark, polys, grid)
    repro = spark.createDataFrame(pd.DataFrame({"x": x[:3], "y": y[:3]}))
    for strategy in (sj.index_join, sj.hybrid_join):
        got = strategy(repro).orderBy("poly_id").toPandas()["agg"].tolist()
        assert got == [3, 0, 0, 0], strategy.__name__

    for sj in (SpatialJoin(spark, polys, grid), SpatialJoin(spark, polys, grid, refine=4)):
        for strategy in (sj.index_join, sj.hybrid_join):
            got = strategy(df).orderBy("poly_id").toPandas()["agg"]
            assert got.tolist() == cnt.tolist(), (strategy.__name__, sj.refine_k)
        s = sj.hybrid_join(df, AggSpec("sum", "val")).orderBy("poly_id").toPandas()["agg"]
        assert s.fillna(0).astype(np.int64).tolist() == sums.tolist()
        a = sj.hybrid_join(df, AggSpec("avg", "val")).orderBy("poly_id").toPandas()["agg"]
        assert np.array_equal(a.to_numpy(np.float64), want_avg, equal_nan=True)
        rows = sj.assign_polygons(df).collect()
        assert len(rows) == len(want_pairs)
        assert {(r["url"], r["cell_id"], r["poly_id"]) for r in rows} == want_pairs


# ----------------------------------------------------- raster + bounds


def test_raster_join_matches_cover_semantics(spark, points_df, polyset, random_points):
    """Raster count per poly == count of points whose CELL CENTER is inside
    (the J1 whole-pixel attribution)."""
    x, y, val = random_points
    fine = GridSpec(0.0, 0.0, 5.0, 5.0, 200, 200)
    sj = SpatialJoin(spark, polyset, fine)
    got = sj.raster_join(points_df).orderBy("poly_id").toPandas()["agg"].to_numpy()

    cells = fine.cell_ids_np(x, y)
    ccx, ccy = fine.cell_centers_np(cells)
    exp = np.zeros(polyset.n_polys, dtype=np.int64)
    from raster_join_spark.geo.pip import pip_mask

    for p in range(polyset.n_polys):
        exp[p] = int(pip_mask(ccx, ccy, polyset.poly_verts(p)).sum())
    np.testing.assert_array_equal(got, exp)


def test_error_bounds_contain_exact(spark, points_df, polyset, random_points):
    """Epsilon-bound property (RasterJoin/main.cpp:178-193): the exact count
    lies within the whole-pixel interval [cnt-fp1, cnt+fn1] for EVERY
    polygon, at two grid resolutions."""
    x, y, val = random_points
    exact, _ = brute_counts(x, y, polyset)
    for cell in (5.0, 20.0):
        n = int(1000 / cell)
        fine = GridSpec(0.0, 0.0, cell, cell, n, n)
        sj = SpatialJoin(spark, polyset, fine)
        eb = sj.error_bounds(points_df).orderBy("poly_id").toPandas()
        assert (eb["lo1"].to_numpy() <= exact).all(), f"cell={cell}"
        assert (exact <= eb["hi1"].to_numpy()).all(), f"cell={cell}"
        # raster error shrinks with resolution: interval width sane
        assert (eb["hi1"] >= eb["lo1"]).all()
        # fraction-weighted interval is within the whole-pixel one
        assert (eb["lo"] >= eb["lo1"] - 1e-9).all()
        assert (eb["hi"] <= eb["hi1"] + 1e-9).all()
        # micro-unit integer interval tracks the float one to within the
        # per-cell quantization (frac floor costs < 1 unit per boundary
        # cell contribution; bound loosely by total count)
        n_pts = int(eb["cnt"].sum())
        assert (np.abs(eb["lo_u6"] - eb["lo"] * 1e6) <= n_pts + 1).all()
        assert (np.abs(eb["hi_u6"] - eb["hi"] * 1e6) <= n_pts + 1).all()


def test_raster_error_shrinks_with_resolution(spark, points_df, polyset, random_points):
    x, y, val = random_points
    exact, _ = brute_counts(x, y, polyset)
    errs = []
    for cell in (50.0, 10.0, 2.0):
        n = int(1000 / cell)
        g = GridSpec(0.0, 0.0, cell, cell, n, n)
        sj = SpatialJoin(spark, polyset, g)
        got = sj.raster_join(points_df).orderBy("poly_id").toPandas()["agg"].to_numpy()
        errs.append(np.abs(got - exact).sum())
    assert errs[0] >= errs[1] >= errs[2]
    assert errs[2] <= max(1, 0.05 * exact.sum())


# ----------------------------------------------------- coarse scan


def test_coarse_scan_superset_then_exact(spark, points_df, polyset, grid, random_points):
    """S5/S6: the coarse sigma is a superset at cell granularity; chaining
    the exact sigma reproduces the brute-force box filter
    (BackendIndex/main.cpp:129-168's testBackendIndex)."""
    x, y, val = random_points
    box = (100.0, 200.0, 480.0, 730.0)
    sj = SpatialJoin(spark, polyset, grid)
    coarse = sj.coarse_scan(points_df, *box)
    n_coarse = coarse.count()
    exact_mask = (x >= box[0]) & (y >= box[1]) & (x <= box[2]) & (y <= box[3])
    n_exact_df = coarse.filter(
        (F.col("x") >= box[0]) & (F.col("y") >= box[1])
        & (F.col("x") <= box[2]) & (F.col("y") <= box[3])
    ).count()
    assert n_coarse >= int(exact_mask.sum())
    assert n_exact_df == int(exact_mask.sum())


def test_fused_sum_exact_above_2pow53(spark, polyset, grid):
    """Integral SUM stays bit-exact when values exceed float64's 2^53
    integer range: 2^55+1 is not float64-representable, so any float
    narrowing in the transfer or the partial accumulation would lose the
    +1 per row. The kernel must transfer int64 and guard the bincount
    fast path (falling back to exact int64 scatter-add)."""
    n = 100
    big = (1 << 55) + 1
    rng = np.random.RandomState(7)
    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(n)],
            "x": np.round(rng.uniform(0, 1000, n)),
            "y": np.round(rng.uniform(0, 1000, n)),
            "val": np.full(n, big, dtype=np.int64),
        }
    )
    df = spark.createDataFrame(pdf)
    sj = SpatialJoin(spark, polyset, grid)
    got = sj.hybrid_join(df, AggSpec("sum", "val", "agg")).orderBy("poly_id").toPandas()
    cnt, _ = brute_counts(pdf["x"].to_numpy(), pdf["y"].to_numpy(), polyset)
    exp = cnt * big  # exact int64 per polygon
    exp_series = [int(v) if v else None for v in exp]
    assert [None if pd.isna(v) else int(v) for v in got["agg"]] == exp_series


def test_hier_split_poly4096_budget_stop(spark):
    """The 4096-polygon gate fixture on the bench grid over 100k
    synthesized points (per-batch partial vectors of up to 4096 rows):
    the fused kernel equals index_join. The name is kept from the
    removed hierarchical split plan, whose budget stop this fixture hit."""
    from raster_join_spark.fixtures import COARSE_GRID, rect_polyset
    from raster_join_spark.sources.pages import synth_points

    ps = rect_polyset()
    sj = SpatialJoin(spark, ps, COARSE_GRID)
    pts = synth_points(spark, 100_000, 8)
    hyb = sj.hybrid_join(pts).orderBy("poly_id").toPandas()
    idx = sj.index_join(pts).orderBy("poly_id").toPandas()
    assert len(hyb) == ps.n_polys == 4096
    assert hyb["agg"].tolist() == idx["agg"].tolist()
    assert int(hyb["agg"].sum()) > 0


def test_rect_polyset_pip_equals_closed_form():
    """The 4096-rect gate fixture's load-bearing property: with every
    bound an exact (integer + 0.5) float64, ray-cast PIP over the rect
    equals the closed-form range test for all integer-microdegree points
    — the oracle uses the closed form, the engine runs real PIP."""
    import numpy as np

    from raster_join_spark.fixtures import (
        RECT_INSET_X,
        RECT_INSET_Y,
        X0,
        X1,
        Y0,
        Y1,
        rect_polyset,
    )
    from raster_join_spark.geo.pip import pip_mask

    side = 64
    ps = rect_polyset(side)
    sw, sh = (X1 - X0) / side, (Y1 - Y0) / side
    rng = np.random.RandomState(3)
    # random integer points + points hugging rect edges (off by 0/1)
    px = np.round(rng.uniform(X0, X1, 4000))
    py = np.round(rng.uniform(Y0, Y1, 4000))
    for p in (0, 63, 64 * 32 + 17, 4095):
        v = ps.poly_verts(p)
        for ex in (np.floor(v[0, 0]), np.ceil(v[0, 0]), np.floor(v[2, 0])):
            px = np.r_[px, ex, ex]
            py = np.r_[py, np.floor(v[0, 1]), np.ceil(v[2, 1])]
    sxp = np.floor((px - X0) / sw).astype(np.int64)
    syp = np.floor((py - Y0) / sh).astype(np.int64)
    ok = (sxp >= 0) & (sxp < side) & (syp >= 0) & (syp < side)
    inside_cf = (
        ok
        & (px > X0 + sxp * sw + RECT_INSET_X)
        & (px < X0 + (sxp + 1) * sw - RECT_INSET_X)
        & (py > Y0 + syp * sh + RECT_INSET_Y)
        & (py < Y0 + (syp + 1) * sh - RECT_INSET_Y)
    )
    poly_cf = np.where(inside_cf, sxp + side * syp, -1)
    got = np.full(len(px), -1, dtype=np.int64)
    for p in np.unique(poly_cf[poly_cf >= 0]):
        m = pip_mask(px, py, ps.poly_verts(int(p)))
        assert np.array_equal(m, poly_cf == p)  # exact agreement both ways
        got[m] = p
    # and points the closed form calls outside must be outside their slot's rect
    out_idx = np.flatnonzero(~inside_cf & ok)[:200]
    for i in out_idx:
        p = int(sxp[i] + side * syp[i])
        assert not pip_mask(px[i : i + 1], py[i : i + 1], ps.poly_verts(p))[0]


def test_pip_col_guard_and_jvm_fallback(spark):
    """1024 rect polygons over 3,000 random points: the fused kernel
    equals index_join row for row. The name is kept from the removed
    all-JVM PIP plan, which fell back to the fused kernel at this size."""
    from raster_join_spark.fixtures import COARSE_GRID, X0, X1, Y0, Y1, rect_polyset

    ps = rect_polyset(32)
    sj = SpatialJoin(spark, ps, COARSE_GRID)
    rng = np.random.RandomState(7)
    pdf = pd.DataFrame(
        {
            "x": np.round(rng.uniform(X0, X1, 3000)),
            "y": np.round(rng.uniform(Y0, Y1, 3000)),
        }
    )
    df = spark.createDataFrame(pdf)
    got = sj.hybrid_join(df).toPandas()
    exp = sj.index_join(df).toPandas()
    assert len(got) == ps.n_polys == 1024
    pd.testing.assert_frame_equal(
        got.sort_values("poly_id", ignore_index=True)[["poly_id", "agg"]],
        exp.sort_values("poly_id", ignore_index=True)[["poly_id", "agg"]],
        check_dtype=False,
    )
    assert int(got["agg"].sum()) > 0


def test_float32_decision_diff():
    """Documents the float32-vs-float64 PIP decision diff on the fixture
    distribution (100k synthesized points x 16 oracle polygons). float32
    ulp at ~1.2e8 microdegrees is 8 units, so only points within ~8
    microdegrees (~0.9 m) of an edge can flip; the count is asserted
    tiny and stable — the reference's storage precision
    (TaxiRecord.hpp:121-133) changes answers by at most this much.
    Recorded count: 1 flipped (point, polygon) decision in 100k points
    (driver-gated f32 row: spatial_index_f32)."""
    import numpy as np

    from raster_join_spark.fixtures import ORACLE_POLYS
    from raster_join_spark.geo.pip import pip_multi

    ids = np.arange(100_000, dtype=np.int64)
    hot = (ids % 10) < 3
    y = np.where(hot, 40_500_000 + (ids * 12345) % 400_000,
                 24_500_000 + (ids * 48271) % 24_000_000).astype(np.float64)
    x = np.where(hot, -74_200_000 + (ids * 54321) % 400_000,
                 -124_500_000 + (ids * 16807) % 57_000_000).astype(np.float64)
    v, o = ORACLE_POLYS.verts, ORACLE_POLYS.offsets
    p64 = set(zip(*pip_multi(x, y, v, o, dtype=np.float64)))
    p32 = set(zip(*pip_multi(x, y, v, o, dtype=np.float32)))
    diff = len(p64 ^ p32)
    assert diff <= 20, f"f32/f64 decision diff unexpectedly large: {diff}"
    # stability pin: bump deliberately if the fixture changes
    assert diff == 1, f"recorded diff count changed: {diff}"


def test_refinement_auto_and_equivalence(spark):
    """Tiny-polygon regime (round-4 verdict item 1): when polygons span
    < ~2 query cells, every covered query cell is a boundary cell and
    all points pay exact PIP (the reference hits the same wall sweeping
    --polygonDataset). SpatialJoin then classifies on an internal
    k-refined grid. Results are grid-independent by construction, so
    refined and unrefined runs must agree row-for-row; the public
    cell_id stays the CALLER's grid."""
    rng = np.random.RandomState(5)
    n = 3000
    x = np.round(rng.uniform(0, 1000, n))
    y = np.round(rng.uniform(0, 1000, n))
    df = spark.createDataFrame(
        pd.DataFrame({"url": [f"u{i}" for i in range(n)], "x": x, "y": y})
    )
    tiny = blob_polygons(1024, 0, 0, 1000, 1000, n_verts=7, seed=13)
    coarse = GridSpec(0.0, 0.0, 25.0, 25.0, 40, 40)
    sj = SpatialJoin(spark, tiny, coarse)  # refine="auto" default
    assert sj.tables.boundary_fraction() > sj.REFINE_BFRAC_MIN
    assert sj.refine_k > 1  # the all-boundary regime triggers refinement

    base = SpatialJoin(spark, tiny, coarse, refine=1)
    got_r = sj.hybrid_join(df).orderBy("poly_id").toPandas()
    got_1 = base.hybrid_join(df).orderBy("poly_id").toPandas()
    assert got_r["agg"].tolist() == got_1["agg"].tolist()

    # brute-force ground truth
    pt_idx, poly_ids = pip_multi(x, y, tiny.verts, tiny.offsets)
    cnt = np.zeros(tiny.n_polys, dtype=np.int64)
    for p in poly_ids:
        cnt[p] += 1
    assert got_r["agg"].tolist() == cnt.tolist()

    # per-point pairs: identical sets, and cell_id is the CALLER grid
    pr = sj.assign_polygons(df, cols=("url",)).toPandas()
    p1 = base.assign_polygons(df, cols=("url",)).toPandas()
    key = lambda t: sorted(zip(t["url"], t["cell_id"], t["poly_id"]))
    assert key(pr) == key(p1)
    cells = {u: c for u, c in zip(pr["url"], pr["cell_id"])}
    caller_cells = coarse.cell_ids_np(x, y)
    for i in range(0, n, 97):
        u = f"u{i}"
        if u in cells:
            assert cells[u] == caller_cells[i]

    # the ordinary fixture stays unrefined
    big = blob_polygons(8, 0, 0, 1000, 1000, n_verts=9, seed=31)
    assert SpatialJoin(spark, big, coarse).refine_k == 1



# ----------------------------------------------------- output contract


def _three_points(spark):
    """One square holding three points whose ``v`` is 5, NULL and 7 (and
    ``d`` 1.5, NULL, 2.5), one triangle holding a single point whose
    values are both NULL, and one empty triangle. The grid is fine
    enough that every strategy attributes every point to its polygon."""
    from raster_join_spark.geo.polygons import PolygonSet

    polys = PolygonSet.from_list(
        [
            [(0.5, 0.5), (5.5, 0.5), (5.5, 5.5), (0.5, 5.5)],
            [(10.5, 10.5), (14.5, 10.5), (10.5, 14.5)],
            [(20.5, 20.5), (22.5, 20.5), (20.5, 22.5)],
        ]
    )
    schema = T.StructType(
        [
            T.StructField("x", T.DoubleType()),
            T.StructField("y", T.DoubleType()),
            T.StructField("v", T.LongType()),
            T.StructField("d", T.DoubleType()),
            T.StructField("i", T.IntegerType()),
        ]
    )
    rows = [
        (1.2, 1.3, 5, 1.5, 5),
        (2.2, 2.3, None, None, None),
        (3.2, 3.3, 7, 2.5, 7),
        (11.2, 11.3, None, None, None),
    ]
    return polys, GridSpec(0.0, 0.0, 1.0, 1.0, 32, 32), spark.createDataFrame(rows, schema)


def test_null_values_follow_sql_semantics(spark):
    """SUM and AVG skip NULL values, AVG divides by the non-null count, and
    a polygon without a non-null value gets NULL — in all four
    strategies, integral and float columns alike. COUNT counts rows."""
    polys, grid, df = _three_points(spark)
    sj = SpatialJoin(spark, polys, grid)
    want = {
        "count": [3, 1, 0],
        "sum": {"v": [12, None, None], "i": [12, None, None], "d": [4.0, None, None]},
        "avg": {"v": [6.0, None, None], "i": [6.0, None, None], "d": [2.0, None, None]},
    }
    for strategy in (sj.raster_join, sj.index_join, sj.hybrid_join):
        got = strategy(df).orderBy("poly_id").toPandas()["agg"].tolist()
        assert got == want["count"], strategy.__name__
        for op in ("sum", "avg"):
            for col, exp in want[op].items():
                rows = strategy(df, AggSpec(op, col)).orderBy("poly_id").collect()
                assert [r["agg"] for r in rows] == exp, (strategy.__name__, op, col)
    eb = sj.error_bounds(df).orderBy("poly_id").toPandas()
    assert eb["cnt"].tolist() == want["count"]


def test_output_schemas_pinned(spark):
    """Column names, types and nullability of every aggregate result, as
    the strategies have always declared them (a densified COUNT is never
    NULL; SUM/AVG are nullable; SUM keeps an integral column's bigint)."""
    polys, grid, df = _three_points(spark)
    sj = SpatialJoin(spark, polys, grid)

    def fields(out):
        return [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema]

    pid = ("poly_id", "bigint", False)
    for name in ("raster_join", "index_join", "hybrid_join"):
        strategy = getattr(sj, name)
        for include_zero in (True, False):
            count_nullable = not include_zero and name != "index_join"
            want = {
                AggSpec(): ("bigint", count_nullable),
                AggSpec("sum", "v"): ("bigint", True),
                AggSpec("sum", "i"): ("bigint", True),
                AggSpec("sum", "d"): ("double", True),
                AggSpec("avg", "v"): ("double", True),
                AggSpec("avg", "d", "mean"): ("double", True),
            }
            for agg, (typ, nullable) in want.items():
                got = fields(strategy(df, agg, include_zero=include_zero))
                assert got == [pid, (agg.alias, typ, nullable)], (name, include_zero, agg)
    assert fields(sj.error_bounds(df)) == [pid] + [
        (c, "double" if c in ("lo", "hi") else "bigint", False)
        for c in ("cnt", "lo1", "hi1", "lo", "hi", "lo_u6", "hi_u6")
    ]


def test_kernel_task_counts(spark, spark_jobs, polyset, grid):
    """The Arrow pass coalesces its input to at most two tasks per core
    and never adds partitions: a 1-partition input runs 1 task, a
    64-partition input runs 2 * defaultParallelism. One job, one stage,
    for the aggregate strategies and for assign_polygons alike."""
    target = 2 * spark.sparkContext.defaultParallelism
    sj = SpatialJoin(spark, polyset, grid)
    for parts, tasks in ((1, 1), (64, target)):
        pts = spark.range(0, 6400, numPartitions=parts).select(
            ((F.col("id") * 37) % 1000).cast("double").alias("x"),
            ((F.col("id") * 91) % 1000).cast("double").alias("y"),
            F.col("id").cast("string").alias("url"),
        )
        calls = {
            "hybrid": lambda: sj.hybrid_join(pts),
            "index": lambda: sj.index_join(pts),
            "raster": lambda: sj.raster_join(pts),
            "errorbounds": lambda: sj.error_bounds(pts),
            "assign": lambda: sj.assign_polygons(pts).collect(),
        }
        for name, call in calls.items():
            _, jobs = spark_jobs(call)
            assert jobs == [[tasks]], (name, parts, jobs)


def test_area_fractions_built_only_for_error_bounds(spark, points_df, random_points, monkeypatch):
    """A never-seen collection classifies without the Sutherland–Hodgman
    stage: a cold assign_polygons and hybrid_join (base and refined
    classification grid) never clip. error_bounds afterwards adds the
    fractions to the cached entry, so the cache keeps one entry per
    (collection, grid), and its bounds still contain the exact count."""
    from raster_join_spark.geo import classify as cl

    ps = blob_polygons(6, 0, 0, 1000, 1000, n_verts=11, seed=4242, name="lazyfrac")
    grid = GridSpec(0.0, 0.0, 40.0, 40.0, 25, 25)

    def no_clip(*a, **k):
        raise AssertionError("area fractions built outside error_bounds")

    monkeypatch.setattr(cl, "_clip_area_fraction_batch", no_clip)
    for refine in (1, 4):
        sj = SpatialJoin(spark, ps, grid, refine=refine)
        assert sj.assign_polygons(points_df, cols=["url"]).count() > 0
        sj.hybrid_join(points_df).collect()
    monkeypatch.undo()

    sj = SpatialJoin(spark, ps, grid, refine=1)
    out = sj.error_bounds(points_df).toPandas().sort_values("poly_id")
    x, y, _ = random_points
    exact, _ = brute_counts(x, y, ps)
    assert (out["lo1"].to_numpy() <= exact).all() and (exact <= out["hi1"].to_numpy()).all()
    keys = [k for k in cl.POLY_GRID_CACHE._cache if k[0] == ps.cache_token]
    assert sorted(k[1].cell_w for k in keys) == [10.0, 40.0]
    t, has_frac = cl.POLY_GRID_CACHE._cache[(ps.cache_token, grid, "d")]
    assert has_frac
    b = t.cls_kind == cl.BOUNDARY
    assert (t.cls_frac[b] > 0).any()
    ref = cl.classify_cells_ref(grid, ps)
    np.testing.assert_allclose(t.cls_frac, ref.cls_frac, atol=1e-9)
