"""Property-based tests (hypothesis): PIP vs literal C-rule transcription,
grid/quadkey invariants, and the Spark coarse window against its numpy
twin (the one test here that runs Spark)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from raster_join_spark.geo.grid import GridSpec
from raster_join_spark.geo.pip import pip_mask
from raster_join_spark.geo.quadkey import quadkey_np

coord = st.floats(
    min_value=-1000, max_value=1000, allow_nan=False, allow_infinity=False
)


def c_rule(x: float, y: float, verts: np.ndarray) -> bool:
    """Literal transcription of the reference crossing loop
    (shaders/index.glsl:47-67 / GridIndexF.cpp:383-402)."""
    nvert = len(verts)
    c = False
    j = nvert - 1
    for i in range(nvert):
        vix, viy = float(verts[i][0]), float(verts[i][1])
        vjx, vjy = float(verts[j][0]), float(verts[j][1])
        if (viy > y) != (vjy > y) and x < (vjx - vix) * (y - viy) / (vjy - viy) + vix:
            c = not c
        j = i
    return c


@settings(max_examples=200, deadline=None)
@given(
    poly=st.lists(st.tuples(coord, coord), min_size=3, max_size=12),
    pts=st.lists(st.tuples(coord, coord), min_size=1, max_size=20),
)
def test_pip_matches_reference_rule(poly, pts):
    verts = np.asarray(poly, dtype=np.float64)
    px = np.asarray([p[0] for p in pts])
    py = np.asarray([p[1] for p in pts])
    got = pip_mask(px, py, verts)
    for i, (x, y) in enumerate(pts):
        assert got[i] == c_rule(x, y, verts)


@settings(max_examples=200, deadline=None)
@given(
    x=st.floats(min_value=0, max_value=99.999, allow_nan=False),
    y=st.floats(min_value=0, max_value=99.999, allow_nan=False),
)
def test_cell_id_consistent_with_rect(x, y):
    g = GridSpec(0.0, 0.0, 2.5, 2.5, 40, 40)
    cid = int(g.cell_ids_np(np.array([x]), np.array([y]))[0])
    assert cid >= 0
    lbx, lby, rtx, rty = g.cell_rect(cid)
    assert lbx <= x < rtx or np.isclose(x, rtx)
    assert lby <= y < rty or np.isclose(y, rty)


@settings(max_examples=100, deadline=None)
@given(
    x=st.floats(min_value=0, max_value=1023.999, allow_nan=False),
    y=st.floats(min_value=0, max_value=1023.999, allow_nan=False),
    z1=st.integers(min_value=1, max_value=10),
    z2=st.integers(min_value=1, max_value=10),
)
def test_quadkey_prefix_property(x, y, z1, z2):
    lo, hi = min(z1, z2), max(z1, z2)
    ka = quadkey_np(np.array([x]), np.array([y]), 0.0, 0.0, 1024.0, 1024.0, lo)[0]
    kb = quadkey_np(np.array([x]), np.array([y]), 0.0, 0.0, 1024.0, 1024.0, hi)[0]
    assert kb.startswith(ka)
    assert len(ka) == lo and len(kb) == hi


def _axis(lo: float, size: float, n: int):
    """One coordinate near a grid axis: on a cell edge (the far edge
    included), just outside the grid, anywhere inside it, or NULL."""
    hi = lo + n * size
    return st.one_of(
        st.integers(0, n).map(lambda i: lo + i * size),
        st.sampled_from([np.nextafter(lo, -np.inf), lo - size, np.nextafter(hi, np.inf)]),
        st.floats(lo, hi, exclude_max=True),
        st.none(),
    )


@st.composite
def _window_case(draw):
    """A grid (dyadic cells, or a non-dyadic from_resolution grid), points
    on and around it, and a box that may lie partly or wholly outside."""
    x0, y0 = draw(st.integers(-50, 50)) * 1.0, draw(st.integers(-50, 50)) * 1.0
    nx, ny = draw(st.integers(1, 7)), draw(st.integers(1, 7))
    if draw(st.booleans()):
        g = GridSpec(x0, y0, 0.5, 2.0, nx, ny)
    else:
        wx, wy = draw(st.sampled_from([1.0, 7.0, 10.0])), draw(st.sampled_from([3.0, 10.0]))
        g = GridSpec.from_resolution(x0, y0, x0 + wx, y0 + wy, nx, ny)
    pts = draw(
        st.lists(
            st.tuples(_axis(g.x0, g.cell_w, g.nx), _axis(g.y0, g.cell_h, g.ny)),
            min_size=1,
            max_size=30,
        )
    )
    ex, ey = g.x1 - g.x0, g.y1 - g.y0
    bx = sorted(draw(_corners(_axis(g.x0, g.cell_w, g.nx), g.x0 - 2 * ex, g.x1 + 2 * ex)))
    by = sorted(draw(_corners(_axis(g.y0, g.cell_h, g.ny), g.y0 - 2 * ey, g.y1 + 2 * ey)))
    return g, pts, (bx[0], by[0], bx[1], by[1])


def _corners(near, lo: float, hi: float):
    """Two box coordinates on one axis: near the grid or anywhere in
    [lo, hi], which reaches two grid extents past either side."""
    value = st.one_of(near, st.floats(lo, hi)).filter(lambda v: v is not None)
    return st.lists(value, min_size=2, max_size=2)


@settings(max_examples=25, deadline=None)
@given(case=_window_case())
def test_coarse_window_matches_numpy(spark, case):
    """``SpatialJoin.coarse_scan`` and a QueryEngine COUNT over an explicit
    box keep exactly the points whose numpy cell (GridSpec.cell_xy_np) lies
    in ``mbr_cell_range(box)``, and coarse_scan's cell_id is the numpy
    row-major id. The one polygon covers the whole grid, so the raster
    COUNT is the number of points the window keeps."""
    import pyarrow as pa

    from raster_join_spark.geo.polygons import PolygonSet
    from raster_join_spark.operators.spatial_join import SpatialJoin
    from raster_join_spark.plans.query import QueryEngine

    g, pts, box = case
    x = np.array([np.nan if v is None else v for v, _ in pts], np.float64)
    y = np.array([np.nan if v is None else v for _, v in pts], np.float64)
    ok = ~(np.isnan(x) | np.isnan(y))
    xp, yp = g.cell_xy_np(x[ok], y[ok])
    stx, sty, enx, eny = g.mbr_cell_range(*box)
    keep = (xp >= stx) & (xp < enx) & (yp >= sty) & (yp < eny)
    want = sorted((xp + g.nx * yp)[keep].tolist())

    df = spark.createDataFrame(
        pa.table(
            {
                "x": pa.array([v for v, _ in pts], pa.float64()),
                "y": pa.array([v for _, v in pts], pa.float64()),
            }
        )
    )
    cover = PolygonSet.from_list(
        [[(g.x0 - 1, g.y0 - 1), (g.x1 + 1, g.y0 - 1), (g.x1 + 1, g.y1 + 1), (g.x0 - 1, g.y1 + 1)]]
    )
    got = SpatialJoin(spark, cover, g).coarse_scan(df, *box).select("cell_id").collect()
    assert sorted(r.cell_id for r in got) == want, (g, box)
    eng = QueryEngine(spark, df, g).set_polygon_query(cover)
    try:
        (row,) = eng.execute_query(box).execute_function("raster").collect()
    finally:
        eng.points.unpersist()
    assert row.agg == len(want), (g, box)


def test_accuracy_sweep_artifact_invariants():
    """The committed ε-sweep artifact (tools/accuracy_sweep.py, mirroring
    experiments/run-scripts/raster-accuracy.ps1:21-27) must satisfy the
    paper's invariants: the whole-pixel GUARANTEED interval contains the
    exact count for every polygon at every ε and its total width is
    monotone non-increasing as ε shrinks (the ε-bound itself — the
    realized |raster-exact| error may fluctuate per instance, so only its
    coarsest-to-finest trend is asserted), and the tight micro-unit
    interval sits inside the whole-pixel one."""
    import csv
    import pathlib
    from collections import defaultdict

    path = pathlib.Path(__file__).resolve().parent.parent / "BENCH" / "accuracy_sweep.csv"
    rows = list(csv.DictReader(open(path)))
    assert rows, "accuracy sweep artifact missing/empty"
    tot_err = defaultdict(int)
    tot_width = defaultdict(int)
    for r in rows:
        eps = int(r["eps_mdeg"])
        exact, lo1, hi1 = int(r["exact"]), int(r["lo1"]), int(r["hi1"])
        lo_u6, hi_u6 = int(r["lo_u6"]), int(r["hi_u6"])
        assert lo1 <= exact <= hi1, r
        assert lo1 * 1_000_000 <= lo_u6 <= hi_u6 <= hi1 * 1_000_000, r
        tot_err[eps] += int(r["abs_err"])
        tot_width[eps] += hi1 - lo1
    eps_desc = sorted(tot_width, reverse=True)
    widths = [tot_width[e] for e in eps_desc]
    assert all(a >= b for a, b in zip(widths, widths[1:])), widths
    assert tot_err[eps_desc[-1]] < tot_err[eps_desc[0]], dict(tot_err)
