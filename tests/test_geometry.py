"""Unit tests for the geometry core (numpy; two tests also check Spark parity).

Kernels under test mirror reference semantics:
- mercator: RasterJoin/common/Utils.h:9-27, UsefulFuncs.cpp:578-607
- PIP rule: RasterJoin/shaders/index.glsl:47-67 (half-open crossing)
- grid math: shaders/index.glsl:229-233, create-index.glsl:34-68
- cell classification: CPUJoin/GridIndexF.cpp:461-511
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from raster_join_spark.geo.classify import BOUNDARY, INTERIOR, classify_cells
from raster_join_spark.geo.grid import GridSpec
from raster_join_spark.geo.mercator import (
    US_BOUNDS,
    epsilon_to_cell_size,
    geo2world_np,
    ground_resolution,
    transform_points_np,
    world2geo_np,
)
from raster_join_spark.geo.pip import pip_candidates, pip_mask, pip_multi, pip_sql
from raster_join_spark.geo.polygons import PolygonSet, blob_polygons, grid_polygons


# ---------------------------------------------------------------- mercator


def test_geo2world_known_values():
    # lon +180 -> x = 256*2^22; lat 0 -> y = 128*2^22 (equator mid-canvas)
    x, y = geo2world_np(np.array([0.0]), np.array([180.0]))
    assert x[0] == pytest.approx(256.0 * 2**22)
    assert y[0] == pytest.approx(128.0 * 2**22)
    # poles special-cased (Utils.h:11-14)
    _, y90 = geo2world_np(np.array([90.0]), np.array([0.0]))
    _, ym90 = geo2world_np(np.array([-90.0]), np.array([0.0]))
    assert y90[0] == 256.0 * 2**22
    assert ym90[0] == 0.0


def test_world2geo_roundtrip():
    rng = np.random.RandomState(7)
    lat = rng.uniform(US_BOUNDS.minlat, US_BOUNDS.maxlat, 1000)
    lon = rng.uniform(US_BOUNDS.minlon, US_BOUNDS.maxlon, 1000)
    x, y = geo2world_np(lat, lon)
    lat2, lon2 = world2geo_np(x, y)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)
    np.testing.assert_allclose(lon2, lon, atol=1e-9)


def test_transform_points_bounds_filter_and_f32():
    lat = np.array([40.7, 10.0, 60.0, 30.0])
    lon = np.array([-74.0, -100.0, -100.0, -200.0])
    keep, x, y = transform_points_np(lat, lon)
    assert keep.tolist() == [True, False, False, False]
    assert x.dtype == np.float32 and y.dtype == np.float32


def test_ground_resolution_value():
    # cos(36.89°)*6378137*2π/2^30 ≈ 0.0298 m per world unit at zoom 22
    gr = ground_resolution()
    clat = (US_BOUNDS.minlat + US_BOUNDS.maxlat) / 2
    expected = math.cos(math.radians(clat)) * 6378137 * 2 * math.pi / 2**30
    assert gr == pytest.approx(expected)
    assert 0.02 < gr < 0.04


def test_epsilon_cell_size():
    # eps=10m -> cellSize=(10/sqrt2)/gr world units (GLFunction.cpp:26-30)
    cs = epsilon_to_cell_size(10.0)
    assert cs == pytest.approx((10 / math.sqrt(2)) / ground_resolution())


# ---------------------------------------------------------------- grid


def test_cell_ids_row_major_and_oob():
    g = GridSpec(0.0, 0.0, 1.0, 1.0, 4, 3)
    x = np.array([0.5, 3.5, 0.5, 3.99, -0.1, 4.0, 0.0])
    y = np.array([0.5, 0.5, 2.5, 2.99, 0.5, 0.5, 3.0])
    ids = g.cell_ids_np(x, y)
    assert ids.tolist() == [0, 3, 8, 11, -1, -1, -1]


def test_mbr_cell_range_matches_reference_formula():
    g = GridSpec(0.0, 0.0, 1.0, 1.0, 10, 10)
    # st=floor(min/cs), en=floor(max/cs)+1 clamped (create-index.glsl:34-68)
    assert g.mbr_cell_range(2.3, 3.0, 4.0, 5.7) == (2, 3, 5, 6)
    assert g.mbr_cell_range(-5.0, -5.0, 50.0, 50.0) == (0, 0, 10, 10)


def test_cell_centers():
    g = GridSpec(10.0, 20.0, 2.0, 3.0, 4, 4)
    cx, cy = g.cell_centers_np(np.array([0, 5]))
    assert cx.tolist() == [11.0, 13.0]
    assert cy.tolist() == [21.5, 24.5]


# ---------------------------------------------------------------- PIP


UNIT_SQ = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]])


def test_pip_square_basic():
    px = np.array([0.5, 1.5, -0.5, 0.5])
    py = np.array([0.5, 0.5, 0.5, 1.5])
    assert pip_mask(px, py, UNIT_SQ).tolist() == [True, False, False, False]


def test_pip_half_open_rule_on_edges():
    """The reference rule (index.glsl:47-67) is half-open: the bottom-left
    edges count as inside, top/right as outside — verified against a
    literal transcription of the C loop."""

    def c_rule(x, y, verts):
        nvert = len(verts)
        c = False
        j = nvert - 1
        for i in range(nvert):
            vix, viy = verts[i]
            vjx, vjy = verts[j]
            if (viy > y) != (vjy > y) and x < (vjx - vix) * (y - viy) / (vjy - viy) + vix:
                c = not c
            j = i
        return c

    pts = [
        (0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0),  # corners
        (0.5, 0.0), (0.5, 1.0), (0.0, 0.5), (1.0, 0.5),  # edge midpoints
        (0.5, 0.5),
    ]
    for x, y in pts:
        got = pip_mask(np.array([x]), np.array([y]), UNIT_SQ)[0]
        assert got == c_rule(x, y, UNIT_SQ), (x, y)


def test_pip_concave():
    # concave "L" shape
    L = np.array([[0, 0], [3, 0], [3, 1], [1, 1], [1, 3], [0, 3]], dtype=float)
    px = np.array([0.5, 2.0, 2.0, 0.5])
    py = np.array([0.5, 0.5, 2.0, 2.0])
    assert pip_mask(px, py, L).tolist() == [True, True, False, True]


def test_pip_vs_bruteforce_random():
    rng = np.random.RandomState(3)
    ps = blob_polygons(4, 0, 0, 10, 10, n_verts=9, seed=5)
    px = rng.uniform(0, 10, 500)
    py = rng.uniform(0, 10, 500)
    pt_idx, poly_ids = pip_multi(px, py, ps.verts, ps.offsets)
    # cross-check with per-polygon mask
    for p in range(ps.n_polys):
        m = pip_mask(px, py, ps.poly_verts(p))
        got = set(pt_idx[poly_ids == p].tolist())
        assert got == set(np.nonzero(m)[0].tolist())


def test_pip_candidates_matches_full():
    rng = np.random.RandomState(11)
    ps = grid_polygons(9, 0, 0, 9, 9)
    px = rng.uniform(0, 9, 300)
    py = rng.uniform(0, 9, 300)
    cand = rng.randint(0, 9, 300)
    mask = pip_candidates(px, py, cand, ps.verts, ps.offsets)
    for i in range(300):
        expect = pip_mask(px[i : i + 1], py[i : i + 1], ps.poly_verts(cand[i]))[0]
        assert mask[i] == expect


def test_pip_float32_vs_float64_stability():
    """Points far from edges agree between f32 (reference storage) and f64."""
    rng = np.random.RandomState(4)
    ps = blob_polygons(2, 0, 0, 4, 4, seed=9)
    px = rng.uniform(0, 4, 400)
    py = rng.uniform(0, 4, 400)
    for p in range(ps.n_polys):
        m64 = pip_mask(px, py, ps.poly_verts(p), dtype=np.float64)
        m32 = pip_mask(px, py, ps.poly_verts(p), dtype=np.float32)
        # random points essentially never fall within f32-eps of an edge
        assert (m64 == m32).mean() > 0.99


# ------------------------------------------------------ polygon collection


def test_polyset_cleanup_rules():
    # duplicate consecutive + closing vertex dropped (PolyHandler.cpp:150-167)
    ps = PolygonSet.from_list([[(0, 0), (1, 0), (1, 0), (1, 1), (0, 0)]])
    assert ps.n_polys == 1
    assert len(ps.poly_verts(0)) == 3


def test_polyset_text_roundtrip(tmp_path):
    ps = blob_polygons(3, 0, 0, 10, 10, seed=2)
    path = str(tmp_path / "polys.txt")
    ps.save_text(path)
    ps2 = PolygonSet.load_text(path)
    assert ps2.n_polys == 3
    np.testing.assert_allclose(ps2.verts, ps.verts)


def test_polyset_mbrs_and_bbox():
    ps = grid_polygons(4, 0, 0, 2, 2)
    assert ps.mbrs.shape == (4, 4)
    assert ps.bbox == (0.0, 0.0, 2.0, 2.0)


# --------------------------------------------------------- classification


def test_classify_simple_square():
    """One axis-aligned square [1,3]² on a 4x4 unit grid: cell (1..2,1..2)
    region — cells fully inside are interior, the ring is boundary."""
    ps = PolygonSet.from_list([[(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0)]])
    g = GridSpec(0.0, 0.0, 1.0, 1.0, 4, 4)
    t = classify_cells(g, ps)
    kinds = dict(zip(t.cls_cell.tolist(), t.cls_kind.tolist()))
    # the square's edges lie exactly on the grid lines of cells 5,6,9,10
    # -> those cells' rects touch the polygon edges, so they are boundary
    for c in (5, 6, 9, 10):
        assert kinds[c] == BOUNDARY
    # cover = center-inside: centers (1.5,1.5),(2.5,1.5),(1.5,2.5),(2.5,2.5)
    assert set(t.cover_cell.tolist()) == {5, 6, 9, 10}


def test_classify_interior_exists_bigger_poly():
    ps = PolygonSet.from_list([[(0.5, 0.5), (7.5, 0.5), (7.5, 7.5), (0.5, 7.5)]])
    g = GridSpec(0.0, 0.0, 1.0, 1.0, 8, 8)
    t = classify_cells(g, ps)
    kinds = dict(zip(t.cls_cell.tolist(), t.cls_kind.tolist()))
    assert kinds[8 * 3 + 3] == INTERIOR
    assert kinds[0] == BOUNDARY
    # fraction of corner cell = 0.25 (quarter covered)
    fr = dict(zip(t.cls_cell.tolist(), t.cls_frac.tolist()))
    assert fr[0] == pytest.approx(0.25)
    assert fr[8 * 3 + 3] == 1.0


def test_classification_consistent_with_pip_sampling():
    """Property: any point whose cell is interior for p must be inside p;
    any point inside p must fall in an interior or boundary cell of p."""
    rng = np.random.RandomState(21)
    ps = blob_polygons(6, 0, 0, 12, 12, n_verts=10, seed=13)
    g = GridSpec(0.0, 0.0, 0.25, 0.25, 48, 48)
    t = classify_cells(g, ps)
    interior = set(zip(t.cls_cell.tolist(), t.cls_poly.tolist()))
    int_only = {
        (c, p)
        for c, p, k in zip(t.cls_cell.tolist(), t.cls_poly.tolist(), t.cls_kind.tolist())
        if k == INTERIOR
    }
    px = rng.uniform(0, 12, 2000)
    py = rng.uniform(0, 12, 2000)
    cells = g.cell_ids_np(px, py)
    for p in range(ps.n_polys):
        inside = pip_mask(px, py, ps.poly_verts(p))
        for i in range(len(px)):
            if (int(cells[i]), p) in int_only:
                assert inside[i], f"interior cell but point outside poly {p}"
            if inside[i]:
                assert (int(cells[i]), p) in interior, "inside point in unclassified cell"


def test_candidates_superset_of_cover():
    ps = blob_polygons(4, 0, 0, 8, 8, seed=3)
    g = GridSpec(0.0, 0.0, 0.5, 0.5, 16, 16)
    t = classify_cells(g, ps)
    cand = set(zip(t.cand_cell.tolist(), t.cand_poly.tolist()))
    cover = set(zip(t.cover_cell.tolist(), t.cover_poly.tolist()))
    cls = set(zip(t.cls_cell.tolist(), t.cls_poly.tolist()))
    assert cover <= cand
    assert cls <= cand


def test_boundary_fraction_in_unit_range():
    ps = blob_polygons(3, 0, 0, 6, 6, seed=17)
    g = GridSpec(0.0, 0.0, 0.5, 0.5, 12, 12)
    t = classify_cells(g, ps)
    b = t.cls_kind == BOUNDARY
    assert (t.cls_frac[b] >= 0.0).all() and (t.cls_frac[b] <= 1.0).all()
    # interior cells carry fraction 1
    assert (t.cls_frac[~b] == 1.0).all()


def test_polygon_collection_list_file(tmp_path):
    """Reference multi-collection catalog format (PolyHandler.cpp:20-40)."""
    from raster_join_spark.geo.polygons import load_collections

    a = blob_polygons(2, 0, 0, 10, 10, seed=1)
    b = grid_polygons(4, 0, 0, 4, 4)
    a.save_text(str(tmp_path / "a.txt"))
    b.save_text(str(tmp_path / "b.txt"))
    (tmp_path / "list.txt").write_text("neigh,a.txt\nzones,b.txt\n")
    cols = load_collections(str(tmp_path / "list.txt"))
    assert set(cols) == {"neigh", "zones"}
    assert cols["neigh"].n_polys == 2 and cols["zones"].n_polys == 4
    assert cols["zones"].name == "zones"


def test_sliver_polygon_classification():
    """Near-degenerate sliver (FIXTURES.md §2): a polygon thinner than a
    cell must classify as all-boundary and keep PIP-exact counts."""
    sliver = PolygonSet.from_list(
        [[(1.0, 1.0), (9.0, 1.02), (9.0, 1.05), (1.0, 1.07)]], name="sliver"
    )
    g = GridSpec(0.0, 0.0, 1.0, 1.0, 10, 10)
    t = classify_cells(g, sliver)
    assert len(t.cls_cell) > 0
    assert (t.cls_kind == BOUNDARY).all()  # thinner than any cell
    # points in/near the sliver resolve exactly via PIP
    px = np.array([5.0, 5.0, 5.0])
    py = np.array([1.03, 1.10, 0.99])
    m = pip_mask(px, py, sliver.poly_verts(0))
    assert m.tolist() == [True, False, False]


def test_mercator_polynomial_bit_parity_and_accuracy(spark):
    """The sin/atanh Horner polynomials must (a) be bit-identical between
    the numpy and Spark implementations after float32 narrowing (basic
    IEEE ops in identical order — no libm anywhere), and (b) track the
    libm transform to <1e-12 rel inside the US ingest band."""
    import pandas as pd
    from pyspark.sql import functions as F

    from raster_join_spark.geo.mercator import geo2world_cols, transform_points_np

    rng = np.random.RandomState(17)
    lat = rng.uniform(US_BOUNDS.minlat, US_BOUNDS.maxlat, 5000)
    lon = rng.uniform(US_BOUNDS.minlon, US_BOUNDS.maxlon, 5000)
    keep, ex, ey = transform_points_np(lat, lon, float32=True)
    df = spark.createDataFrame(pd.DataFrame({"lat": lat, "lon": lon}))
    k, wx, wy = geo2world_cols(F.col("lat"), F.col("lon"))
    got = df.select(wx.alias("wx"), wy.alias("wy")).toPandas()
    np.testing.assert_array_equal(
        got["wx"].to_numpy(np.float32).view(np.uint32), ex.view(np.uint32)
    )
    np.testing.assert_array_equal(
        got["wy"].to_numpy(np.float32).view(np.uint32), ey.view(np.uint32)
    )
    # accuracy vs libm (float64, pre-narrowing)
    _, px, py = transform_points_np(lat, lon, float32=False)
    ty = (np.pi - np.arctanh(np.sin(lat * np.pi / 180.0))) / np.pi * 128.0 * 2.0**22
    from raster_join_spark.geo.mercator import world_center

    _, cy = world_center()
    rel = np.abs((py + cy) - ty) / np.abs(ty)
    assert rel.max() < 1e-12


# ---------------------------------------- batched classify equivalence


def _assert_tables_equal(a, b, frac_atol=1e-8):
    """Order-insensitive exact comparison of PolyGridTables (frac compared
    with tolerance: the shoelace fold's summation order differs between
    the loop and batch forms, and at ~1e8 coordinate magnitudes the
    cancellation noise floor is ~1e-9 in the fraction)."""

    def key(cells, polys):
        return np.lexsort((cells, polys))

    ka, kb = key(a.cover_cell, a.cover_poly), key(b.cover_cell, b.cover_poly)
    np.testing.assert_array_equal(a.cover_cell[ka], b.cover_cell[kb])
    np.testing.assert_array_equal(a.cover_poly[ka], b.cover_poly[kb])
    ka, kb = key(a.cand_cell, a.cand_poly), key(b.cand_cell, b.cand_poly)
    np.testing.assert_array_equal(a.cand_cell[ka], b.cand_cell[kb])
    np.testing.assert_array_equal(a.cand_poly[ka], b.cand_poly[kb])
    ka, kb = key(a.cls_cell, a.cls_poly), key(b.cls_cell, b.cls_poly)
    np.testing.assert_array_equal(a.cls_cell[ka], b.cls_cell[kb])
    np.testing.assert_array_equal(a.cls_poly[ka], b.cls_poly[kb])
    np.testing.assert_array_equal(a.cls_kind[ka], b.cls_kind[kb])
    np.testing.assert_array_equal(a.cls_center_in[ka], b.cls_center_in[kb])
    np.testing.assert_allclose(a.cls_frac[ka], b.cls_frac[kb], atol=frac_atol)


def test_classify_batch_equals_reference_oracle_fixture():
    from raster_join_spark.fixtures import COARSE_GRID, ORACLE_POLYS
    from raster_join_spark.geo.classify import classify_cells, classify_cells_ref

    _assert_tables_equal(
        classify_cells_ref(COARSE_GRID, ORACLE_POLYS),
        classify_cells(COARSE_GRID, ORACLE_POLYS),
    )


def test_classify_batch_equals_reference_blobs_and_rects():
    from raster_join_spark.fixtures import COARSE_GRID, FINE_GRID, X0, X1, Y0, Y1
    from raster_join_spark.fixtures import rect_polyset
    from raster_join_spark.geo.classify import classify_cells, classify_cells_ref
    from raster_join_spark.geo.polygons import blob_polygons

    blobs = blob_polygons(100, X0, Y0, X1, Y1, n_verts=5, seed=9, name="eq100")
    _assert_tables_equal(
        classify_cells_ref(FINE_GRID, blobs), classify_cells(FINE_GRID, blobs)
    )
    rects = rect_polyset(16)  # 256 axis-aligned (degenerate-edge) polys
    _assert_tables_equal(
        classify_cells_ref(COARSE_GRID, rects), classify_cells(COARSE_GRID, rects)
    )


def test_classify_float32_mode_still_reference_path():
    """dtype=float32 (reference-precision parity) must keep the loop
    implementation's exact mixed-promotion arithmetic."""
    from raster_join_spark.fixtures import COARSE_GRID, ORACLE_POLYS
    from raster_join_spark.geo.classify import classify_cells, classify_cells_ref

    a = classify_cells_ref(COARSE_GRID, ORACLE_POLYS, dtype=np.float32)
    b = classify_cells(COARSE_GRID, ORACLE_POLYS, dtype=np.float32)
    _assert_tables_equal(a, b, frac_atol=0.0)  # same code path -> bit-equal


def test_classify_65536_polygons_within_budget():
    """Round-3 verdict item 1: the 65,536-polygon build must stay cheap
    enough to run per-(collection, grid) — measured 4.3-4.8 s with area
    fractions on a quiet 4-core host (0.4-0.5 s without); budget 60s
    absorbs external load storms."""
    import time

    from raster_join_spark.fixtures import FINE_GRID, X0, X1, Y0, Y1
    from raster_join_spark.geo.classify import classify_cells
    from raster_join_spark.geo.polygons import blob_polygons

    ps = blob_polygons(65536, X0, Y0, X1, Y1, n_verts=8, seed=7, name="b65536")
    t0 = time.perf_counter()
    t = classify_cells(FINE_GRID, ps)
    dt = time.perf_counter() - t0
    assert dt < 60.0, f"classify took {dt:.1f}s"
    assert len(t.cls_kind) > 400_000  # sanity: the tables are real


def _assert_same_order(a, b):
    """The batch form emits every table in the reference's order
    (polygon order, row-major inside each MBR cell range)."""
    for f in ("cover_cell", "cover_poly", "cls_cell", "cls_poly", "cls_kind",
              "cls_center_in", "cand_cell", "cand_poly"):
        np.testing.assert_array_equal(getattr(a, f), getattr(b, f), err_msg=f)


def _classify_both(grid, ps):
    from raster_join_spark.geo.classify import classify_cells_ref

    a, b = classify_cells_ref(grid, ps), classify_cells(grid, ps)
    _assert_tables_equal(a, b)
    _assert_same_order(a, b)
    return b


def test_classify_empty_and_degenerate_collections(spark):
    """Fixed inputs the fixtures never produce: an empty collection, a
    collection entirely outside the grid, and polygons with fewer than
    3 vertices (zero included) mixed with valid ones: skipped, ids of
    the rest kept, bbox and exact COUNTs unaffected."""
    g = GridSpec(0.0, 0.0, 1.0, 1.0, 8, 6)
    t = _classify_both(g, PolygonSet.from_list([]))
    assert len(t.cand_cell) == 0 and t.cls_kind.dtype == np.int32
    outside = PolygonSet.from_list(
        [[(-5.0, -5.0), (-1.0, -5.0), (-1.0, -1.0)], [(9.0, 7.0), (12.0, 7.0), (10.0, 9.0)]]
    )
    t = _classify_both(g, outside)
    assert len(t.cand_cell) == 0
    polys = [
        [(1.0, 1.0)],
        [],
        [(0.5, 0.5), (6.5, 4.5)],
        [(0.5, 0.5), (6.5, 0.5), (3.0, 5.5)],
        [(4.0, 4.0), (4.0, 4.0)],
        [(2.0, 1.0), (2.0, 1.0), (7.0, 3.0), (2.0, 5.0)],
        [],
    ]
    # raw CSR: keeps the repeated vertices and the zero-vertex polygons
    # (two equal offsets, one of them trailing)
    mixed = PolygonSet(
        verts=np.asarray([v for p in polys for v in p], np.float64),
        offsets=np.r_[0, np.cumsum([len(p) for p in polys])],
    )
    assert mixed.bbox == (0.5, 0.5, 7.0, 5.5)
    t = _classify_both(g, mixed)
    assert set(t.cand_poly.tolist()) == {3, 5}
    assert (t.cls_kind == INTERIOR).any()

    from raster_join_spark.operators.spatial_join import SpatialJoin

    rng = np.random.default_rng(11)
    x, y = rng.uniform(0.0, 8.0, 400), rng.uniform(0.0, 6.0, 400)
    exp = np.zeros(len(polys), np.int64)
    for p in (3, 5):
        exp[p] = pip_mask(x, y, mixed.poly_verts(p)).sum()
    pts = spark.createDataFrame(pd.DataFrame({"x": x, "y": y}))
    got = SpatialJoin(spark, mixed, g).hybrid_join(pts).orderBy("poly_id").toPandas()
    np.testing.assert_array_equal(got["poly_id"].to_numpy(), np.arange(len(polys)))
    np.testing.assert_array_equal(got["agg"].to_numpy(), exp)


def test_classify_triangle_spanning_fine_grid(monkeypatch):
    """One triangle reaching past every side of FINE_GRID (547,200
    covered pairs, edges crossing hundreds of rows). With the step size
    shrunk to 256 elements the outline pass runs in many steps, splits
    long edges across them, and still equals the reference; its
    tracemalloc peak stays at the two output masks plus the one
    crossing-count array (10 bytes per pair) and the bounded steps."""
    import tracemalloc

    from raster_join_spark.fixtures import FINE_GRID as g
    from raster_join_spark.geo import classify as cl

    tri = PolygonSet.from_list(
        [[(g.x0 - 1e6, g.y0 - 1e6), (g.x0 + g.nx * g.cell_w + 3e6, g.y0 + 1e5),
          (g.x0 + 1e5, g.y0 + g.ny * g.cell_h + 2e6)]]
    )
    monkeypatch.setattr(cl, "_CHUNK", 256)
    t = _classify_both(g, tri)
    tot = len(t.cand_cell)
    assert tot == g.n_cells and (t.cls_kind == BOUNDARY).sum() > 2 * g.ny

    z = np.zeros(1, np.int64)
    args = (g, tri, np.array([0]), z, z, z + g.nx, z + g.ny, z, tot)
    tracemalloc.start()
    boundary, center_in = cl._outline_masks(*args)
    peak = tracemalloc.get_traced_memory()[1]
    tracemalloc.stop()
    assert peak < 10 * tot + 512 * 1024, peak


_grid_cells = st.sampled_from([1.0, 0.5, 0.1, 0.3, 2.5, 1.0 / 3.0, 0.7])


@st.composite
def _grid_and_polys(draw):
    """A small grid (dyadic or not, optionally k-refined) and a
    collection whose vertices mix grid-line values, lattice points and
    free floats, with repeated vertices (zero-length edges), copied x or
    y (vertical / horizontal edges), far-out vertices (long diagonal
    edges, polygons partly or fully outside) and multi-ring polygons."""
    w, h = draw(_grid_cells), draw(_grid_cells)
    g = GridSpec(
        draw(st.sampled_from([0.0, -1.5, 0.25])), draw(st.sampled_from([0.0, 2.0, -0.3])),
        w, h, draw(st.integers(1, 12)), draw(st.integers(1, 12)),
    )
    g = g.refined(draw(st.integers(1, 4)))
    span_x, span_y = g.nx * g.cell_w, g.ny * g.cell_h

    def coord(axis):
        o, c, n, span = (g.x0, g.cell_w, g.nx, span_x) if axis == 0 else (g.y0, g.cell_h, g.ny, span_y)
        kind = draw(st.sampled_from(["line", "lattice", "free", "far"]))
        if kind == "line":
            return o + draw(st.integers(-1, n + 1)) * c
        if kind == "lattice":
            return float(draw(st.integers(int(o) - 2, int(o + span) + 2)))
        if kind == "far":
            return o + draw(st.sampled_from([-3.0, 4.0])) * span
        return draw(st.floats(o - 0.5 * span, o + 1.5 * span, allow_nan=False))

    def ring():
        pts = [(coord(0), coord(1))]
        for _ in range(draw(st.integers(0, 9))):
            move = draw(st.sampled_from(["new", "new", "same", "horiz", "vert"]))
            px, py = pts[-1]
            pts.append({"new": (coord(0), coord(1)), "same": (px, py),
                        "horiz": (coord(0), py), "vert": (px, coord(1))}[move])
        return pts

    polys = [[ring() for _ in range(draw(st.integers(1, 3)))]
             for _ in range(draw(st.integers(1, 5)))]
    # raw CSR, no cleanup: zero-length edges and <3-vertex polygons stay
    flat = [np.asarray([p for r in rings for p in r], np.float64) for rings in polys]
    raw = PolygonSet(
        verts=np.concatenate(flat), offsets=np.r_[0, np.cumsum([len(f) for f in flat])]
    )
    return g, raw, PolygonSet.from_rings(polys)


@settings(max_examples=200, deadline=None)
@given(case=_grid_and_polys())
def test_classify_batch_equals_reference_property(case):
    """classify_cells equals classify_cells_ref in every field (fractions
    at frac_atol) and in order, on the raw collection and on both ring
    semantics of its multi-ring form (evenodd_view's bridge edges come in
    coincident pairs)."""
    g, raw, rings = case
    for ps in (raw, rings, rings.evenodd_view()):
        _classify_both(g, ps)


def test_pip_candidates_flat_equals_grouped():
    """The flat (gathered-vertex, bucketed-by-vertex-count) PIP form must
    be bit-equal to the per-group pip_mask loop at BOTH dtypes — it is
    the same elementwise IEEE sequence, only the batching differs. Also
    pins the auto-switch: many tiny groups take the flat path, few
    groups keep the grouped path (both verified against pip_mask)."""
    import numpy as np

    from raster_join_spark.geo.pip import (
        _pip_candidates_flat,
        pip_candidates,
        pip_mask,
    )
    from raster_join_spark.geo.polygons import PolygonSet

    rng = np.random.RandomState(11)
    polys = []
    for _ in range(3000):
        nv = rng.randint(3, 10)  # mixed vertex counts hit every bucket
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        cx, cy = rng.uniform(0, 1000, 2)
        polys.append(
            list(
                zip(
                    (cx + np.cos(ang) * rng.uniform(5, 30, nv)).tolist(),
                    (cy + np.sin(ang) * rng.uniform(5, 30, nv)).tolist(),
                )
            )
        )
    ps = PolygonSet.from_list(polys, name="flat_eq")
    n = 50_000
    px = rng.uniform(0, 1000, n)
    py = rng.uniform(0, 1000, n)
    cand = rng.randint(0, len(polys), n).astype(np.int64)
    for dt in (np.float64, np.float32):
        ref = np.zeros(n, dtype=bool)
        for p in np.unique(cand):
            rows = np.flatnonzero(cand == p)
            pv = ps.verts[ps.offsets[p] : ps.offsets[p + 1]]
            ref[rows] = pip_mask(px[rows], py[rows], pv, dtype=dt)
        flat = _pip_candidates_flat(
            px.astype(dt), py.astype(dt), cand, ps.verts, ps.offsets, dt
        )
        auto = pip_candidates(px, py, cand, ps.verts, ps.offsets, dtype=dt)
        assert np.array_equal(flat, ref), dt
        assert np.array_equal(auto, ref), dt  # 3000 groups -> flat path
    # few-group regime: auto keeps the grouped path, same answers
    cand16 = (cand % 16).astype(np.int64)
    ref16 = np.zeros(n, dtype=bool)
    for p in range(16):
        rows = np.flatnonzero(cand16 == p)
        pv = ps.verts[ps.offsets[p] : ps.offsets[p + 1]]
        ref16[rows] = pip_mask(px[rows], py[rows], pv)
    assert np.array_equal(
        pip_candidates(px, py, cand16, ps.verts, ps.offsets), ref16
    )


# ------------------------------------------- multi-ring (hole) polygons


def _donut_rings():
    # outer CCW + square hole, easy hand-computable crossing counts
    return [
        [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)],
        [(4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0)],
    ]


def test_from_rings_flattens_like_reference():
    """Rings concatenate into ONE vertex run per polygon — the
    reference's pindexes layout (PolyHandler.cpp:49-80): no ring
    markers survive into the CSR; ring_sizes records the file
    structure for save_text round-trips only."""
    ps = PolygonSet.from_rings([_donut_rings()])
    assert ps.n_polys == 1
    assert len(ps.poly_verts(0)) == 8  # 4 outer + 4 hole, flattened
    assert ps.ring_sizes is not None
    assert ps.ring_sizes[0].tolist() == [4, 4]
    rings = ps.poly_rings(0)
    assert len(rings) == 2 and len(rings[0]) == 4 and len(rings[1]) == 4


def test_from_rings_cleanup_matches_reference_exactly():
    """PolyHandler.cpp:144-166 semantics: within a ring, consecutive
    duplicates drop; a ring's FIRST vertex is always kept even when it
    equals the previous ring's last (k==0 bypasses the prev check); the
    overall closing vertex drops iff it equals the overall first."""
    rings = [
        # in-ring consecutive dup (1,0) and explicit closing vertex (0,0)
        [(0.0, 0.0), (1.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)],
        # ring starts with the previous ring's LAST vertex -> KEPT
        [(0.0, 1.0), (0.25, 0.5), (0.5, 0.75)],
    ]
    ps = PolygonSet.from_rings([rings])
    pv = ps.poly_verts(0).tolist()
    assert pv == [
        [0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0],
        [0.0, 1.0],  # ring-boundary duplicate preserved (bug-for-bug)
        [0.25, 0.5], [0.5, 0.75],
    ]
    assert ps.ring_sizes[0].tolist() == [4, 3]
    # single-ring polygon with closing vertex: classic cleanup
    ps2 = PolygonSet.from_rings(
        [[[(0.0, 0.0), (2.0, 0.0), (1.0, 2.0), (0.0, 0.0)]]]
    )
    assert len(ps2.poly_verts(0)) == 3
    assert ps2.ring_sizes is None  # all single-ring -> no structure kept


def test_multi_ring_text_roundtrip(tmp_path):
    ps = PolygonSet.from_rings(
        [_donut_rings(), [[(20.0, 0.0), (30.0, 0.0), (25.0, 8.0)]]],
        name="rt",
    )
    p = str(tmp_path / "polys.txt")
    ps.save_text(p)
    back = PolygonSet.load_text(p)
    np.testing.assert_array_equal(back.verts, ps.verts)
    np.testing.assert_array_equal(back.offsets, ps.offsets)
    assert [r.tolist() for r in back.ring_sizes] == [[4, 4], [3]]
    # and idempotent once more through the single-ring writer shape
    back.save_text(p)
    again = PolygonSet.load_text(p)
    np.testing.assert_array_equal(again.verts, ps.verts)


def test_hole_pip_is_flattened_crossing_parity():
    """Pin what the flattened-CSR crossing rule computes on a donut —
    the reference's own semantics (shader walks the flat run with a
    wraparound edge, line-bound.frag:195-209):
    - annulus right of the hole: 1 crossing -> INSIDE
    - hole interior: outer + hole edges = 2 crossings -> OUTSIDE
    - sliver between the two phantom diagonals (left of the hole):
      4 crossings -> OUTSIDE, where ideal donut semantics would say
      inside — the documented bug-for-bug divergence."""
    ps = PolygonSet.from_rings([_donut_rings()])
    v = ps.poly_verts(0)
    px = np.array([8.0, 5.0, 3.0, 11.0, 3.5])
    py = np.array([5.0, 5.0, 5.0, 5.0, 4.5])
    got = pip_mask(px, py, v)
    # hand-computed crossing parity over the 8-edge flattened cycle
    # (phantom edges (0,10)->(4,4) and (4,6)->(0,0) included):
    assert got.tolist() == [True, False, False, False, True]


def test_hole_pip_matches_independent_evenodd_spec():
    """Cross-check pip_mask against an independent even-odd evaluator
    (different formulation: winding via y-interval halfplane test) on a
    point grid over the donut."""
    ps = PolygonSet.from_rings([_donut_rings()])
    v = ps.poly_verts(0)

    def evenodd(px, py):
        inside = False
        n = len(v)
        for i in range(n):
            x1, y1 = v[i]
            x2, y2 = v[(i + 1) % n]
            if (y1 > py) == (y2 > py):
                continue
            t = (py - y1) / (y2 - y1)
            if px < x1 + t * (x2 - x1):
                inside = not inside
        return inside

    xs = np.linspace(-1.3, 11.7, 28)
    ys = np.linspace(-1.1, 11.3, 26)
    gx, gy = np.meshgrid(xs, ys)
    got = pip_mask(gx.ravel(), gy.ravel(), v)
    exp = np.array([evenodd(x, y) for x, y in zip(gx.ravel(), gy.ravel())])
    np.testing.assert_array_equal(got, exp)


def test_hole_classify_boundary_cells_consistent():
    """classify_cells must treat phantom edges as real edges (it builds
    the edge set from the flat run with wraparound, classify.py): every
    covered cell is interior/boundary-consistent with exhaustive PIP of
    its center."""
    from raster_join_spark.fixtures import COARSE_GRID, HOLE_POLYS

    t = classify_cells(COARSE_GRID, HOLE_POLYS)
    cls_kind = dict(zip(zip(t.cls_cell.tolist(), t.cls_poly.tolist()),
                        t.cls_kind.tolist()))
    g = COARSE_GRID
    for (cell, poly), kind in list(cls_kind.items())[:4000]:
        if kind != INTERIOR:
            continue
        cx = g.x0 + (cell % g.nx + 0.5) * g.cell_w
        cy = g.y0 + (cell // g.nx + 0.5) * g.cell_h
        assert pip_mask(np.array([cx]), np.array([cy]),
                        HOLE_POLYS.poly_verts(poly))[0], (
            f"interior cell {cell} of donut {poly} has center outside"
        )


def _evenodd_rings_spec(rings, px, py):
    """Independent per-ring even-odd evaluator: XOR of each ring's own
    crossing parity (rings honored — the OGC rule)."""
    inside = False
    for ring in rings:
        v = np.asarray(ring, dtype=np.float64)
        n = len(v)
        for i in range(n):
            x1, y1 = v[i]
            x2, y2 = v[(i + 1) % n]
            if (y1 > py) == (y2 > py):
                continue
            t = (py - y1) / (y2 - y1)
            if px < x1 + t * (x2 - x1):
                inside = not inside
    return inside


def test_evenodd_view_matches_per_ring_spec_on_grid():
    """pip_mask over evenodd_view's augmented run == independent
    per-ring even-odd evaluation, across a point grid over the donut —
    including the phantom-edge sliver the reference semantics
    misclassify (r6 verdict item 6)."""
    ps = PolygonSet.from_rings([_donut_rings()])
    eo = ps.evenodd_view()
    assert eo.ring_sizes is None and eo.name.endswith("_evenodd")
    v = eo.poly_verts(0)
    xs = np.linspace(-1.3, 11.7, 28)
    ys = np.linspace(-1.1, 11.3, 26)
    gx, gy = np.meshgrid(xs, ys)
    got = pip_mask(gx.ravel(), gy.ravel(), v)
    exp = np.array(
        [
            _evenodd_rings_spec(_donut_rings(), x, y)
            for x, y in zip(gx.ravel(), gy.ravel())
        ]
    )
    np.testing.assert_array_equal(got, exp)
    # the r6 hand points: annulus points inside, hole point outside, and
    # the phantom-edge sliver (3.5, 4.5) now INSIDE (ideal donut), where
    # the reference flattened rule says outside
    px = np.array([8.0, 5.0, 3.0, 11.0, 3.5])
    py = np.array([5.0, 5.0, 5.0, 5.0, 4.5])
    assert pip_mask(px, py, v).tolist() == [True, False, True, False, True]


def test_evenodd_view_three_rings_anchor_bridges():
    """k>2 rings: every bridge must pair with its reverse through the
    ANCHOR (first ring's start) — a naive ring-chain would leave an
    uncancelled phantom triangle between ring starts. Two holes in one
    outer square, grid-checked against the per-ring spec."""
    rings = [
        [(0.0, 0.0), (12.0, 0.0), (12.0, 10.0), (0.0, 10.0)],
        [(2.0, 4.0), (4.0, 4.0), (4.0, 6.0), (2.0, 6.0)],
        [(8.0, 4.0), (10.0, 4.0), (10.0, 6.0), (8.0, 6.0)],
    ]
    ps = PolygonSet.from_rings([rings])
    eo = ps.evenodd_view()
    v = eo.poly_verts(0)
    xs = np.linspace(-0.7, 12.9, 30)
    ys = np.linspace(-0.9, 10.7, 24)
    gx, gy = np.meshgrid(xs, ys)
    got = pip_mask(gx.ravel(), gy.ravel(), v)
    exp = np.array(
        [
            _evenodd_rings_spec(rings, x, y)
            for x, y in zip(gx.ravel(), gy.ravel())
        ]
    )
    np.testing.assert_array_equal(got, exp)
    # both hole centers outside, points between/around holes inside
    assert pip_mask(
        np.array([3.0, 9.0, 6.0, 1.0, 11.0]),
        np.array([5.0, 5.0, 5.0, 5.0, 5.0]),
        v,
    ).tolist() == [False, False, True, True, True]


def test_evenodd_view_single_ring_is_identity():
    ps = PolygonSet.from_list([[(0.0, 0.0), (4.0, 0.0), (4.0, 4.0)]])
    assert ps.evenodd_view() is ps


def test_evenodd_view_sql_twin_bit_exact():
    """The generated SQL oracle over the augmented run reproduces the
    numpy kernel's even-odd decisions bit-for-bit (same IEEE sequence),
    including near-bridge points."""
    import duckdb
    import pandas as pd

    ps = PolygonSet.from_rings([_donut_rings()])
    v = ps.evenodd_view().poly_verts(0)
    rng = np.random.RandomState(23)
    px = np.r_[rng.uniform(-1, 11, 400), np.full(20, 4.0) + rng.uniform(-1e-9, 1e-9, 20)]
    py = np.r_[rng.uniform(-1, 11, 400), rng.uniform(0, 10, 20)]
    got = pip_mask(px, py, v)
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"x": px, "y": py}))
    sql = pip_sql("x", "y", v)
    exp = con.sql(f"SELECT {sql} AS inside FROM pts").df()["inside"].to_numpy()
    np.testing.assert_array_equal(got, exp.astype(bool))
