"""Property-based tests (hypothesis): PIP vs literal C-rule transcription,
grid/quadkey invariants, the Spark coarse window against its numpy twin,
the QueryEngine's in-kernel request predicate against the same predicate
as a Spark filter, the J4 error bounds and radius_query against a brute
force. The Spark tests share one session and build their frames once
per module."""

from __future__ import annotations

import numpy as np
import pytest
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


@pytest.mark.filterwarnings("error::RuntimeWarning")
@pytest.mark.parametrize(
    "g",
    [
        GridSpec(0.0, 0.0, 2.5, 2.5, 40, 40),
        GridSpec(-5.0, 3.0, 1e-3, 7.0, 9, 2),
        GridSpec.from_resolution(-1.0, -1.0, 6.0, 2.0, 7, 3),
    ],
)
def test_cell_ids_np_nonfinite_and_huge_are_out_of_grid(g):
    """NaN, ±inf and ±1e300 coordinates get cell -1 on every platform:
    the index is masked before its int64 cast (whose result for NaN,
    inf or past-int64 values is undefined), without a RuntimeWarning."""
    bad = np.array([np.nan, np.inf, -np.inf, 1e300, -1e300])
    inside = np.full(len(bad), g.x0 + 0.5 * g.cell_w)
    assert g.cell_ids_np(bad, inside).tolist() == [-1] * len(bad)
    assert g.cell_ids_np(inside, bad).tolist() == [-1] * len(bad)
    assert g.cell_ids_np(bad, bad).tolist() == [-1] * len(bad)
    xp, yp = g.cell_xy_np(bad, bad)
    assert xp.tolist() == yp.tolist() == [-1] * len(bad)
    assert int(g.cell_ids_np(np.array([g.x0]), np.array([g.y0]))[0]) == 0


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


def _edge(lo: float, size: float, n: int):
    """One coordinate near a grid axis: on a cell edge (the far edge
    included), just outside the grid, or anywhere inside it."""
    hi = lo + n * size
    return st.one_of(
        st.integers(0, n).map(lambda i: lo + i * size),
        st.sampled_from([np.nextafter(lo, -np.inf), lo - size, np.nextafter(hi, np.inf)]),
        st.floats(lo, hi, exclude_max=True),
    )


def _axis(lo: float, size: float, n: int):
    """A point coordinate: near a grid axis (:func:`_edge`), NaN or NULL."""
    return st.one_of(_edge(lo, size, n), st.just(float("nan")), st.none())


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
    bx = sorted(draw(_corners(_edge(g.x0, g.cell_w, g.nx), g.x0 - 2 * ex, g.x1 + 2 * ex)))
    by = sorted(draw(_corners(_edge(g.y0, g.cell_h, g.ny), g.y0 - 2 * ey, g.y1 + 2 * ey)))
    return g, pts, (bx[0], by[0], bx[1], by[1])


def _corners(near, lo: float, hi: float):
    """Two box coordinates on one axis: near the grid or anywhere in
    [lo, hi], which reaches two grid extents past either side."""
    return st.lists(st.one_of(near, st.floats(lo, hi)), min_size=2, max_size=2)


@settings(max_examples=25, deadline=None)
@given(case=_window_case())
def test_coarse_window_matches_numpy(spark, case):
    """``SpatialJoin.coarse_scan`` and a QueryEngine COUNT over an explicit
    box keep exactly the points whose numpy cell (GridSpec.cell_xy_np) lies
    in ``mbr_cell_range(box)``, and coarse_scan's cell_id is the numpy
    row-major id. The one polygon covers the whole grid, so the raster
    COUNT is the number of points the window keeps. ``cell_id_col`` is
    NULL exactly where ``cell_ids_np`` is -1 (NaN, NULL and out-of-grid
    points; Spark's floor(NaN) is 0) and equal to it elsewhere."""
    import pyarrow as pa
    from pyspark.sql import functions as F

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
    ids = df.select(g.cell_id_col(F.col("x"), F.col("y")).alias("c")).collect()
    assert [-1 if r.c is None else r.c for r in ids] == g.cell_ids_np(x, y).tolist(), g
    eng = QueryEngine(spark, df, g).set_polygon_query(cover)
    try:
        (row,) = eng.execute_query(box).execute_function("raster").collect()
    finally:
        eng.points.unpersist()
    assert row.agg == len(want), (g, box)


# -- the QueryEngine request predicate: kernel mask vs Spark filter -----

PRED_GRID = GridSpec(-1.0, 2.0, 0.5, 2.0, 6, 4)
PRED_T0 = "2024-01-05 00:00:00"
PRED_OPS = ("EQ", "LT", "LTE", "GT", "GTE")
_B_POOL = [None, 0, 1, -1, 7, 2**53, 2**53 + 1, -(2**63), 2**63 - 1]
_D_POOL = [None, float("nan"), 0.0, -0.0, 1.5, -2.25, 7.0, float("inf"), -float("inf"), 2.0**53 + 2]
_S_POOL = [None, "", "a", "ab", "b", "Z", "é", "日本"]
_F_POOL = [None, float("nan"), 0.0, -0.0, 0.1, 1.5, 16777216.0, 16777218.0, -float("inf")]
_I_POOL = [None, 0, -1, 7, 2**31 - 1, -(2**31)]


def _pred_rows(n: int = 72) -> dict:
    """The module's one predicate frame: every column draws from pools of
    NULLs, NaN, ±0.0, extreme integers, cell edges and near-edge or
    out-of-grid coordinates, and timestamps on whole seconds or not."""
    from raster_join_spark.operators.predicate import ts_bound_us

    rng = np.random.default_rng(7)
    g = PRED_GRID

    def axis(lo, size, k):
        hi = lo + k * size
        return [None, float("nan"), np.nextafter(lo, -np.inf), lo - size, np.nextafter(hi, np.inf), hi,
                *[lo + i * size for i in range(k)], *rng.uniform(lo, hi, 8).tolist()]

    t0 = ts_bound_us(PRED_T0)
    ts_pool = [None, *(t0 + rng.integers(0, 3, 6) * 86_400_000_000),
               *(t0 + rng.integers(0, 3 * 86_400_000_000, 12))]

    def draw(pool):
        return [pool[i] for i in rng.integers(0, len(pool), n)]

    return {
        "id": list(range(n)),
        "x": draw(axis(g.x0, g.cell_w, g.nx)),
        "y": draw(axis(g.y0, g.cell_h, g.ny)),
        "ts": [None if v is None else int(v) for v in draw(ts_pool)],
        "b": draw(_B_POOL),
        "d": draw(_D_POOL),
        "s": draw(_S_POOL),
        "f": draw(_F_POOL),
        "i": draw(_I_POOL),
    }


@pytest.fixture(scope="module")
def pred_engine(spark):
    """A QueryEngine over the predicate frame whose one polygon covers
    the whole grid, so a raster COUNT counts the rows the predicate keeps."""
    import pyarrow as pa

    from raster_join_spark.geo.polygons import PolygonSet
    from raster_join_spark.plans.query import QueryEngine

    rows = _pred_rows()
    table = pa.table(
        {
            "id": pa.array(rows["id"], pa.int64()),
            "x": pa.array(rows["x"], pa.float64()),
            "y": pa.array(rows["y"], pa.float64()),
            "ts": pa.array(rows["ts"], pa.timestamp("us")),
            "b": pa.array(rows["b"], pa.int64()),
            "d": pa.array(rows["d"], pa.float64()),
            "s": pa.array(rows["s"], pa.string()),
            "f": pa.array(rows["f"], pa.float32()),
            "i": pa.array(rows["i"], pa.int32()),
        }
    )
    g = PRED_GRID
    cover = PolygonSet.from_list(
        [[(g.x0 - 1, g.y0 - 1), (g.x1 + 1, g.y0 - 1), (g.x1 + 1, g.y1 + 1), (g.x0 - 1, g.y1 + 1)]]
    )
    schema = "id bigint, x double, y double, ts timestamp_ntz, b bigint, d double, s string, f float, i int"
    eng = QueryEngine(spark, spark.createDataFrame(table, schema), g).set_polygon_query(cover)
    yield eng
    eng.points.unpersist()


def _ts_text(us: int, date_only: bool) -> str:
    import datetime as dt

    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)
    return t.strftime("%Y-%m-%d") if date_only else t.isoformat(sep=" ", timespec="microseconds")


@st.composite
def _pred_case(draw):
    """A request over the predicate frame: a box near or across the grid,
    bounds on a row's microsecond (or one off it, or a whole day), and
    1-4 constraints with every op on the bigint, double and string
    columns, literals drawn from each column's own values and across
    numeric types."""
    rows = _pred_rows()
    g = PRED_GRID
    ex, ey = g.x1 - g.x0, g.y1 - g.y0
    bx = sorted(draw(_corners(_edge(g.x0, g.cell_w, g.nx), g.x0 - ex, g.x1 + ex)))
    by = sorted(draw(_corners(_edge(g.y0, g.cell_h, g.ny), g.y0 - ey, g.y1 + ey)))
    stamps = [v for v in rows["ts"] if v is not None]
    bound = st.one_of(
        st.none(),
        st.builds(
            _ts_text,
            st.builds(lambda v, off: v + off, st.sampled_from(stamps), st.sampled_from([-1, 0, 1])),
            st.booleans(),
        ),
    )
    nums = [v for v in _B_POOL + _D_POOL if v is not None]
    value = {
        "b": st.one_of(st.sampled_from(nums), st.integers(-3, 9)),
        "d": st.one_of(st.sampled_from(nums), st.floats(-3, 9)),
        "s": st.sampled_from([v for v in _S_POOL if v is not None] + ["aa", "A", "é!"]),
    }
    terms = draw(
        st.lists(
            st.sampled_from(["b", "d", "s"]).flatmap(
                lambda a: st.tuples(st.just(a), st.sampled_from(PRED_OPS), value[a])
            ),
            min_size=1,
            max_size=4,
        )
    )
    return (bx[0], by[0], bx[1], by[1]), draw(bound), draw(bound), terms


def _assert_masks_match(df, parts) -> list:
    """Each (Spark Column, RowPredicate) of ``parts`` keeps the same rows
    of ``df``: the Spark side as a projection of the predicate (NULL
    counts as not kept), the kernel side as RowPredicate.mask over the
    Arrow batches Spark feeds a mapInArrow. One job per side. Returns
    the Spark side's rows, ``(id, kept by part 0, ...)``.

    A projection, not a Filter: over a cached frame Spark prunes whole
    cached batches by their min/max statistics, which leave NaN out, so
    ``filter(d = NaN)`` can drop the NaN rows that the same predicate
    keeps everywhere else."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from raster_join_spark.session import drop_zip_finders

    names = [f"p{i}" for i in range(len(parts))]
    want = df.select("id", *[F.coalesce(c, F.lit(False)).alias(n) for (c, _), n in zip(parts, names)])
    preds = [p for _, p in parts]

    def fn(batches):
        drop_zip_finders()
        for rb in batches:
            masks = [pa.array(p.mask(rb, PRED_GRID, "x", "y")) for p in preds]
            ids = rb.column(rb.schema.names.index("id"))
            yield pa.RecordBatch.from_arrays([ids, *masks], ["id", *names])

    got = sorted(tuple(r) for r in df.mapInArrow(fn, want.schema).collect())
    exp = sorted(tuple(r) for r in want.collect())
    bad = [(i, preds[i]) for i in range(len(parts)) if [r[i + 1] for r in got] != [r[i + 1] for r in exp]]
    assert not bad, bad
    return exp


def test_constraint_literals_match_spark(pred_engine):
    """Every op on the bigint, double, string, float and int columns
    against every special literal (NaN, ±0.0, ±inf, ±2^53 and 2^24
    neighbours, the int64 ends, a float32-inexact 0.1, NULL, empty and
    non-ASCII strings), each compared alone over every row of the
    predicate frame (NULL, NaN and ±0.0 values included)."""
    from raster_join_spark.operators.predicate import RowPredicate, bind_term
    from raster_join_spark.plans.query import ConstraintType, QueryConstraint

    eng = pred_engine
    df = eng.points
    nums = [float("nan"), 0.0, -0.0, 0, 1, -1, 1.5, 7, 7.0, 0.1, float("inf"), -float("inf"),
            2**24 + 1, 16777217.0, 2**53, 2**53 + 1, 2.0**53 + 2, 2**31, 2**62 + 2**38 + 1,
            -(2**63), 2**63 - 1, None]
    strs = ["", "a", "ab", "b", "Z", "é", "日本", "aa", None]
    parts = []
    for attr, values in (("b", nums), ("d", nums), ("f", nums), ("i", nums), ("s", strs)):
        for v in values:
            for op in PRED_OPS:
                c = QueryConstraint(attr, ConstraintType[op], v)
                parts.append((c.to_column(), RowPredicate(terms=(bind_term(df.schema, attr, op, v),))))
    _assert_masks_match(df, parts)


@settings(max_examples=25, deadline=None)
@given(case=_pred_case())
def test_request_predicate_matches_spark_filter(pred_engine, case):
    """The kernel's row mask equals the same predicate in Spark on every
    row: the window (``window_spark_sql``), each inclusive
    ``TIMESTAMP_NTZ`` bound, each constraint (``QueryConstraint.to_column``)
    and their conjunction, each compared alone so that every row of the
    frame tests every term. A QueryEngine raster COUNT over the
    whole-grid polygon counts the rows the conjunction keeps."""
    from pyspark.sql import functions as F

    from raster_join_spark.operators.predicate import RowPredicate, bind_term, ts_bound_us
    from raster_join_spark.plans.query import ConstraintType, QueryConstraint

    eng = pred_engine
    box, t0, t1, terms = case
    df = eng.points
    cons = [QueryConstraint(a, ConstraintType[op], v) for a, op, v in terms]
    ts = F.col("ts")
    t0_us = None if t0 is None else ts_bound_us(t0)
    t1_us = None if t1 is None else ts_bound_us(t1)
    bound = tuple(bind_term(df.schema, a, op, v) for a, op, v in terms)
    window = RowPredicate(PRED_GRID.mbr_cell_range(*box))
    parts = [(F.expr(PRED_GRID.window_spark_sql("x", "y", box)), window)]
    if t0 is not None:
        parts.append((ts >= F.lit(t0).cast("timestamp_ntz"), RowPredicate(ts="ts", t0_us=t0_us)))
    if t1 is not None:
        parts.append((ts <= F.lit(t1).cast("timestamp_ntz"), RowPredicate(ts="ts", t1_us=t1_us)))
    parts += [(c.to_column(), RowPredicate(terms=(b,))) for c, b in zip(cons, bound)]
    conj = parts[0][0]
    for col, _ in parts[1:]:
        conj = conj & col
    parts.append((conj, RowPredicate(window.cells, "ts", t0_us, t1_us, bound)))
    kept = sum(r[-1] for r in _assert_masks_match(df, parts))
    eng.execute_query(box, t0, t1, ts_col="ts").set_query_constraints(cons)
    (row,) = eng.execute_function("raster").collect()
    assert row.agg == kept, (box, t0, t1, terms)


# -- J4 soundness over random polygons ---------------------------------

J4_GRID = GridSpec(0.0, 0.0, 1.0, 1.0, 24, 24)


@pytest.fixture(scope="module")
def j4_engine(spark):
    """A QueryEngine over 3,000 seeded points on and around J4_GRID, with
    timestamps over ten days (a few NULL)."""
    import pyarrow as pa

    from raster_join_spark.operators.predicate import ts_bound_us
    from raster_join_spark.plans.query import QueryEngine

    rng = np.random.default_rng(11)
    n = 3000
    x = rng.uniform(-1.0, 25.0, n)
    y = rng.uniform(-1.0, 25.0, n)
    ts = ts_bound_us("2024-01-01 00:00:00") + rng.integers(0, 10 * 86_400_000_000, n)
    valid = rng.random(n) > 0.02
    table = pa.table(
        {
            "x": pa.array(x),
            "y": pa.array(y),
            "ts": pa.array(ts, pa.timestamp("us"), mask=~valid),
        }
    )
    eng = QueryEngine(spark, spark.createDataFrame(table, "x double, y double, ts timestamp_ntz"), J4_GRID)
    yield eng, x, y, np.where(valid, ts, -1), valid
    eng.points.unpersist()


@settings(max_examples=20, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    n_polys=st.integers(1, 9),
    n_verts=st.integers(4, 14),
    box=st.tuples(*[st.floats(-2.0, 26.0)] * 4),
    days=st.tuples(st.integers(0, 9), st.integers(0, 9)),
)
def test_error_bounds_sound_on_random_blobs(j4_engine, seed, n_polys, n_verts, box, days):
    """QueryEngine ``errorbounds`` behind the in-kernel predicate, on
    random blob collections, boxes and time windows: the whole-pixel
    interval holds the exact count (numpy PIP brute force over the rows
    the window and bounds keep), ``cnt`` is the raster count (cells whose
    center is inside), and the micro-unit tight interval lies within the
    whole-pixel one."""
    from raster_join_spark.geo.polygons import blob_polygons
    from raster_join_spark.operators.predicate import ts_bound_us

    eng, x, y, ts, valid = j4_engine
    g = J4_GRID
    polys = blob_polygons(n_polys, 0.0, 0.0, 24.0, 24.0, n_verts=n_verts, seed=seed)
    box = (min(box[0], box[2]), min(box[1], box[3]), max(box[0], box[2]), max(box[1], box[3]))
    d0, d1 = sorted(days)
    t0, t1 = f"2024-01-{1 + d0:02d} 00:00:00", f"2024-01-{1 + d1:02d} 23:59:59.999999"
    out = (
        eng.set_polygon_query(polys).execute_query(box, t0, t1, ts_col="ts")
        .execute_function("errorbounds").orderBy("poly_id").toPandas()
    )

    xp, yp = g.cell_xy_np(x, y)
    stx, sty, enx, eny = g.mbr_cell_range(*box)
    m = (xp >= stx) & (xp < enx) & (yp >= sty) & (yp < eny) & valid
    m &= (ts >= ts_bound_us(t0)) & (ts <= ts_bound_us(t1))
    cx, cy = g.cell_centers_np(xp[m] + g.nx * yp[m])
    for p in range(polys.n_polys):
        ring = polys.poly_verts(p)
        exact = int(pip_mask(x[m], y[m], ring).sum())
        raster = int(pip_mask(cx, cy, ring).sum())
        r = out.iloc[p]
        assert r.cnt == raster, (p, r.to_dict(), raster)
        assert r.lo1 <= exact <= r.hi1, (p, r.to_dict(), exact)
        assert r.lo1 * 1_000_000 <= r.lo_u6 <= r.hi_u6 <= r.hi1 * 1_000_000, (p, r.to_dict())


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


# -- radius_query: the one Arrow pass vs a numpy brute force -----------


@st.composite
def _radius_case(draw):
    """A dyadic or non-dyadic grid; 0-40 queries on cell edges, in the
    grid or off it; a radius from a fraction of a cell up to one that
    covers the whole grid, or that reaches from a query to a cell edge;
    points on cell edges, off-grid, NaN or NULL, plus points exactly on
    (and one ulp outside) some query's ellipse."""
    x0, y0 = draw(st.integers(-50, 50)) * 1.0, draw(st.integers(-50, 50)) * 1.0
    nx, ny = draw(st.integers(1, 7)), draw(st.integers(1, 7))
    if draw(st.booleans()):
        g = GridSpec(x0, y0, 0.5, 2.0, nx, ny)
    else:
        wx, wy = draw(st.sampled_from([1.0, 7.0, 10.0])), draw(st.sampled_from([3.0, 10.0]))
        g = GridSpec.from_resolution(x0, y0, x0 + wx, y0 + wy, nx, ny)
    ex, ey = g.x1 - g.x0, g.y1 - g.y0
    qx = st.one_of(_edge(g.x0, g.cell_w, g.nx), st.floats(g.x0 - 2 * ex, g.x1 + 2 * ex))
    qy = st.one_of(_edge(g.y0, g.cell_h, g.ny), st.floats(g.y0 - 2 * ey, g.y1 + 2 * ey))
    queries = draw(st.lists(st.tuples(qx, qy), max_size=40))

    def radius(cell, extent):
        return st.one_of(
            st.sampled_from([cell, 0.5 * cell, 3 * cell, 4 * extent]),
            st.floats(0.01, 2 * extent),
        )

    rx, ry = draw(radius(g.cell_w, ex)), draw(radius(g.cell_h, ey))
    pts = draw(
        st.lists(st.tuples(_axis(g.x0, g.cell_w, g.nx), _axis(g.y0, g.cell_h, g.ny)), max_size=30)
    )
    if queries and draw(st.booleans()):
        # rx measured from a query to a cell edge: the rounded box edge
        # qx + rx can fall one ulp short of the edge point that the
        # ellipse test accepts (e.g. qx=-31.049974811108886,
        # rx=38.54997481110888, x=7.5, on 0.5-wide cells)
        a, b = queries[0]
        e = g.x0 + draw(st.integers(0, g.nx)) * g.cell_w
        if e != a:
            rx = abs(e - a)
            pts += [(e, b), (2 * a - e, b)]
    for i in draw(st.lists(st.integers(0, max(len(queries) - 1, 0)), max_size=4)) if queries else []:
        a, b = queries[i]
        for dx, dy in ((rx, 0.0), (-rx, 0.0), (0.0, ry), (0.0, -ry)):
            pts.append((a + dx, b + dy))
            pts.append((float(np.nextafter(a + dx, a + 2 * dx)), float(np.nextafter(b + dy, b + 2 * dy))))
    return g, [(q, a, b) for q, (a, b) in enumerate(queries)], rx, ry, pts


@settings(max_examples=40, deadline=None)
@given(case=_radius_case())
def test_radius_query_matches_brute_force(spark, case):
    """Every (q_id, event_id, dist2) row of ``radius_query`` and no other:
    the in-grid points (``cell_ids_np >= 0``) inside a query's ellipse by
    the oracle's test, ((x-qx)/rx)*((x-qx)/rx) + ((y-qy)/ry)*((y-qy)/ry)
    <= 1, with dist2 = (x-qx)*(x-qx) + (y-qy)*(y-qy) truncated to long."""
    import pyarrow as pa

    from raster_join_spark.operators.knn import radius_query

    g, queries, rx, ry, pts = case
    x = np.array([np.nan if v is None else v for v, _ in pts], np.float64)
    y = np.array([np.nan if v is None else v for _, v in pts], np.float64)
    ok = g.cell_ids_np(x, y) >= 0
    want = []
    for q, a, b in queries:
        ex, ey = (x - a) / rx, (y - b) / ry
        for i in np.flatnonzero(ok & (ex * ex + ey * ey <= 1.0)):
            want.append((q, int(i), int((x[i] - a) * (x[i] - a) + (y[i] - b) * (y[i] - b))))
    df = spark.createDataFrame(
        pa.table(
            {
                "event_id": pa.array(np.arange(len(pts)), pa.int64()),
                "x": pa.array([v for v, _ in pts], pa.float64()),
                "y": pa.array([v for _, v in pts], pa.float64()),
            }
        )
    )
    got = radius_query(spark, df, g, queries, rx, ry).collect()
    assert sorted((r.q_id, r.event_id, r.dist2) for r in got) == sorted(want), (g, rx, ry)


def test_radius_query_keeps_point_past_rounded_box(spark):
    """The ellipse test accepts the edge point x = 7.5 ((x-qx)/rx rounds
    to 1.0) although the rounded box edge qx + rx = 7.4999999999999964
    lies in the cell before it: the probe cells are widened by one, so
    the point is still a candidate."""
    from raster_join_spark.operators.knn import radius_query

    qx, rx = -31.049974811108886, 38.54997481110888
    assert ((7.5 - qx) / rx) * ((7.5 - qx) / rx) <= 1.0 and qx + rx < 7.5
    g = GridSpec(0.0, 0.0, 0.5, 0.5, 40, 40)
    df = spark.createDataFrame([(0, 7.5, 5.0), (1, 7.0, 5.0)], "event_id long, x double, y double")
    got = radius_query(spark, df, g, [(0, qx, 5.0)], rx, 1.0).collect()
    d2 = int((7.5 - qx) * (7.5 - qx))
    assert sorted((r.q_id, r.event_id, r.dist2) for r in got) == [
        (0, 0, d2), (0, 1, int((7.0 - qx) * (7.0 - qx)))
    ]


@pytest.mark.parametrize(
    "queries, rx, ry, name",
    [
        ([(0, float("nan"), 1.0)], 1.0, 1.0, "query 0"),
        ([(0, 1.0, 1.0), (7, 1.0, float("inf"))], 1.0, 1.0, "query 7"),
        ([(3, -float("inf"), 1.0)], 1.0, 1.0, "query 3"),
        ([(0, 1.0, 1.0)], 0.0, 1.0, "rx"),
        ([(0, 1.0, 1.0)], 1.0, -2.0, "ry"),
        ([(0, 1.0, 1.0)], float("nan"), 1.0, "rx"),
        ([(0, 1.0, 1.0)], 1.0, float("inf"), "ry"),
    ],
)
def test_radius_query_rejects_bad_input_before_any_job(spark, spark_jobs, queries, rx, ry, name):
    """A non-finite query coordinate or a radius that is not a positive
    finite number raises a ValueError naming it, and no Spark job runs."""
    from raster_join_spark.operators.knn import radius_query

    df = spark.createDataFrame([(0, 1.0, 1.0)], "event_id long, x double, y double")

    def call():
        with pytest.raises(ValueError, match=name):
            radius_query(spark, df, GridSpec(0.0, 0.0, 1.0, 1.0, 4, 4), queries, rx, ry)

    _, jobs = spark_jobs(call)
    assert jobs == []
