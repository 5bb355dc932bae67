"""DuckDB oracle SQL builders for the driver's correctness gate.

Every oracle runs on the SAME derivation CTE as the engine
(sources/pages.py POINTS_CTE) and reproduces the engine's geometry
decisions with generated SQL that uses the identical IEEE double
arithmetic in the identical operation order (geo/pip.pip_sql,
geo/grid.cell_id_sql). Coordinates are exact integers in microdegree
space, so there is no float drift anywhere.

For the error-bounds query, the boundary-cell classification (an exact
rect-vs-polygon test, unit-tested in tests/test_geometry.py) is inlined
as a VALUES relation: the oracle then independently verifies the entire
Spark aggregation pipeline on top of it.
"""

from __future__ import annotations

import numpy as np

from raster_join_spark.fixtures import (
    ALT_POLYS,
    COARSE_GRID,
    FINE_GRID,
    KNN_K,
    KNN_QUERIES,
    ORACLE_POLYS,
)
from raster_join_spark.geo.classify import POLY_GRID_CACHE
from raster_join_spark.geo.grid import GridSpec
from raster_join_spark.geo.pip import pip_sql
from raster_join_spark.sources.pages import POINTS_CTE


def _per_poly_union(select_tpl: str, x: str = "x", y: str = "y", where: str = "TRUE") -> str:
    """UNION ALL of one aggregate SELECT per polygon; {pid}/{pip} filled in."""
    parts = []
    for p in range(ORACLE_POLYS.n_polys):
        pip = pip_sql(x, y, ORACLE_POLYS.poly_verts(p))
        parts.append(select_tpl.format(pid=p, pip=pip, where=where))
    return "\nUNION ALL\n".join(parts)


def index_count_sql(where: str = "TRUE") -> str:
    body = _per_poly_union(
        "SELECT CAST({pid} AS BIGINT) AS poly_id, count(*) AS agg "
        "FROM points WHERE ({where}) AND {pip}",
        where=where,
    )
    return f"WITH {POINTS_CTE} {body}"


def index_count_f32_sql() -> str:
    """float32 (reference storage precision, TaxiRecord.hpp:121-133)
    twin of the index-join count: point coords and vertices narrowed to
    float32, every PIP intermediate computed in REAL — DuckDB REAL
    arithmetic is IEEE float32 (verified), so this reproduces
    pip_mask(dtype=np.float32) bit-for-bit."""
    parts = []
    for p in range(ORACLE_POLYS.n_polys):
        pip = pip_sql("x32", "y32", ORACLE_POLYS.poly_verts(p), float32=True)
        parts.append(
            f"SELECT CAST({p} AS BIGINT) AS poly_id, count(*) AS agg "
            f"FROM pts32 WHERE {pip}"
        )
    body = "\nUNION ALL\n".join(parts)
    return (
        f"WITH {POINTS_CTE}, "
        "pts32 AS (SELECT CAST(x AS REAL) AS x32, CAST(y AS REAL) AS y32 "
        "FROM points) "
        f"{body}"
    )


def multi_collection_sql() -> str:
    """Two-collection catalog query (reference PolyHandler.cpp:20-40
    multi-collection list + per-query collection switch): per-polygon
    exact counts for BOTH collections in one result, keyed by the
    collection name. Same pip_sql arithmetic as every other exact gate."""
    parts = []
    for cname, ps in (("oracle16", ORACLE_POLYS), ("alt8", ALT_POLYS)):
        for p in range(ps.n_polys):
            pip = pip_sql("x", "y", ps.poly_verts(p))
            parts.append(
                f"SELECT '{cname}' AS collection, CAST({p} AS BIGINT) AS "
                f"poly_id, count(*) AS agg FROM points WHERE {pip}"
            )
    body = "\nUNION ALL\n".join(parts)
    return f"WITH {POINTS_CTE} {body}"


def avg_sql() -> str:
    body = _per_poly_union(
        "SELECT CAST({pid} AS BIGINT) AS poly_id, avg(value_c) AS agg "
        "FROM points WHERE {pip}"
    )
    return f"WITH {POINTS_CTE} {body}"


def point_poly_sql() -> str:
    body = _per_poly_union(
        "SELECT url, CAST({pid} AS BIGINT) AS poly_id FROM points WHERE {pip}"
    )
    return f"WITH {POINTS_CTE} {body}"


def _centers_cte(grid: GridSpec) -> str:
    """Cell-center coords with the same op order as classify_cells:
    (x0 + xp*w) + 0.5*w."""
    xp = f"CAST(floor((x - {grid.x0!r}) / {grid.cell_w!r}) AS BIGINT)"
    yp = f"CAST(floor((y - {grid.y0!r}) / {grid.cell_h!r}) AS BIGINT)"
    return f"""
centers AS (
  SELECT *,
    ({grid.x0!r} + {xp} * {grid.cell_w!r}) + 0.5 * {grid.cell_w!r} AS ccx,
    ({grid.y0!r} + {yp} * {grid.cell_h!r}) + 0.5 * {grid.cell_h!r} AS ccy
  FROM points
  WHERE {xp} >= 0 AND {xp} < {grid.nx} AND {yp} >= 0 AND {yp} < {grid.ny}
)
"""


def raster_count_sql(grid: GridSpec = FINE_GRID) -> str:
    """Raster attribution: a point counts for poly p iff its CELL CENTER is
    inside p — whole-pixel semantics of J1."""
    parts = []
    for p in range(ORACLE_POLYS.n_polys):
        pip = pip_sql("ccx", "ccy", ORACLE_POLYS.poly_verts(p))
        parts.append(
            f"SELECT CAST({p} AS BIGINT) AS poly_id, count(*) AS agg FROM centers WHERE {pip}"
        )
    return f"WITH {POINTS_CTE}, {_centers_cte(grid)} " + "\nUNION ALL\n".join(parts)


def error_bounds_sql(grid: GridSpec = COARSE_GRID, tight: bool = False) -> str:
    """Per-polygon error intervals with the boundary classification
    inlined as VALUES.

    ``tight=False``: cnt/lo1/hi1 (whole-pixel, sound interval).
    ``tight=True``: cnt/lo_u6/hi_u6 — the paper's area-weighted tight
    interval (RasterJoinBounds.cpp:202-381) in integer micro-units: the
    per-cell fraction is pre-quantized to floor(frac*1e6) on the driver
    and inlined as BIGINT, so the whole fold is integer arithmetic and
    bit-identical to Spark regardless of summation order."""
    t = POLY_GRID_CACHE.get(grid, ORACLE_POLYS, with_frac=True)
    b_c, b_p, b_f, b_ci = t.boundary_pairs()
    frac_u6 = np.floor(b_f.astype(np.float64) * 1e6).astype(np.int64)
    rows = ",".join(
        f"({int(c)},{int(p)},{str(bool(a)).upper()},{int(f6)})"
        for c, p, a, f6 in zip(b_c, b_p, b_ci, frac_u6)
    )
    cell_sql = grid.cell_id_sql("x", "y")
    parts = []
    for p in range(ORACLE_POLYS.n_polys):
        pip = pip_sql("ccx", "ccy", ORACLE_POLYS.poly_verts(p))
        parts.append(
            f"SELECT CAST({p} AS BIGINT) AS poly_id, count(*) AS cnt FROM centers WHERE {pip}"
        )
    raster = "\nUNION ALL\n".join(parts)
    if tight:
        proj = """
       CAST(r.cnt * 1000000 - coalesce(a.fp_u6, 0) AS BIGINT) AS lo_u6,
       CAST(r.cnt * 1000000 + coalesce(a.fn_u6, 0) AS BIGINT) AS hi_u6"""
    else:
        proj = """
       CAST(r.cnt - coalesce(a.fp1, 0) AS BIGINT) AS lo1,
       CAST(r.cnt + coalesce(a.fn1, 0) AS BIGINT) AS hi1"""
    return f"""
WITH {POINTS_CTE},
{_centers_cte(grid)},
pcells AS (SELECT {cell_sql} AS cell_id, count(*) AS c FROM points GROUP BY 1),
bnd(cell_id, poly_id, attributed, frac_u6) AS (VALUES {rows}),
raster AS ({raster}),
acc AS (
  SELECT CAST(b.poly_id AS BIGINT) AS poly_id,
         sum(CASE WHEN b.attributed THEN p.c ELSE 0 END) AS fp1,
         sum(CASE WHEN NOT b.attributed THEN p.c ELSE 0 END) AS fn1,
         sum(CASE WHEN b.attributed THEN (1000000 - b.frac_u6) * p.c ELSE 0 END) AS fp_u6,
         sum(CASE WHEN NOT b.attributed THEN b.frac_u6 * p.c ELSE 0 END) AS fn_u6
  FROM bnd b JOIN pcells p ON p.cell_id = b.cell_id
  GROUP BY 1
)
SELECT r.poly_id,
       r.cnt AS cnt,{proj}
FROM raster r LEFT JOIN acc a ON a.poly_id = r.poly_id
"""


def hole_count_sql() -> str:
    """Multi-ring (hole) collection count: pip_sql over each donut's
    FLATTENED vertex run — the oracle replays the identical crossing
    rule over the identical edge cycle (phantom inter-ring edges
    included), so any divergence in ring flattening, edge order, or
    parity arithmetic hash-mismatches."""
    from raster_join_spark.fixtures import HOLE_POLYS

    parts = []
    for p in range(HOLE_POLYS.n_polys):
        pip = pip_sql("x", "y", HOLE_POLYS.poly_verts(p))
        parts.append(
            f"SELECT CAST({p} AS BIGINT) AS poly_id, count(*) AS agg "
            f"FROM points WHERE {pip}"
        )
    return f"WITH {POINTS_CTE} " + "\nUNION ALL\n".join(parts)


def hole_evenodd_sql() -> str:
    """Even-odd ring-semantics twin of hole_count_sql: pip_sql over each
    donut's evenodd_view() run (per-ring closures + cancelling anchor
    bridges, polygons.py) — the oracle replays the identical augmented
    edge cycle, so the engine's "standard OGC even-odd" mode is held to
    the same bit-exact bar as the reference-semantics mode. Hole
    interiors count OUTSIDE here too, but the phantom-edge slivers of
    the flattened rule are gone — the counts differ from
    hole_count_sql exactly where the two semantics differ."""
    from raster_join_spark.fixtures import HOLE_POLYS

    eo = HOLE_POLYS.evenodd_view()
    parts = []
    for p in range(eo.n_polys):
        pip = pip_sql("x", "y", eo.poly_verts(p))
        parts.append(
            f"SELECT CAST({p} AS BIGINT) AS poly_id, count(*) AS agg "
            f"FROM points WHERE {pip}"
        )
    return f"WITH {POINTS_CTE} " + "\nUNION ALL\n".join(parts)


def ingest_binary_sql() -> str:
    """Twin of the binary round-trip gate query: the same field
    derivations the Spark side writes into the taxi record file —
    identical integer arithmetic, rpad truncation, and float32 narrowing
    (CAST AS REAL == numpy float32, IEEE round-to-nearest)."""
    return f"""
WITH {POINTS_CTE}
SELECT CAST(event_id AS BIGINT) AS db_idx,
       x AS pick_x,
       y AS pick_y,
       CAST(floor(epoch(warc_ts)) AS BIGINT) AS pickup_time,
       substr(rpad(lang, 4, '_'), 1, 4) AS vendor,
       CAST(value_c % 65536 AS BIGINT) AS fare,
       CAST(event_id % 256 AS BIGINT) AS passengers,
       CAST(CAST(value_c AS REAL) AS DOUBLE) AS miles
FROM points
WHERE event_id < 1000000
"""


def rect_hybrid_count_sql(side: int) -> str:
    """Closed-form oracle for the 4096-rectangle hybrid count: each rect's
    membership is a pure range test (bounds are exact integer+0.5 floats,
    so no point can sit on an edge and ray-cast PIP == the closed form —
    see fixtures.rect_polyset). Fully INDEPENDENT of the engine's
    classify/PIP machinery: the oracle never enumerates polygons at all,
    it derives poly_id arithmetically — which is exactly what makes a
    4096-polygon collection oracle-checkable without 4096 unioned PIP
    scans."""
    from raster_join_spark.fixtures import (
        RECT_INSET_X,
        RECT_INSET_Y,
        X0,
        X1,
        Y0,
        Y1,
    )

    sw = (X1 - X0) / side
    sh = (Y1 - Y0) / side
    sxp = f"CAST(floor((x - {X0!r}) / {sw!r}) AS BIGINT)"
    syp = f"CAST(floor((y - {Y0!r}) / {sh!r}) AS BIGINT)"
    return f"""
WITH {POINTS_CTE},
slotted AS (
  SELECT x, y, {sxp} AS sxp, {syp} AS syp FROM points
),
assigned AS (
  SELECT sxp + {side} * syp AS poly_id FROM slotted
  WHERE sxp >= 0 AND sxp < {side} AND syp >= 0 AND syp < {side}
    AND x > {X0!r} + sxp * {sw!r} + {RECT_INSET_X!r}
    AND x < {X0!r} + (sxp + 1) * {sw!r} - {RECT_INSET_X!r}
    AND y > {Y0!r} + syp * {sh!r} + {RECT_INSET_Y!r}
    AND y < {Y0!r} + (syp + 1) * {sh!r} - {RECT_INSET_Y!r}
),
counts AS (SELECT poly_id, count(*) AS c FROM assigned GROUP BY 1)
SELECT CAST(r.range AS BIGINT) AS poly_id,
       CAST(coalesce(c.c, 0) AS BIGINT) AS agg
FROM range({side * side}) r LEFT JOIN counts c ON c.poly_id = r.range
"""


def tile_partition_sql(grid: GridSpec = COARSE_GRID, n_buckets: int = 64) -> str:
    """S3 spatio-temporal hash partitioner (HashGridIndex.cpp:96-111
    primes + 10-day tbuckets, BackendIndex/main.cpp:64-65) as generated
    SQL. pmod is mirrored as ((v % n) + n) % n so out-of-grid negative
    cells agree between engines."""
    from raster_join_spark.sources.tiles import P1, P2, TBUCKET_SECONDS

    xp = f"CAST(floor((x - {grid.x0!r}) / {grid.cell_w!r}) AS BIGINT)"
    yp = f"CAST(floor((y - {grid.y0!r}) / {grid.cell_h!r}) AS BIGINT)"
    h = f"xor({xp} * {P1}, {yp} * {P2})"
    bucket = f"((({h}) % {n_buckets}) + {n_buckets}) % {n_buckets}"
    tb = f"CAST(floor(epoch(warc_ts) / {float(TBUCKET_SECONDS)!r}) AS BIGINT)"
    return (
        f"WITH {POINTS_CTE} SELECT url, {bucket} AS cell_bucket, {tb} AS tbucket "
        f"FROM points"
    )


def mercator_assign_sql() -> str:
    """Web-Mercator ingest transform (S2's real math: Utils.h:9-18 +
    UsefulFuncs.cpp:578-597) as generated SQL.

    NO transcendentals: sin/atanh are the SAME Horner polynomials (same
    coefficient literals, same operation order) as geo2world_cols /
    geo2world_np — basic IEEE ops only, so the float64 intermediates are
    bit-identical across engines by IEEE determinism and the float32
    narrowing (TaxiRecord.hpp:121-133) cannot flip. This keeps the repo's
    no-transcendentals-in-the-exact-gate rule intact."""
    import math

    from raster_join_spark.geo.mercator import (
        _ATANH_C,
        _SCALE,
        _SIN_C,
        US_BOUNDS,
        _horner_sql,
        world_center,
    )

    cx, cy = world_center(US_BOUNDS)
    b = US_BOUNDS
    pi = repr(math.pi)
    return f"""
WITH {POINTS_CTE},
g AS (SELECT url, y / 1000000.0 AS lat, x / 1000000.0 AS lon FROM points
      WHERE y / 1000000.0 >= {b.minlat!r} AND y / 1000000.0 <= {b.maxlat!r}
        AND x / 1000000.0 >= {b.minlon!r} AND x / 1000000.0 <= {b.maxlon!r}),
tt AS (SELECT url, lon, lat * {math.pi / 180.0!r} AS t FROM g),
tu AS (SELECT url, lon, t, t * t AS u FROM tt),
ss AS (SELECT url, lon, t * ({_horner_sql('u', _SIN_C)}) AS s FROM tu),
su AS (SELECT url, lon, s, s * s AS u2 FROM ss),
aa AS (SELECT url, lon, s * ({_horner_sql('u2', _ATANH_C)}) AS ath FROM su)
SELECT url,
  CAST((lon + 180.0) / 360.0 * {256.0 * _SCALE!r} - {cx!r} AS REAL) AS wx,
  CAST(({pi} - ath) / {pi} * {128.0 * _SCALE!r} - {cy!r} AS REAL) AS wy
FROM aa
"""


def tile_assign_sql(grid: GridSpec = COARSE_GRID) -> str:
    cell_sql = grid.cell_id_sql("x", "y")
    return f"WITH {POINTS_CTE} SELECT url, {cell_sql} AS cell_id FROM points"


def coarse_scan_sql(grid: GridSpec, box: tuple[float, float, float, float]) -> str:
    stx, sty, enx, eny = grid.mbr_cell_range(*box)
    xp = f"CAST(floor((x - {grid.x0!r}) / {grid.cell_w!r}) AS BIGINT)"
    yp = f"CAST(floor((y - {grid.y0!r}) / {grid.cell_h!r}) AS BIGINT)"
    return (
        f"WITH {POINTS_CTE} SELECT count(*) AS cnt FROM points "
        f"WHERE {xp} >= {stx} AND {xp} < {enx} AND {yp} >= {sty} AND {yp} < {eny}"
    )


def fullscan_sql(box: tuple[float, float, float, float], t0: str, t1: str) -> str:
    return (
        f"WITH {POINTS_CTE} SELECT count(*) AS cnt FROM points "
        f"WHERE x >= {box[0]!r} AND y >= {box[1]!r} AND x <= {box[2]!r} AND y <= {box[3]!r} "
        f"AND warc_ts >= TIMESTAMP '{t0}' AND warc_ts <= TIMESTAMP '{t1}'"
    )


def time_travel_sql(split: float) -> str:
    """Snapshot-isolation gate twin: snapshot 1 holds the x < split
    half, the current (compacted) snapshot the whole table."""
    return (
        f"WITH {POINTS_CTE} SELECT "
        f"(SELECT count(*) FROM points WHERE x < {split!r}) AS snap1_cnt, "
        f"(SELECT count(*) FROM points) AS cur_cnt"
    )


def streaming_dedup_sql() -> str:
    """First-seen URL dedup twin: the stream replays every url TWICE
    (across micro-batches), so exactly-once emission == DISTINCT."""
    return f"WITH {POINTS_CTE} SELECT DISTINCT url FROM points"


def sum_sql() -> str:
    body = _per_poly_union(
        "SELECT CAST({pid} AS BIGINT) AS poly_id, CAST(sum(value_c) AS BIGINT) AS agg "
        "FROM points WHERE {pip}"
    )
    return f"WITH {POINTS_CTE} {body}"


def radius_sql(rx: float, ry: float) -> str:
    """Ellipse radius query (GridIndexF.cpp:15-19 test, same op order)."""
    vals = ",".join(f"({q}, {qx!r}, {qy!r})" for q, qx, qy in KNN_QUERIES)
    return f"""
WITH {POINTS_CTE},
q(q_id, qx, qy) AS (VALUES {vals})
SELECT CAST(q.q_id AS BIGINT) AS q_id, p.event_id AS event_id,
       CAST((p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy) AS BIGINT) AS dist2
FROM points p CROSS JOIN q
WHERE ((p.x - q.qx) / {rx!r}) * ((p.x - q.qx) / {rx!r})
    + ((p.y - q.qy) / {ry!r}) * ((p.y - q.qy) / {ry!r}) <= 1.0
"""


def quadkey_assign_sql(zoom: int) -> str:
    from raster_join_spark.fixtures import X0, X1, Y0, Y1
    from raster_join_spark.geo.quadkey import quadkey_sql

    qk = quadkey_sql("x", "y", X0, Y0, X1, Y1, zoom)
    return f"WITH {POINTS_CTE} SELECT url, {qk} AS qk FROM points"


def quadkey_rollup_sql(zoom: int, to_zoom: int) -> str:
    from raster_join_spark.fixtures import X0, X1, Y0, Y1
    from raster_join_spark.geo.quadkey import quadkey_sql

    qk = quadkey_sql("x", "y", X0, Y0, X1, Y1, zoom)
    return f"""
WITH {POINTS_CTE},
keys AS (SELECT {qk} AS qk FROM points)
SELECT substr(qk, 1, {to_zoom}) AS qk, count(*) AS cnt
FROM keys WHERE qk IS NOT NULL GROUP BY 1
"""


def streaming_window_sql(grid: GridSpec = COARSE_GRID, window_s: int = 172_800) -> str:
    """Batch twin of the streaming windowed polygon aggregation
    (streaming/windowed.windowed_polygon_counts): tumbling event-time
    windows (epoch-aligned, like F.window) x raster-cover attribution.
    The cover pairs are inlined as VALUES — the oracle independently
    reproduces the stream's full output after availableNow replay."""
    t = POLY_GRID_CACHE.get(grid, ORACLE_POLYS)
    rows = ",".join(
        f"({int(c)},{int(p)})" for c, p in zip(t.cover_cell, t.cover_poly)
    )
    cell_sql = grid.cell_id_sql("x", "y")
    return f"""
WITH {POINTS_CTE},
cells AS (
  SELECT {cell_sql} AS cell_id,
         CAST(floor(epoch(warc_ts) / {window_s}) * {window_s} AS BIGINT) AS win_start_s
  FROM points
),
cover(cell_id, poly_id) AS (VALUES {rows})
SELECT c.win_start_s, CAST(v.poly_id AS BIGINT) AS poly_id, count(*) AS cnt
FROM cells c JOIN cover v ON v.cell_id = c.cell_id
GROUP BY 1, 2
"""


def knn_bulk_sql(k: int = KNN_K, modulus: int = 10) -> str:
    """Brute-force twin of the set-oriented kNN: the query TABLE is
    every ``modulus``-th point; top-k per query via row_number over the
    full cross product (exact, feasible at gate scale)."""
    return f"""
WITH {POINTS_CTE},
q AS (SELECT event_id AS q_id, x AS qx, y AS qy FROM points
      WHERE event_id % {modulus} = 0),
cand AS (
  SELECT q.q_id AS q_id, p.event_id AS event_id,
         CAST((p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy) AS BIGINT) AS dist2
  FROM points p CROSS JOIN q
),
ranked AS (
  SELECT q_id, event_id, dist2,
         row_number() OVER (PARTITION BY q_id ORDER BY dist2, event_id) AS rnk
  FROM cand
)
SELECT CAST(q_id AS BIGINT) AS q_id, event_id, CAST(rnk AS BIGINT) AS rank, dist2
FROM ranked WHERE rnk <= {k}
"""


def knn_sql(k: int = KNN_K) -> str:
    vals = ",".join(f"({q}, {qx!r}, {qy!r})" for q, qx, qy in KNN_QUERIES)
    return f"""
WITH {POINTS_CTE},
q(q_id, qx, qy) AS (VALUES {vals}),
cand AS (
  SELECT q.q_id AS q_id, p.event_id AS event_id,
         CAST((p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy) AS BIGINT) AS dist2
  FROM points p CROSS JOIN q
),
ranked AS (
  SELECT q_id, event_id, dist2,
         row_number() OVER (PARTITION BY q_id ORDER BY dist2, event_id) AS rnk
  FROM cand
)
SELECT CAST(q_id AS BIGINT) AS q_id, event_id, CAST(rnk AS BIGINT) AS rank, dist2
FROM ranked WHERE rnk <= {k}
"""
