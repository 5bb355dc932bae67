"""Exact kNN and radius queries over a grid index of the points
(reference J6, the in-memory GridIndex of CPUJoin/GridIndexF.cpp).

One point index serves both kNN operators. The driver collects the bare
projection (id, x, y) with ``toArrow()``, keeps its in-grid rows, refines
the caller's grid from their occupancy and sorts the points by cell
(:func:`_point_index`). :func:`_knn_batch` then answers a batch of
queries in numpy: each query probes the cell block around it, the
reference's getRegionPt ring probe (GridIndexF.cpp:177-198), and grows
it until its k-th distance is certified complete. Any point outside a
block of Chebyshev radius r is at least r * cell_min away, so a query is
done once its k-th distance is <= (r * cell_min)^2.

The two operators use the index in two ways:

- :func:`knn_join` takes a driver list of queries and runs the kernel
  in-process on the driver; its rows come back as a local frame.
- :func:`knn_join_bulk` takes a query TABLE, broadcasts the index once
  and runs the kernel in one ``mapInArrow`` pass over the queries.

:func:`radius_query` needs no index: one ``mapInArrow`` pass over the
points carries the query list, and each Arrow batch, sorted by cell,
hands every query the runs of points in the cells its ellipse's box
covers.

Distances are squared Euclidean with the same op order as the SQL oracle:
(x-qx)*(x-qx) + (y-qy)*(y-qy) — exact integers in microdegree space.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from raster_join_spark.geo.grid import GridSpec
from raster_join_spark.session import drop_zip_finders


def knn_join(
    spark: SparkSession,
    points: DataFrame,
    grid: GridSpec,
    queries: list[tuple[int, float, float]],
    k: int,
    x: str = "x",
    y: str = "y",
    id_col: str = "event_id",
) -> DataFrame:
    """Exact k nearest points per query of a driver list of
    ``(q_id, qx, qy)``. Returns (q_id, {id_col}, rank, dist2), rank 1..k
    by (dist2, id) — the id tiebreak keeps results deterministic — over
    the points inside ``grid``; a query gets min(k, in-grid points) rows.

    One Spark job collects the point index (:func:`_collect_index`); the
    kernel (:func:`_knn_batch`) runs on the driver over the list, and
    the result is a local frame. The query side is tiny, so a second
    Spark pass over it would cost more than the kernel.

    Driver-side bound: every point of the projection crosses to the
    driver, 24 B per point (long id, two doubles), under
    ``spark.driver.maxResultSize`` (1 GB by default, ~40M points), the
    same as :func:`knn_join_bulk`; past it the collect fails with
    Spark's own error.
    """
    ix = _collect_index(points, grid, id_col, x, y)
    qid = np.array([q for q, _, _ in queries], np.int64)
    qx = np.array([v for _, v, _ in queries], np.float64)
    qy = np.array([v for _, _, v in queries], np.float64)
    q, p, rank, d2 = _knn_batch(ix, qx, qy, k, _MATRIX_ENTRIES)
    schema = T.StructType(
        [
            T.StructField("q_id", T.LongType(), False),
            T.StructField(id_col, points.schema[id_col].dataType, False),
            T.StructField("rank", T.IntegerType(), False),
            T.StructField("dist2", T.DoubleType(), False),
        ]
    )
    # an Arrow table becomes a local relation: consuming the rows runs
    # no Spark job (a list of rows would be a parallelized RDD)
    cols = [qid[q], ix["ids"].take(pa.array(p)), rank.astype(np.int32), d2]
    table = pa.table(cols, names=schema.names)
    return spark.createDataFrame(table, schema)


# The point index's grid is the caller's grid refined until its
# densest cell holds about this many points (or _MAX_REFINE binds).
# Coarser cells make every query scan more candidates, finer cells make
# sparse-region queries enumerate more cell rows. Single-thread kernel
# time for targets 1024 / 256 / 128 / 64 / 32 (4-core host): 7.15 /
# 2.71 / 1.93 / 1.26 / 1.16 s for 67k queries over the perfbench pages,
# 3.25 / 1.35 / 0.67 / 0.44 / 0.29 s for 10k queries over sf0.1.
_CELL_TARGET = 32
# Largest refinement factor per axis: it bounds the cell rows a query in
# a sparse region enumerates when one hot cell cannot be split (all of
# its points on one coordinate).
_MAX_REFINE = 16
# Entries of one padded (queries x candidates) distance matrix.
_MATRIX_ENTRIES = 1 << 20
# Certification margin in cells: floor((v - origin) / cell) in floating
# point can put a point a few ulps across its cell edge.
_EDGE = 1e-6


def _ramp(lens: np.ndarray) -> np.ndarray:
    """0..len-1 for each segment length, concatenated."""
    return np.arange(lens.sum()) - np.repeat(np.cumsum(lens) - lens, lens)


def _cells(v: np.ndarray, origin: float, size: float, n: int) -> np.ndarray:
    """Column (or row) of each coordinate, clamped into [0, n): an
    out-of-grid query probes from its nearest edge cell, and a point on
    the far edge stays in the last cell when a refined width rounds."""
    t = np.floor((v - origin) / size)
    return np.clip(np.nan_to_num(t), 0, n - 1).astype(np.int64)


def _point_index(tbl: pa.Table, grid: GridSpec, id_col: str, x: str, y: str) -> dict:
    """The point index over the in-grid rows of ``tbl``:
    ``grid`` refined from its occupancy (np.bincount) to about
    ``_CELL_TARGET`` points in the densest cell, and the points sorted by
    refined cell id. A run of cell ids is then a contiguous run of points
    (CSR offsets by ``searchsorted``). ``key`` ranks the ids, so ties
    break by id for any id type."""
    # imported here: pyarrow.compute adds ~33 MB to a process's RSS
    import pyarrow.compute as pc

    px = tbl.column(x).to_numpy().astype(np.float64)
    py = tbl.column(y).to_numpy().astype(np.float64)
    base = grid.cell_ids_np(px, py)  # NULL coordinates arrive as NaN: -1
    keep = base >= 0
    px, py, base = px[keep], py[keep], base[keep]
    ids = tbl.column(id_col).combine_chunks().filter(pa.array(keep))
    densest = int(np.bincount(base).max()) if len(base) else 0
    f = 1
    if densest > _CELL_TARGET:
        f = min(_MAX_REFINE, math.ceil(math.sqrt(densest / _CELL_TARGET)))
    g = grid.refined(f)
    cell = _cells(px, g.x0, g.cell_w, g.nx) + g.nx * _cells(py, g.y0, g.cell_h, g.ny)
    order = np.argsort(cell, kind="stable")
    key = np.empty(len(ids), np.int64)
    key[pc.sort_indices(ids).to_numpy()] = np.arange(len(ids))
    return {
        "grid": g,
        "cell": cell[order],
        "x": px[order],
        "y": py[order],
        "key": key[order],
        "ids": ids.take(pa.array(order)),
    }


def _collect_index(points: DataFrame, grid: GridSpec, id_col: str, x: str, y: str) -> dict:
    """Collect the bare projection (id, x, y) in one Spark job and build
    its :func:`_point_index`. No Spark-side in-grid filter: Catalyst
    would inline the source's projection (the pages' regex synthesis)
    into each of the filter's four x/y references; the collect of the
    bare projection measured 0.4-0.8 s against 2.8 s filtered (100k
    pages, local[4])."""
    tbl = points.select(id_col, x, y).toArrow()
    return _point_index(tbl, grid, id_col, x, y)


def _select(d: np.ndarray, p: np.ndarray, key: np.ndarray, k: int):
    """Per row of the padded (rows x w) distance matrix ``d`` (inf pads)
    over point indices ``p``: the first k by (dist2, id), inf-padded to
    width k."""
    rows, w = d.shape
    kk = min(k, w)
    kth = np.partition(d, kk - 1, axis=1)[:, kk - 1]
    r, c = np.nonzero(d <= kth[:, None])
    dd, pp = d[r, c], p[r, c]
    o = np.lexsort((key[pp], dd, r))
    r, dd, pp = r[o], dd[o], pp[o]
    pos = _ramp(np.bincount(r, minlength=rows))
    t = pos < k
    out_d = np.full((rows, k), np.inf)
    out_p = np.zeros((rows, k), np.int64)
    out_d[r[t], pos[t]] = dd[t]
    out_p[r[t], pos[t]] = pp[t]
    return out_d, out_p


def _block_topk(ix: dict, qx, qy, sq, a, b, k: int, budget: int):
    """Top-k of each query over its block: the point runs ``[a, b)``,
    owned by query ``sq`` (sorted). Queries go through padded distance
    matrices of at most ``budget`` entries, largest blocks first; a
    block wider than ``budget`` is scanned in column tiles that merge
    into the running top-k."""
    m = len(qx)
    px, py, key = ix["x"], ix["y"], ix["key"]
    ln = b - a
    cnt = np.bincount(sq, weights=ln, minlength=m).astype(np.int64)
    ns = np.bincount(sq, minlength=m)
    s0 = np.cumsum(ns) - ns
    best_d = np.full((m, k), np.inf)
    best_p = np.zeros((m, k), np.int64)
    order = np.argsort(-cnt, kind="stable")
    i = 0
    while i < m and cnt[order[i]] > 0:
        chunk = order[i : i + max(1, budget // cnt[order[i]])]
        rows = len(chunk)
        i += rows
        # the chunk's candidates, row-major: run ids, then point ids
        runs = np.repeat(s0[chunk], ns[chunk]) + _ramp(ns[chunk])
        pt = np.repeat(a[runs], ln[runs]) + _ramp(ln[runs])
        qcx = np.repeat(qx[chunk], cnt[chunk])
        qcy = np.repeat(qy[chunk], cnt[chunk])
        # flat position in the padded matrix: row * width + column
        w = min(int(cnt[chunk[0]]), budget)
        at = np.repeat(np.arange(rows) * w, cnt[chunk]) + _ramp(cnt[chunk])
        # one tile, or column tiles of a single over-budget row
        step = budget if rows == 1 else len(pt)
        cd, cp = best_d[chunk], best_p[chunk]
        for c0 in range(0, len(pt), step):
            t_pt = pt[c0 : c0 + step]
            dx = px[t_pt] - qcx[c0 : c0 + step]
            d2 = dx * dx
            dy = py[t_pt] - qcy[c0 : c0 + step]
            d2 += dy * dy
            dm = np.full(rows * w, np.inf)
            pm = np.zeros(rows * w, np.int64)
            dm[at[c0 : c0 + step] - c0] = d2
            pm[at[c0 : c0 + step] - c0] = t_pt
            dm, pm = dm.reshape(rows, w), pm.reshape(rows, w)
            if c0:
                dm, pm = np.hstack([cd, dm]), np.hstack([cp, pm])
            cd, cp = _select(dm, pm, key, k)
        best_d[chunk], best_p[chunk] = cd, cp
    return best_d, best_p


def _knn_batch(ix: dict, qx: np.ndarray, qy: np.ndarray, k: int, budget: int):
    """Exact kNN of one batch of queries against the point index: per
    query (row in the batch), point index, rank 1..k and dist2, ordered
    by (row, rank).

    Each query probes the cell block of Chebyshev radius r around its
    (clamped) cell, seeded from its own cell's occupancy (floored by the
    global density) to reach ~64*k candidates. A block row is one run of
    the cell-sorted points, and a full-width block is one run. A query
    certifies when its kth distance is at most ``(r * cell_min)^2``:
    every unprobed point is at least that far. An uncertified query with
    k candidates re-probes at the radius its kth distance needs; one with
    fewer doubles r. The whole-grid block (every point) certifies
    unconditionally, and a query switches to it once its block would
    have more rows than there are points."""
    g, cell = ix["grid"], ix["cell"]
    n, m = len(cell), len(qx)
    if n == 0 or m == 0:
        return (np.empty(0, np.int64),) * 3 + (np.empty(0, np.float64),)
    cx = _cells(qx, g.x0, g.cell_w, g.nx)
    cy = _cells(qy, g.y0, g.cell_h, g.ny)
    own = cx + g.nx * cy
    occ = np.searchsorted(cell, own, "right") - np.searchsorted(cell, own, "left")
    inside = (qx >= g.x0) & (qx < g.x1) & (qy >= g.y0) & (qy < g.y1)
    d_eff = np.maximum(np.where(inside, occ, 0), n / g.n_cells)
    whole_r = max(g.nx, g.ny)
    r = np.maximum(np.ceil(np.sqrt(64.0 * k / d_eff) / 2.0) - 1, 1)
    r = np.where(2 * r + 1 > n, whole_r, np.minimum(r, whole_r)).astype(np.int64)
    cell_min = min(g.cell_w, g.cell_h)
    out: list[tuple] = []
    todo = np.arange(m)
    while todo.size:
        rr = r[todo]
        x_lo = np.maximum(cx[todo] - rr, 0)
        x_hi = np.minimum(cx[todo] + rr, g.nx - 1)
        y_lo = np.maximum(cy[todo] - rr, 0)
        y_hi = np.minimum(cy[todo] + rr, g.ny - 1)
        wide = (x_lo == 0) & (x_hi == g.nx - 1)
        whole = wide & (y_lo == 0) & (y_hi == g.ny - 1)
        h = np.where(wide, 1, y_hi - y_lo + 1)
        sq = np.repeat(np.arange(len(todo)), h)
        row = y_lo[sq] + _ramp(h)
        lo = np.where(wide[sq], y_lo[sq] * g.nx, row * g.nx + x_lo[sq])
        hi = np.where(wide[sq], (y_hi[sq] + 1) * g.nx, row * g.nx + x_hi[sq] + 1)
        d, p = _block_topk(
            ix, qx[todo], qy[todo], sq,
            np.searchsorted(cell, lo), np.searchsorted(cell, hi), k, budget,
        )
        kth = d[:, k - 1]
        reach = np.maximum(rr - _EDGE, 0.0) * cell_min
        done = whole | (kth <= reach * reach)
        hit = np.isfinite(d[done])
        q, rank = np.nonzero(hit)
        out.append((todo[done][q], p[done][hit], rank + 1, d[done][hit]))
        rk, kth = rr[~done].astype(np.float64), kth[~done]
        with np.errstate(invalid="ignore"):
            need = np.ceil(np.sqrt(kth) / cell_min + _EDGE)
        grown = np.where(np.isfinite(kth), np.maximum(need, rk + 1), 2 * rk + 1)
        grown = np.where(2 * grown + 1 > n, whole_r, np.minimum(grown, whole_r))
        todo = todo[~done]
        r[todo] = grown.astype(np.int64)
    q, p, rank, d2 = (np.concatenate(c) for c in zip(*out))
    o = np.lexsort((rank, q))
    return q[o], p[o], rank[o], d2[o]


def knn_join_bulk(
    spark: SparkSession,
    points: DataFrame,
    grid: GridSpec,
    queries: DataFrame,
    k: int,
    x: str = "x",
    y: str = "y",
    id_col: str = "event_id",
) -> DataFrame:
    """Set-oriented exact kNN: ``queries`` is a DataFrame (q_id, qx, qy)
    — the training-pipeline shape (kNN of a whole table of query points;
    the reference's getRegionPt probe, CPUJoin/GridIndexF.cpp:177-198,
    issued per point). Returns (q_id, {id_col}, rank, dist2), rank 1..k
    by (dist2, id), over the points inside ``grid``; a query gets
    min(k, in-grid points) rows.

    Two steps, as the reference's in-memory grid index over the points:

    1. Index (driver). The projection (id, x, y) is collected with
       ``toArrow()``; its in-grid rows, sorted by the cell of a grid
       refined from their occupancy (:func:`_collect_index`), are
       broadcast once.
    2. Query pass: ONE ``mapInArrow`` over the queries, hash-partitioned
       by q_id into 2 x defaultParallelism tasks, finishes every query
       in-kernel by cell-block expansion (:func:`_knn_batch`) and emits
       the final rows. AQE is held off for the pass and then restored:
       its coalescing would merge the small query shuffle into one task.

    The result is persisted and materialized before returning, so
    consuming it never re-runs the pass; callers may ``unpersist`` it.

    Point-side bound: every point of the projection crosses to the
    driver, 24 B per point (long id, two doubles), under
    ``spark.driver.maxResultSize`` (1 GB by default, ~40M points); past
    it the collect fails with Spark's own error. The query side stays
    distributed.
    """
    bc = spark.sparkContext.broadcast(_collect_index(points, grid, id_col, x, y))
    schema = T.StructType(
        [
            queries.schema["q_id"],
            T.StructField(id_col, points.schema[id_col].dataType, False),
            T.StructField("rank", T.IntegerType(), False),
            T.StructField("dist2", T.DoubleType(), False),
        ]
    )
    budget = _MATRIX_ENTRIES

    def fn(batches):
        drop_zip_finders()
        ix = bc.value
        for rb in batches:
            qx = rb.column(1).to_numpy(zero_copy_only=False)
            qy = rb.column(2).to_numpy(zero_copy_only=False)
            q, p, rank, d2 = _knn_batch(ix, qx, qy, k, budget)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0).take(pa.array(q)),
                    ix["ids"].take(pa.array(p)),
                    pa.array(rank.astype(np.int32)),
                    pa.array(d2),
                ],
                names=schema.names,
            )

    # AQE is held off for the pass: its partition coalescing merges by
    # bytes and would fold the small query shuffle into one task, and
    # under AQE materializing the persisted result takes four jobs (the
    # shuffle stage, the table-cache stage, count's exchange, the final
    # stage) where a static plan takes one
    aqe_key = "spark.sql.adaptive.enabled"
    aqe_prev = spark.conf.get(aqe_key, "true")
    spark.conf.set(aqe_key, "false")
    try:
        target = max(spark.sparkContext.defaultParallelism, 1)
        out = (
            queries.select("q_id", F.col("qx").cast("double"), F.col("qy").cast("double"))
            .repartition(2 * target, "q_id")
            .mapInArrow(fn, schema)
            .persist()
        )
        out.count()
        return out
    finally:
        spark.conf.set(aqe_key, aqe_prev)
        bc.unpersist(blocking=False)


def radius_query(
    spark: SparkSession,
    points: DataFrame,
    grid: GridSpec,
    queries: list[tuple[int, float, float]],
    rx: float,
    ry: float,
    x: str = "x",
    y: str = "y",
    id_col: str = "event_id",
) -> DataFrame:
    """Ellipse radius query — the reference's getRegionPt primitive
    (CPUJoin/GridIndexF.cpp:177-198): every in-grid point with
    ((x-qx)/rx)^2 + ((y-qy)/ry)^2 <= 1 (the ellipse test at
    GridIndexF.cpp:15-19) for some query of the driver list
    ``(q_id, qx, qy)``. Returns (q_id, {id_col}, dist2) with dist2 =
    (x-qx)*(x-qx) + (y-qy)*(y-qy) cast to long, both in the SQL
    oracle's op order.

    One ``mapInArrow`` pass over the points (id, x, y), coalesced to at
    most two tasks per core as SpatialJoin's kernels are; the query
    list rides in the kernel. Each Arrow batch sorts its in-grid points
    by cell, and a query tests only the row runs of its probe cells
    (:func:`_radius_batch`), so the work is the candidates, not batch x
    queries. The result stays a lazy distributed DataFrame: its size is
    unbounded.

    A non-finite query coordinate or a radius that is not a positive
    finite number raises ValueError before any Spark job runs."""
    for name, r in (("rx", rx), ("ry", ry)):
        if not (math.isfinite(r) and r > 0):
            raise ValueError(f"radius {name}={r!r} must be a positive finite number")
    qid = np.array([q for q, _, _ in queries], np.int64)
    qx = np.array([v for _, v, _ in queries], np.float64)
    qy = np.array([v for _, _, v in queries], np.float64)
    bad = np.flatnonzero(~(np.isfinite(qx) & np.isfinite(qy)))
    if len(bad):
        i = bad[0]
        raise ValueError(f"query {qid[i]} has a non-finite coordinate ({qx[i]!r}, {qy[i]!r})")
    # each query's probe cells: the mbr_cell_range of its box [q - r,
    # q + r] widened by one cell on each side, as the rounded box edge can
    # fall a few ulps short of a point that the ellipse test accepts,
    # across a cell edge; in float64, as a far off-grid range passes int64
    box = [grid.mbr_cell_range(a - rx, b - ry, a + rx, b + ry) for a, b in zip(qx, qy)]
    span, n = np.array(box, np.float64).reshape(-1, 4).T, [[grid.nx], [grid.ny]]
    lo = np.clip(span[:2] - 1, 0, n).astype(np.int64)
    hi = np.clip(span[2:] + 1, 0, n).astype(np.int64)
    spans = (lo[0], hi[0], lo[1], hi[1])
    schema = T.StructType(
        [
            T.StructField("q_id", T.LongType(), False),
            points.schema[id_col],
            T.StructField("dist2", T.LongType(), False),
        ]
    )

    def fn(batches):
        drop_zip_finders()
        for rb in batches:
            px = np.asarray(rb.column(1).to_numpy(zero_copy_only=False), np.float64)
            py = np.asarray(rb.column(2).to_numpy(zero_copy_only=False), np.float64)
            q, row, d2 = _radius_batch(grid, spans, qx, qy, rx, ry, px, py)
            if len(d2) and d2.max() >= 2.0**63:
                raise ValueError("dist2 past the long range: the radius is too large")
            yield pa.RecordBatch.from_arrays(
                [pa.array(qid[q]), rb.column(0).take(pa.array(row)), pa.array(d2.astype(np.int64))],
                names=schema.names,
            )

    target = max(spark.sparkContext.defaultParallelism, 1)
    return points.select(id_col, x, y).coalesce(2 * target).mapInArrow(fn, schema)


def _radius_batch(grid: GridSpec, spans, qx, qy, rx: float, ry: float, px, py):
    """(query, point row, dist2) of every in-grid point of one batch
    that lies in a query's ellipse. The in-grid points are sorted by
    cell, so one row of a query's probe cells is one run of points (the
    whole block is one run when it spans the grid's width), located by
    ``searchsorted``. Candidates are tested in chunks of at most
    ``_MATRIX_ENTRIES``."""
    cell = grid.cell_ids_np(px, py)
    keep = np.flatnonzero(cell >= 0)
    order = keep[np.argsort(cell[keep])]
    cell = cell[order]
    nx = grid.nx
    x_lo, x_hi, y_lo, y_hi = spans
    wide = (x_lo == 0) & (x_hi == nx)
    h = np.where((x_hi > x_lo) & (y_hi > y_lo), np.where(wide, 1, y_hi - y_lo), 0)
    sq = np.repeat(np.arange(len(qx)), h)
    row = y_lo[sq] + _ramp(h)
    a = np.searchsorted(cell, np.where(wide[sq], y_lo[sq] * nx, row * nx + x_lo[sq]))
    ln = np.searchsorted(cell, np.where(wide[sq], y_hi[sq] * nx, row * nx + x_hi[sq])) - a
    ends = np.cumsum(ln)
    out = [(np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.float64))]
    r0 = 0
    while r0 < len(ln):
        base = ends[r0 - 1] if r0 else 0
        r1 = max(int(np.searchsorted(ends, base + _MATRIX_ENTRIES, "right")), r0 + 1)
        p = order[np.repeat(a[r0:r1], ln[r0:r1]) + _ramp(ln[r0:r1])]
        q = np.repeat(sq[r0:r1], ln[r0:r1])
        dx = px[p] - qx[q]
        dy = py[p] - qy[q]
        ex = dx / rx
        ey = dy / ry
        hit = ex * ex + ey * ey <= 1.0
        dx, dy = dx[hit], dy[hit]
        out.append((q[hit], p[hit], dx * dx + dy * dy))
        r0 = r1
    return tuple(np.concatenate(c) for c in zip(*out))
