"""kNN via cell-ring expansion (reference J6 generalized).

The reference ships the single-ring probe primitive
(CPUJoin/GridIndexF.cpp:177-198: scan the cell ring around the query,
ellipse-filter) over an in-memory grid index of the points, but never
wires it to a CLI; the north_rule asks for the full operator: grow the
ring until the k-th candidate's distance is certified complete. Any
point in an unprobed cell is at least r*cell_min away from a query whose
probe reached Chebyshev radius r, so a query is done once its k-th
distance is <= (r * cell_min)^2.

:func:`knn_join` takes a driver list of queries; per round r:
  1. driver enumerates ONLY the new ANNULUS of cells (Chebyshev radius
     r_prev+1 .. r) per pending query — never the full disk again (the
     round-3 worst case: re-enumerating the whole disk grows O(r^2) per
     round and explodes on fine grids). The literal table stays tiny and
     is broadcast.
  2. broadcast hash join against the points on cell_id — the big side
     never shuffles
  3. candidates are reduced to per-query top-k IN THE PLAN
     (groupBy(q_id).agg(slice(array_sort(collect_list(struct(dist2, id))),
     1, k)) — map-side combined, no window exchange), so the per-round
     collect is exactly |pending| rows of k structs, INDEPENDENT of
     point density; the driver then MERGES each round's annulus top-k
     into the per-query running top-k (annuli are disjoint by cell, so
     the merge never double-counts a point) and certifies.
  4. EXHAUSTIVE FALLBACK: when the next annulus would need more than
     ``literal_cap`` literal cells (sparse data on a fine grid), or the
     annuli hit max_radius with queries still uncertified, the remaining
     queries are resolved by ONE job that broadcasts the pending query
     coords against ALL (in-grid) points — no cell table at all; its
     per-query top-k is globally exact by construction and REPLACES the
     merged state (a full scan is the right plan exactly when the disk
     would have covered most of the grid anyway).
  5. certified rows accumulate on the driver; the final result is a
     literal DataFrame (inherently q x k rows — never big), so no plan
     is ever re-executed after its round ran.

:func:`knn_join_bulk` takes a query TABLE. The driver collects the
in-grid points once, refines the grid from their occupancy, sorts them
by cell into a CSR index and broadcasts it; one ``mapInArrow`` pass over
the queries then runs the whole ring expansion per Arrow batch in numpy
and emits the final rows.

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


def _round_topk(cand: DataFrame, id_col: str, k: int) -> DataFrame:
    """Reduce raw (q_id, id, dist2) candidates to per-query top-k inside
    the plan: one row per q_id holding a k-slice of the (dist2, id)-sorted
    struct array. collect_list partially aggregates map-side, so the
    single hash exchange carries per-task candidate lists keyed by q_id
    (|queries| keys), and the subsequent driver collect is O(|q| * k)
    rows regardless of point density — the scale contract the 100x rule
    demands (no raw-candidate collect, no window exchange)."""
    return cand.groupBy("q_id").agg(
        F.slice(
            F.array_sort(
                F.collect_list(F.struct(F.col("dist2"), F.col(id_col).alias("_id")))
            ),
            1,
            k,
        ).alias("top")
    )


def knn_join(
    spark: SparkSession,
    points: DataFrame,
    grid: GridSpec,
    queries: list[tuple[int, float, float]],
    k: int,
    x: str = "x",
    y: str = "y",
    id_col: str = "event_id",
    max_radius: int | None = None,
    n_total: int | None = None,
    literal_cap: int = 65_536,
    stats: dict | None = None,
) -> DataFrame:
    """Exact k nearest points per query point. Returns
    (q_id, {id_col}, rank, dist2) with rank 1..k ordered by
    (dist2, id) — the id tiebreak keeps results deterministic.

    ``n_total`` (row-count hint) sizes the initial probe disk from point
    density; when omitted it is computed with one column-pruned count
    job — a density-blind fixed radius would make the probe-disk join
    output grow linearly with density (pass an explicit value to skip
    the count when the caller already knows it). Certification never
    depends on the starting radius, only round count does.

    ``literal_cap`` bounds the driver-built annulus cell table: when the
    next annulus would exceed it (sparse data / fine grid), remaining
    queries switch to the exhaustive broadcast-against-all-points plan —
    still exact, and no literal DataFrame bigger than the cap is ever
    built regardless of grid resolution. ``max_radius`` likewise only
    bounds annulus expansion, not correctness. ``stats`` (optional dict)
    receives {"rounds", "max_literal_rows", "exhaustive"} — used by the
    scale-regression tests.
    """
    if max_radius is None:
        max_radius = max(grid.nx, grid.ny)
    cell_min = min(grid.cell_w, grid.cell_h)

    # Persist the NARROW projection and derive every probe input from
    # the cache (r8). Two reasons, both measured at sf1.0 (1M rows,
    # single-row-group source):
    # (1) Catalyst inlines an expensive source projection into every
    #     downstream expression that references it (the pushed-down
    #     cell filter, the join key, dist2) and the resulting giant
    #     expression tree falls out of whole-stage codegen — one probe
    #     round cost 19-24s uncached vs ~0.3s over the cache. The
    #     InMemoryRelation is an optimizer barrier: the projection is
    #     evaluated exactly once per row at cache build (~0.5-2s), and
    #     all cell/distance arithmetic runs over cached doubles.
    # (2) multi-round queries and the exhaustive fallback re-scan the
    #     same rows; the cache bounds the source cost at one pass.
    # The probe side carries NO cell_id IS NOT NULL filter — an INNER
    # join on cell_id never matches a null key, so the filter is
    # redundant there; only the exhaustive fallback applies it (the
    # in-grid restriction is part of that plan's semantics).
    base = points.select(id_col, x, y).persist()
    pts = base.withColumn("cell_id", grid.cell_id_col(F.col(x), F.col(y)))
    if stats is None:
        stats = {}
    stats.update({"rounds": 0, "max_literal_rows": 0, "exhaustive": False})
    try:
        # initial radius: size the first probe disk for ~64k expected
        # candidates — the in-plan top-k reduction bounds the collect
        # either way, but an over-wide disk still pays join + partial
        # aggregation over every probed point, while every extra driver
        # round costs a full scheduling barrier (~0.3-0.5 s)
        if n_total is None:
            n_total = points.count()
        if n_total > 0:
            import math as _math

            density = n_total / max(grid.n_cells, 1)
            r_init = max(0, int(_math.ceil(_math.sqrt((64.0 * k) / density) / 2.0)) - 1)
        else:
            r_init = 4
        r_init = min(r_init, max(grid.nx, grid.ny) // 4)
        qxp = {q: int((qx - grid.x0) // grid.cell_w) for q, qx, _ in queries}
        qyp = {q: int((qy - grid.y0) // grid.cell_h) for q, _, qy in queries}
        qpos = {q: (qx, qy) for q, qx, qy in queries}
        pending = {q for q, _, _ in queries}
        # merged running top-k per query across rounds: (dist2, id)
        # tuples, truncated to k — annuli are cell-disjoint, so simple
        # list-merge never sees the same point twice
        best: dict[int, list[tuple[float, object]]] = {q: [] for q in pending}

        def _certify(q: int, r_probed: int) -> bool:
            rs = best[q]
            return len(rs) >= k and rs[k - 1][0] <= (r_probed * cell_min) ** 2

        def _emit(q: int) -> None:
            final_rows.extend(
                (q, pid, rank + 1, d2) for rank, (d2, pid) in enumerate(best[q][:k])
            )

        r_prev = -1  # all cells with Chebyshev distance <= r_prev probed
        r = r_init
        next_step = 1
        final_rows: list[tuple] = []
        id_type = pts.schema[id_col].dataType
        q_schema = T.StructType(
            [
                T.StructField("q_id", T.LongType(), False),
                T.StructField("cell_id", T.LongType(), False),
                T.StructField("qx", T.DoubleType(), False),
                T.StructField("qy", T.DoubleType(), False),
            ]
        )
        dist2_col = (
            (F.col(x) - F.col("qx")) * (F.col(x) - F.col("qx"))
            + (F.col(y) - F.col("qy")) * (F.col(y) - F.col("qy"))
        ).alias("dist2")
        while pending:
            r = min(r, max_radius)
            # worst-case (unclamped) literal size of the next annulus;
            # conservative near grid edges, which only switches to the
            # exhaustive plan a round early
            prev_cells = (2 * r_prev + 1) ** 2 if r_prev >= 0 else 0
            est_rows = len(pending) * ((2 * r + 1) ** 2 - prev_cells)
            if r_prev >= max_radius or est_rows > literal_cap:
                # EXHAUSTIVE: broadcast pending query coords against all
                # in-grid points — no cell table; globally exact, so it
                # REPLACES the merged state for these queries
                stats["exhaustive"] = True
                stats["rounds"] += 1
                qlit = spark.createDataFrame(
                    [(q, -1, qpos[q][0], qpos[q][1]) for q in sorted(pending)],
                    q_schema,
                ).drop("cell_id")
                cand = (
                    base.withColumn(
                        "cell_id", grid.cell_id_col(F.col(x), F.col(y))
                    )
                    .filter(F.col("cell_id").isNotNull())
                    .crossJoin(F.broadcast(qlit))
                    .select("q_id", F.col(id_col), dist2_col)
                )
                by_q = {
                    row["q_id"]: row["top"]
                    for row in _round_topk(cand, id_col, k).collect()
                }
                for q in list(pending):
                    best[q] = [(t["dist2"], t["_id"]) for t in by_q.get(q, [])]
                    _emit(q)
                    pending.discard(q)
                break
            stats["rounds"] += 1
            # literal table: ONLY the new annulus r_prev+1 .. r per
            # pending query, with query coords inlined — one broadcast
            # join resolves both the probe and the distance inputs
            rows = []
            for q in pending:
                qx_, qy_ = qpos[q]
                for rr in range(r_prev + 1, r + 1):
                    for c in grid.ring_cells(qxp[q], qyp[q], rr):
                        rows.append((q, c, qx_, qy_))
            stats["max_literal_rows"] = max(stats["max_literal_rows"], len(rows))
            if rows:
                cand_cells = spark.createDataFrame(rows, q_schema)
                cand = pts.join(F.broadcast(cand_cells), "cell_id", "inner").select(
                    "q_id", F.col(id_col), dist2_col
                )
                # ONE job per round: the plan reduces candidates to
                # per-query top-k (struct-array sort + slice, map-side
                # combined), so the collect is exactly |pending| rows of
                # k structs each — O(|queries| * k) driver bytes at ANY
                # point density; merge + certification stay driver-side
                # and nothing is ever re-executed
                by_q = {
                    row["q_id"]: row["top"]
                    for row in _round_topk(cand, id_col, k).collect()
                }
                for q in list(pending):
                    new = by_q.get(q)
                    if new:
                        best[q] = sorted(
                            best[q] + [(t["dist2"], t["_id"]) for t in new]
                        )[:k]
                    if _certify(q, r):
                        _emit(q)
                        pending.discard(q)
            else:
                # annulus fully outside the grid for every pending query
                for q in list(pending):
                    if _certify(q, r):
                        _emit(q)
                        pending.discard(q)
            # exponential ring growth (4x: rounds are the expensive
            # unit, candidates are cheap): sparse regions certify in
            # O(log r) driver rounds instead of O(r); overshoot is safe
            # because the exhaustive fallback — not a final giant-disk
            # enumeration — now closes out any stragglers
            r_prev = r
            step = max(next_step, r)  # at least double the radius
            r = r + step
            next_step = min(next_step * 4, max(grid.nx, grid.ny) // 4 + 1)
        assert not pending, f"uncertified kNN queries left: {sorted(pending)}"
        assert final_rows, "no kNN results produced"
        out_schema = T.StructType(
            [
                T.StructField("q_id", T.LongType(), False),
                T.StructField(id_col, id_type, False),
                T.StructField("rank", T.IntegerType(), False),
                T.StructField("dist2", T.DoubleType(), False),
            ]
        )
        return spark.createDataFrame(final_rows, out_schema)
    finally:
        base.unpersist()


# The bulk operator's index grid is the caller's grid refined until its
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
    """The broadcast point index over the in-grid rows of ``tbl``:
    ``grid`` refined from its occupancy (np.bincount) to about
    ``_CELL_TARGET`` points in the densest cell, and the points sorted by
    refined cell id. A run of cell ids is then a contiguous run of points
    (CSR offsets by ``searchsorted``). ``key`` ranks the ids, so ties
    break by id for any id type."""
    # imported here: pyarrow.compute adds ~33 MB to a process's RSS
    import pyarrow.compute as pc

    px = tbl.column(x).to_numpy().astype(np.float64)
    py = tbl.column(y).to_numpy().astype(np.float64)
    with np.errstate(invalid="ignore"):  # NULL coordinates arrive as NaN
        base = grid.cell_ids_np(px, py)
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
       refined from their occupancy (:func:`_point_index`), are
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
    # no Spark-side in-grid filter: Catalyst would inline the source's
    # projection (the pages' regex synthesis) into each of the filter's
    # four x/y references; the collect of the bare projection measured
    # 0.4-0.8 s against 2.8 s filtered (100k pages, local[4])
    tbl = points.select(id_col, x, y).toArrow()
    bc = spark.sparkContext.broadcast(_point_index(tbl, grid, id_col, x, y))
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
    literal_cap: int = 65_536,
    stats: dict | None = None,
) -> DataFrame:
    """Ellipse radius query — the reference's getRegionPt primitive
    (CPUJoin/GridIndexF.cpp:177-198): probe the cell ring covering
    [q - r, q + r], keep points with ((x-qx)/rx)^2 + ((y-qy)/ry)^2 <= 1
    (the ellipse test at GridIndexF.cpp:15-19). Returns
    (q_id, id, dist2) for every point inside some query's ellipse.

    Plan: enumerate covering cells per query on the driver (tiny),
    broadcast, hash-join on cell_id, native-expression ellipse filter —
    all JVM-side. When the covering-cell table would exceed
    ``literal_cap`` rows (a huge radius relative to the cell size —
    knn_join's fine-grid hazard applies here too), the cell table is
    skipped entirely: the tiny query list broadcasts against all points
    and the ellipse filter alone selects — same rows, one full scan,
    never a giant driver-built literal."""
    qlit = spark.createDataFrame(
        [(q, qx, qy) for q, qx, qy in queries],
        T.StructType(
            [
                T.StructField("q_id", T.LongType(), False),
                T.StructField("qx", T.DoubleType(), False),
                T.StructField("qy", T.DoubleType(), False),
            ]
        ),
    )
    pts = points.withColumn("cell_id", grid.cell_id_col(F.col(x), F.col(y))).filter(
        F.col("cell_id").isNotNull()
    )
    spans = [
        grid.mbr_cell_range(qx - rx, qy - ry, qx + rx, qy + ry)
        for _, qx, qy in queries
    ]
    # clamp each span: mbr_cell_range clamps lower bounds at 0 and upper
    # at nx/ny, so a query MBR fully outside the grid yields a NEGATIVE
    # span that must not offset another query's huge positive span and
    # sneak past the cap
    n_cells = sum(
        max(0, enx - stx) * max(0, eny - sty) for stx, sty, enx, eny in spans
    )
    if stats is not None:
        stats.update({"n_cells": n_cells, "fallback": n_cells > literal_cap})
    if n_cells > literal_cap:
        cand = pts.crossJoin(F.broadcast(qlit))
    else:
        rows = []
        for (q, _, _), (stx, sty, enx, eny) in zip(queries, spans):
            for yy in range(sty, eny):
                for xx in range(stx, enx):
                    rows.append((q, xx + grid.nx * yy))
        cand_cells = spark.createDataFrame(
            rows,
            T.StructType(
                [
                    T.StructField("q_id", T.LongType(), False),
                    T.StructField("cell_id", T.LongType(), False),
                ]
            ),
        )
        cand = (
            pts.join(F.broadcast(cand_cells), "cell_id", "inner")
            .join(F.broadcast(qlit), "q_id", "inner")
        )
    ex = (F.col(x) - F.col("qx")) / F.lit(rx)
    ey = (F.col(y) - F.col("qy")) / F.lit(ry)
    return cand.filter(ex * ex + ey * ey <= F.lit(1.0)).select(
        "q_id",
        F.col(id_col),
        ((F.col(x) - F.col("qx")) * (F.col(x) - F.col("qx"))
         + (F.col(y) - F.col("qy")) * (F.col(y) - F.col("qy"))).cast("long").alias("dist2"),
    )
