"""Driver-side polygon-grid rasterization & cell classification.

This is the Spark-first replacement for the reference's per-query GPU
polygon rasterization passes:

- **cover table** (raster join J1): cell -> poly_id for every grid cell
  whose CENTER is inside the polygon under the exact ray-cast rule — the
  analogue of rasterizing triangulated polygons into the canvas
  (RasterJoin/join/RasterJoin.cpp:215-237, shaders/polygon.frag:12-28).
- **classification table** (hybrid J3 / error-bounds J4): every cell in a
  polygon's MBR labeled interior / boundary / outside via the exact
  polygon-vs-cell-rect test (CPUJoin/GridIndexF.cpp:461-511 logic:
  any vertex in rect -> partial; else corner-in-poly counts + edge-vs-rect
  crossings decide), plus the polygon∩cell area fraction for boundary
  cells (Sutherland–Hodgman clip; the reference's per-pixel
  Cohen–Sutherland fraction, shaders/line-bound.frag:27-187).
- **candidate lists** (index join J2): MBR-cover cell -> candidate poly
  ids, a superset exactly like the GPU linked-list grid
  (shaders/create-index.glsl:34-81); PIP filters the slack.

Computed ONCE per (polygon collection, grid) with vectorized numpy,
cached, and shipped to executors as a broadcast-joinable DataFrame — the
reference rebuilds its polygon index every query (GLFunction.cpp:65-156);
we memoize because polygon sets are static dimension data.

Scale note: the tables are O(covered cells), a few MB for 256-1024² grids
with hundreds of polygons — safely below Spark's broadcast threshold even
for the 65,536-polygon sweep.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from raster_join_spark.geo.grid import GridSpec
from raster_join_spark.geo.pip import pip_mask
from raster_join_spark.geo.polygons import PolygonSet

INTERIOR = 0
BOUNDARY = 1


@dataclass(frozen=True)
class PolyGridTables:
    """Flat numpy relations, ready for spark.createDataFrame."""

    # (cell_id, poly_id) where cell center is inside poly  [raster cover]
    cover_cell: np.ndarray
    cover_poly: np.ndarray
    # (cell_id, poly_id, kind, inside_frac, center_in) for interior+boundary cells
    cls_cell: np.ndarray
    cls_poly: np.ndarray
    cls_kind: np.ndarray
    cls_frac: np.ndarray
    cls_center_in: np.ndarray  # raster attribution flag (center-inside)
    # (cell_id, poly_id) MBR-cover candidates [index-join superset]
    cand_cell: np.ndarray
    cand_poly: np.ndarray

    def interior_pairs(self) -> tuple[np.ndarray, np.ndarray]:
        m = self.cls_kind == INTERIOR
        return self.cls_cell[m], self.cls_poly[m]

    def boundary_pairs(self) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        m = self.cls_kind == BOUNDARY
        return self.cls_cell[m], self.cls_poly[m], self.cls_frac[m], self.cls_center_in[m]

    def boundary_fraction(self) -> float:
        """Share of covered (cell, poly) pairs that are boundary pairs —
        a data-independent estimate of the share of points needing the
        exact PIP kernel, assuming near-uniform density per covered
        cell. SpatialJoin's refinement rule reads it."""
        nb = int((self.cls_kind == BOUNDARY).sum())
        return nb / max(len(self.cls_kind), 1)


def _segments_intersect_rect(
    vx0, vy0, vx1, vy1, lbx, lby, rtx, rty
) -> np.ndarray:
    """Vectorized segment-vs-axis-aligned-rect overlap (Liang–Barsky clip).

    Inputs broadcast elementwise; returns bool array. Replaces the
    reference's Cohen–Sutherland outcode + lineRectIntersection pair
    (GridIndexF.cpp:487-496,405-424) with an equivalent exact test.
    """
    dx = vx1 - vx0
    dy = vy1 - vy0
    t0 = np.zeros_like(vx0, dtype=np.float64)
    t1 = np.ones_like(vx0, dtype=np.float64)
    ok = np.ones_like(vx0, dtype=bool)
    for p, q in (
        (-dx, vx0 - lbx),
        (dx, rtx - vx0),
        (-dy, vy0 - lby),
        (dy, rty - vy0),
    ):
        par = p == 0
        ok &= ~(par & (q < 0))  # parallel and outside
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(par, 0.0, q / np.where(p == 0, 1.0, p))
        t0 = np.where(~par & (p < 0), np.maximum(t0, t), t0)
        t1 = np.where(~par & (p > 0), np.minimum(t1, t), t1)
    return ok & (t0 <= t1)


def classify_cells_ref(
    grid: GridSpec, polyset: PolygonSet, dtype=np.float64
) -> PolyGridTables:
    """Classify every MBR-covered cell of every polygon — REFERENCE
    implementation (per-polygon loop; the readable spec). The production
    path is :func:`classify_cells` below, a batch-vectorized rewrite that
    removes the per-polygon and per-boundary-cell Python loops (65,536
    polygons: minutes -> seconds; see BENCH/poly_scaling.md); its output
    is equivalence-tested against this function. This loop form remains
    the implementation for dtype=float32 (the reference-parity precision
    mode), whose mixed float32/float64 promotion sequence the batched
    form does not reproduce bit-for-bit.

    For each polygon (vectorized over its covered cells):
      1. candidate: cell is in the MBR cover range (create-index.glsl:34-68)
      2. boundary if any polygon vertex falls in the cell rect, or any
         polygon edge crosses the cell rect     (GridIndexF.cpp:461-496)
      3. interior if not boundary and the cell center is inside (a cell
         with no vertex inside and no edge crossing is uniformly in or out)
      4. cover (raster attribution): center-inside, regardless of kind
      5. boundary inside_frac: polygon∩cell area / cell area
    """
    cover_c: list[np.ndarray] = []
    cover_p: list[np.ndarray] = []
    cls_c: list[np.ndarray] = []
    cls_p: list[np.ndarray] = []
    cls_k: list[np.ndarray] = []
    cls_f: list[np.ndarray] = []
    cls_ci: list[np.ndarray] = []
    cand_c: list[np.ndarray] = []
    cand_p: list[np.ndarray] = []

    for p in range(polyset.n_polys):
        pv = polyset.poly_verts(p).astype(dtype)
        if len(pv) < 3:
            continue
        minx, miny, maxx, maxy = polyset.mbrs[p]
        stx, sty, enx, eny = grid.mbr_cell_range(minx, miny, maxx, maxy)
        if stx >= enx or sty >= eny:
            continue
        xs = np.arange(stx, enx, dtype=np.int64)
        ys = np.arange(sty, eny, dtype=np.int64)
        gx, gy = np.meshgrid(xs, ys)  # (ny, nx)
        cells = (gx + grid.nx * gy).ravel()
        n_c = len(cells)

        cand_c.append(cells)
        cand_p.append(np.full(n_c, p, np.int64))

        # cell rects
        lbx = grid.x0 + gx.ravel().astype(np.float64) * grid.cell_w
        lby = grid.y0 + gy.ravel().astype(np.float64) * grid.cell_h
        rtx = lbx + grid.cell_w
        rty = lby + grid.cell_h

        # center-inside (cover + interior/outside disambiguation)
        ccx = lbx + 0.5 * grid.cell_w
        ccy = lby + 0.5 * grid.cell_h
        center_in = pip_mask(ccx, ccy, pv, dtype=dtype)

        cover_mask = center_in
        cover_c.append(cells[cover_mask])
        cover_p.append(np.full(int(cover_mask.sum()), p, np.int64))

        # vertex-in-rect:  (V,) x (C,) -> any vertex within each cell rect
        vx = pv[:, 0][None, :]  # (1,V)
        vy = pv[:, 1][None, :]
        vert_in = (
            (vx >= lbx[:, None])
            & (vx <= rtx[:, None])
            & (vy >= lby[:, None])
            & (vy <= rty[:, None])
        ).any(axis=1)

        # edge-vs-rect crossings: (C, V) pairs
        vj = np.roll(pv, -1, axis=0)  # edge i -> i+1 (closing edge included)
        ex0 = np.broadcast_to(pv[:, 0][None, :], (n_c, len(pv)))
        ey0 = np.broadcast_to(pv[:, 1][None, :], (n_c, len(pv)))
        ex1 = np.broadcast_to(vj[:, 0][None, :], (n_c, len(pv)))
        ey1 = np.broadcast_to(vj[:, 1][None, :], (n_c, len(pv)))
        edge_hit = _segments_intersect_rect(
            ex0, ey0, ex1, ey1,
            lbx[:, None], lby[:, None], rtx[:, None], rty[:, None],
        ).any(axis=1)

        boundary = vert_in | edge_hit
        interior = ~boundary & center_in

        frac = np.zeros(n_c, dtype=np.float64)
        b_idx = np.nonzero(boundary)[0]
        for i in b_idx:
            frac[i] = _clip_area_fraction(
                pv, lbx[i], lby[i], rtx[i], rty[i]
            )

        keep = boundary | interior
        cls_c.append(cells[keep])
        cls_p.append(np.full(int(keep.sum()), p, np.int64))
        cls_k.append(np.where(boundary[keep], BOUNDARY, INTERIOR).astype(np.int32))
        cls_f.append(np.where(boundary[keep], frac[keep], 1.0))
        cls_ci.append(center_in[keep])

    def cat(parts, dt):
        return np.concatenate(parts) if parts else np.empty(0, dt)

    return PolyGridTables(
        cover_cell=cat(cover_c, np.int64),
        cover_poly=cat(cover_p, np.int64),
        cls_cell=cat(cls_c, np.int64),
        cls_poly=cat(cls_p, np.int64),
        cls_kind=cat(cls_k, np.int32),
        cls_frac=cat(cls_f, np.float64),
        cls_center_in=cat(cls_ci, np.bool_),
        cand_cell=cat(cand_c, np.int64),
        cand_poly=cat(cand_p, np.int64),
    )


def _clip_area_fraction(
    pv: np.ndarray, lbx: float, lby: float, rtx: float, rty: float
) -> float:
    """polygon∩cell area / cell area via Sutherland–Hodgman clipping —
    the semantics of the reference's per-pixel edge clipping
    (shaders/line-bound.frag:48-187), computed exactly per cell."""
    poly = pv
    for edge in range(4):
        if len(poly) == 0:
            return 0.0
        out = []
        n = len(poly)
        for i in range(n):
            cur = poly[i]
            prv = poly[i - 1]
            if edge == 0:
                cur_in, prv_in = cur[0] >= lbx, prv[0] >= lbx
            elif edge == 1:
                cur_in, prv_in = cur[0] <= rtx, prv[0] <= rtx
            elif edge == 2:
                cur_in, prv_in = cur[1] >= lby, prv[1] >= lby
            else:
                cur_in, prv_in = cur[1] <= rty, prv[1] <= rty
            if cur_in != prv_in:
                if edge == 0:
                    t = (lbx - prv[0]) / (cur[0] - prv[0])
                elif edge == 1:
                    t = (rtx - prv[0]) / (cur[0] - prv[0])
                elif edge == 2:
                    t = (lby - prv[1]) / (cur[1] - prv[1])
                else:
                    t = (rty - prv[1]) / (cur[1] - prv[1])
                out.append(prv + t * (cur - prv))
            if cur_in:
                out.append(cur)
        poly = np.asarray(out) if out else np.empty((0, 2))
    if len(poly) < 3:
        return 0.0
    x = poly[:, 0]
    y = poly[:, 1]
    area = 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))
    cell_area = (rtx - lbx) * (rty - lby)
    return float(min(max(area / cell_area, 0.0), 1.0))


def _poly_mbrs_vec(polyset: PolygonSet) -> np.ndarray:
    """Vectorized per-polygon MBRs (the PolygonSet.mbrs property loops in
    Python — noticeable at 65k polygons)."""
    offs = polyset.offsets
    nv = np.diff(offs)
    if len(nv) == 0 or np.any(nv == 0):
        return polyset.mbrs  # degenerate layouts: use the loop form
    v = polyset.verts
    seg = offs[:-1]
    return np.stack(
        [
            np.minimum.reduceat(v[:, 0], seg),
            np.minimum.reduceat(v[:, 1], seg),
            np.maximum.reduceat(v[:, 0], seg),
            np.maximum.reduceat(v[:, 1], seg),
        ],
        axis=1,
    )


def _clip_area_fraction_batch(
    vd: np.ndarray,
    base: np.ndarray,
    nv: int,
    lbx: np.ndarray,
    lby: np.ndarray,
    rtx: np.ndarray,
    rty: np.ndarray,
) -> np.ndarray:
    """Vectorized Sutherland–Hodgman over MANY (polygon, cell-rect) pairs
    that share one vertex count ``nv``: pair i clips polygon
    vd[base[i] : base[i]+nv] against rect i. Padded representation —
    vertices live in slots 0..m_i-1 of a (C, M, 2) buffer; each of the 4
    half-plane stages appends via masked scatter. Capacity M = nv + 8
    (each stage nets <= +2 for the star-convex fixtures); the rare pair
    that would overflow (pathological concavity crossing one clip line
    >2 times) falls back to the scalar reference clip. Arithmetic is the
    same float64 expression sequence as _clip_area_fraction, so results
    agree to the last ulp except where summation order differs in the
    final shoelace fold (tolerance-tested)."""
    C = len(lbx)
    M = nv + 8
    P = np.zeros((C, M, 2), dtype=np.float64)
    idx = base[:, None] + np.arange(nv)[None, :]
    P[:, :nv, 0] = vd[idx, 0]
    P[:, :nv, 1] = vd[idx, 1]
    m = np.full(C, nv, dtype=np.int64)
    overflow = np.zeros(C, dtype=bool)
    rows = np.arange(C)

    for edge in range(4):
        if edge == 0:
            bound, axis, keep_ge = lbx, 0, True
        elif edge == 1:
            bound, axis, keep_ge = rtx, 0, False
        elif edge == 2:
            bound, axis, keep_ge = lby, 1, True
        else:
            bound, axis, keep_ge = rty, 1, False
        out = np.zeros_like(P)
        out_m = np.zeros(C, dtype=np.int64)
        mmax = int(m.max()) if C else 0
        for i in range(mmax):
            act = (i < m) & ~overflow
            if not act.any():
                continue
            prv_i = np.where(i == 0, m - 1, i - 1)
            cur = P[rows, np.minimum(i, M - 1)]
            prv = P[rows, np.minimum(prv_i, M - 1)]
            if keep_ge:
                cur_in = cur[:, axis] >= bound
                prv_in = prv[:, axis] >= bound
            else:
                cur_in = cur[:, axis] <= bound
                prv_in = prv[:, axis] <= bound
            # intersection vertex first (same order as the scalar clip)
            cross = act & (cur_in != prv_in)
            if cross.any():
                # t/ins are computed whole-array (inf/nan where cross is
                # False and the edge is degenerate) but consumed only on
                # cross rows, where the denominator is nonzero
                with np.errstate(divide="ignore", invalid="ignore"):
                    t = (bound - prv[:, axis]) / (cur[:, axis] - prv[:, axis])
                    ins = prv + t[:, None] * (cur - prv)
                pos = out_m[cross]
                ok = pos < M
                w = np.flatnonzero(cross)
                overflow[w[~ok]] = True
                w = w[ok]
                out[w, pos[ok]] = ins[w]
                out_m[w] += 1
            emit = act & cur_in
            if emit.any():
                pos = out_m[emit]
                ok = pos < M
                w = np.flatnonzero(emit)
                overflow[w[~ok]] = True
                w = w[ok]
                out[w, pos[ok]] = cur[w]
                out_m[w] += 1
        P, m = out, out_m

    # shoelace over the padded rings
    slot = np.arange(M)[None, :]
    valid = slot < m[:, None]
    nxt = slot + 1
    nxt = np.where(nxt >= m[:, None], 0, nxt)
    x = P[:, :, 0]
    y = P[:, :, 1]
    xn = np.take_along_axis(x, nxt, axis=1)
    yn = np.take_along_axis(y, nxt, axis=1)
    terms = np.where(valid, x * yn - y * xn, 0.0)
    area = 0.5 * np.abs(terms.sum(axis=1))
    cell_area = (rtx - lbx) * (rty - lby)
    frac = np.clip(area / cell_area, 0.0, 1.0)
    frac = np.where(m < 3, 0.0, frac)
    if overflow.any():
        for i in np.flatnonzero(overflow):
            pv = vd[base[i] : base[i] + nv]
            frac[i] = _clip_area_fraction(
                pv, float(lbx[i]), float(lby[i]), float(rtx[i]), float(rty[i])
            )
    return frac


def _pair_geometry(
    grid: GridSpec,
    polyset: PolygonSet,
    pair_poly: np.ndarray,
    gx: np.ndarray,
    gy: np.ndarray,
    with_frac: bool,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Geometric tests for EXPLICIT (polygon, cell) pairs on ``grid``:
    returns (center_in, vert_in, edge_hit, frac) flat arrays. This is
    the batch core of :func:`classify_cells` (which derives its pairs
    from MBR covers)."""
    offs = polyset.offsets
    nv_per = np.diff(offs)
    tot = len(pair_poly)
    lbx = grid.x0 + gx.astype(np.float64) * grid.cell_w
    lby = grid.y0 + gy.astype(np.float64) * grid.cell_h
    rtx = lbx + grid.cell_w
    rty = lby + grid.cell_h
    ccx = lbx + 0.5 * grid.cell_w
    ccy = lby + 0.5 * grid.cell_h

    vd = polyset.verts.astype(np.float64)
    base = offs[pair_poly].astype(np.int64)
    nv_pp = nv_per[pair_poly]

    center_in = np.zeros(tot, dtype=bool)
    vert_in = np.zeros(tot, dtype=bool)
    edge_hit = np.zeros(tot, dtype=bool)
    frac = np.zeros(tot, dtype=np.float64)

    CHUNK = 1 << 18
    for nv in np.unique(nv_pp):
        nv = int(nv)
        sel_all = np.flatnonzero(nv_pp == nv)
        for s0 in range(0, len(sel_all), CHUNK):
            sel = sel_all[s0 : s0 + CHUNK]
            b = base[sel]
            lx, ly, rx, ry = lbx[sel], lby[sel], rtx[sel], rty[sel]
            cx, cy = ccx[sel], ccy[sel]
            # center PIP (same per-edge expression as pip_mask)
            c = np.zeros(len(sel), dtype=bool)
            vin = np.zeros(len(sel), dtype=bool)
            ehit = np.zeros(len(sel), dtype=bool)
            j = nv - 1
            for i in range(nv):
                vix, viy = vd[b + i, 0], vd[b + i, 1]
                vjx, vjy = vd[b + j, 0], vd[b + j, 1]
                j = i
                straddle = (viy > cy) != (vjy > cy)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xcross = (vjx - vix) * (cy - viy) / (vjy - viy) + vix
                c ^= straddle & (cx < xcross)
                vin |= (vix >= lx) & (vix <= rx) & (viy >= ly) & (viy <= ry)
                i2 = 0 if i == nv - 1 else i + 1
                ehit |= _segments_intersect_rect(
                    vix, viy, vd[b + i2, 0], vd[b + i2, 1], lx, ly, rx, ry
                )
            center_in[sel] = c
            vert_in[sel] = vin
            edge_hit[sel] = ehit
            if with_frac:
                bmask = vin | ehit
                bs = sel[bmask]
                if len(bs):
                    frac[bs] = _clip_area_fraction_batch(
                        vd, base[bs], nv, lbx[bs], lby[bs], rtx[bs], rty[bs]
                    )
    return center_in, vert_in, edge_hit, frac


def classify_cells(
    grid: GridSpec, polyset: PolygonSet, dtype=np.float64, with_frac: bool = True
) -> PolyGridTables:
    """Batch-vectorized cell classification — same semantics as
    :func:`classify_cells_ref` (the readable per-polygon spec; see its
    docstring for the rules), restructured for LARGE polygon collections:
    all (polygon, covered-cell) pairs are materialized as flat arrays and
    every geometric test (center PIP, vertex-in-rect, Liang–Barsky edge
    crossing, Sutherland–Hodgman area fraction) runs as a handful of
    whole-array passes per distinct vertex count, instead of per-polygon
    (and per-boundary-cell) Python iterations. 65,536 polygons x
    FINE_GRID classify in seconds (BENCH/poly_scaling.md); equivalence
    vs the reference form is test-enforced (tests/test_geometry.py).

    ``with_frac=False`` skips the Sutherland–Hodgman area-fraction stage
    (the dominant classify cost) and leaves cls_frac at 0 for boundary
    cells. Only the error-bounds join consumes fractions, so the
    interior/boundary tables the hybrid paths need — in particular the
    k-refined internal classification grids, whose pair counts grow ~k^2
    — build several-fold faster this way.

    dtype=float32 (the reference-precision parity mode) delegates to the
    loop form, whose exact float32/float64 promotion sequence this
    rewrite intentionally does not replicate.
    """
    if np.dtype(dtype) != np.float64:
        return classify_cells_ref(grid, polyset, dtype=dtype)
    nP = polyset.n_polys
    empty = PolyGridTables(
        *(np.empty(0, dt) for dt in (np.int64,) * 2),
        cls_cell=np.empty(0, np.int64),
        cls_poly=np.empty(0, np.int64),
        cls_kind=np.empty(0, np.int32),
        cls_frac=np.empty(0, np.float64),
        cls_center_in=np.empty(0, np.bool_),
        cand_cell=np.empty(0, np.int64),
        cand_poly=np.empty(0, np.int64),
    )
    if nP == 0:
        return empty
    offs = polyset.offsets
    nv_per = np.diff(offs)
    mbrs = _poly_mbrs_vec(polyset)
    # cover ranges per polygon (grid.mbr_cell_range, vectorized)
    stx = np.maximum(np.floor((mbrs[:, 0] - grid.x0) / grid.cell_w), 0).astype(np.int64)
    sty = np.maximum(np.floor((mbrs[:, 1] - grid.y0) / grid.cell_h), 0).astype(np.int64)
    enx = np.minimum(
        np.floor((mbrs[:, 2] - grid.x0) / grid.cell_w) + 1, grid.nx
    ).astype(np.int64)
    eny = np.minimum(
        np.floor((mbrs[:, 3] - grid.y0) / grid.cell_h) + 1, grid.ny
    ).astype(np.int64)
    valid = (nv_per >= 3) & (stx < enx) & (sty < eny)
    pids = np.flatnonzero(valid)
    if len(pids) == 0:
        return empty
    wx = enx[pids] - stx[pids]
    cnt = wx * (eny[pids] - sty[pids])
    tot = int(cnt.sum())
    pair_poly = np.repeat(pids, cnt)
    excl = np.cumsum(cnt) - cnt
    t_loc = np.arange(tot, dtype=np.int64) - np.repeat(excl, cnt)
    wx_pp = np.repeat(wx, cnt)
    gx = stx[pair_poly] + t_loc % wx_pp
    gy = sty[pair_poly] + t_loc // wx_pp
    cells = gx + grid.nx * gy
    center_in, vert_in, edge_hit, frac = _pair_geometry(
        grid, polyset, pair_poly, gx, gy, with_frac
    )

    boundary = vert_in | edge_hit
    interior = ~boundary & center_in
    keep = boundary | interior
    return PolyGridTables(
        cover_cell=cells[center_in],
        cover_poly=pair_poly[center_in],
        cls_cell=cells[keep],
        cls_poly=pair_poly[keep],
        cls_kind=np.where(boundary[keep], BOUNDARY, INTERIOR).astype(np.int32),
        cls_frac=np.where(boundary[keep], frac[keep], 1.0),
        cls_center_in=center_in[keep],
        cand_cell=cells,
        cand_poly=pair_poly,
    )


class PolyGridCache:
    """Memoize classification per (collection content, grid) — the
    reference rebuilds per query (GLFunction.cpp:65-156); we build once.
    Keys use :attr:`PolygonSet.cache_token` (a geometry fingerprint),
    never the collection name: same-named, differently-shaped sets must
    not serve each other stale tables."""

    # refined-grid entries can reach ~REFINE_COVER_BUDGET pairs
    # (~hundreds of MB); bound the cache like _PAIRS_CACHE/_BC_CACHE so
    # a long session sweeping collections/grids can't grow without limit
    MAX_ENTRIES = 12

    def __init__(self) -> None:
        self._cache: dict[tuple, PolyGridTables] = {}

    def get(
        self,
        grid: GridSpec,
        polyset: PolygonSet,
        dtype=np.float64,
        with_frac: bool = True,
    ) -> PolyGridTables:
        key = (polyset.cache_token, grid, np.dtype(dtype).char, True)
        if key in self._cache:
            return self._cache[key]  # full tables serve light requests too
        if not with_frac:
            lkey = (polyset.cache_token, grid, np.dtype(dtype).char, False)
            if lkey not in self._cache:
                if len(self._cache) >= self.MAX_ENTRIES:
                    self._cache.clear()
                self._cache[lkey] = classify_cells(
                    grid, polyset, dtype=dtype, with_frac=False
                )
            return self._cache[lkey]
        if len(self._cache) >= self.MAX_ENTRIES:
            self._cache.clear()
        self._cache[key] = classify_cells(grid, polyset, dtype=dtype)
        return self._cache[key]


POLY_GRID_CACHE = PolyGridCache()
