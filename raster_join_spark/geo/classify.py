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
  any vertex in rect or any edge crossing the rect -> boundary; else
  the center decides), plus, on request, the polygon∩cell area
  fraction of boundary cells (Sutherland–Hodgman clip; the reference's
  per-pixel Cohen–Sutherland fraction, shaders/line-bound.frag:27-187).
- **candidate lists** (index join J2): MBR-cover cell -> candidate poly
  ids, a superset exactly like the GPU linked-list grid
  (shaders/create-index.glsl:34-81); PIP filters the slack.

:func:`classify_cells` builds all three from the polygon OUTLINES, as
the reference draws boundary pixels (HybridJoin::drawOutline,
HybridJoin.cpp:197-268) and fills interiors separately
(polygon-inside.frag:15-57): boundary cells are the cells each edge
crosses, center-inside comes from one scanline per (edge, cell row).
:func:`classify_cells_ref` is the per-polygon spec it is tested against
and the float32 path.

Computed ONCE per (polygon collection, grid) with vectorized numpy and
cached in :data:`POLY_GRID_CACHE` — the reference rebuilds its polygon
index every query (GLFunction.cpp:65-156); we memoize because polygon
sets are static dimension data. Area fractions are built only when
asked (error_bounds is their one consumer).

Scale note: the tables are O(covered cells), a few MB for 256-1024² grids
with hundreds of polygons — safely below Spark's broadcast threshold even
for the 65,536-polygon sweep.
"""

from __future__ import annotations

import dataclasses
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
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            t = np.where(par, 0.0, q / np.where(p == 0, 1.0, p))
        t0 = np.where(~par & (p < 0), np.maximum(t0, t), t0)
        t1 = np.where(~par & (p > 0), np.minimum(t1, t), t1)
    return ok & (t0 <= t1)


def classify_cells_ref(
    grid: GridSpec, polyset: PolygonSet, dtype=np.float64
) -> PolyGridTables:
    """Classify every MBR-covered cell of every polygon — REFERENCE
    implementation (per-polygon loop; the readable spec). The production
    path is :func:`classify_cells` below, a batch rewrite driven by the
    polygon outlines with no per-polygon or per-cell Python loops
    (65,536 polygons: minutes -> seconds); its output is
    equivalence-tested against this function. This loop form remains
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
                with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
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


# elements per vectorized step of the outline passes: bounds the
# temporaries of one step (~15 float64 arrays of this length)
_CHUNK = 1 << 14


def _boundary_fractions(
    grid: GridSpec, polyset: PolygonSet, cells: np.ndarray, polys: np.ndarray
) -> np.ndarray:
    """polygon∩cell area fraction of each (cell, polygon) pair by the
    batched Sutherland–Hodgman clip, grouped by vertex count and run in
    chunks of ``_CHUNK`` pairs."""
    frac = np.zeros(len(cells), dtype=np.float64)
    if len(cells) == 0:
        return frac
    vd = polyset.verts.astype(np.float64)
    offs = polyset.offsets
    nv_pp = np.diff(offs)[polys]
    gx = cells % grid.nx
    gy = cells // grid.nx
    for nv in np.unique(nv_pp):
        sel_all = np.flatnonzero(nv_pp == nv)
        for s0 in range(0, len(sel_all), _CHUNK):
            sel = sel_all[s0 : s0 + _CHUNK]
            lbx = grid.x0 + gx[sel].astype(np.float64) * grid.cell_w
            lby = grid.y0 + gy[sel].astype(np.float64) * grid.cell_h
            frac[sel] = _clip_area_fraction_batch(
                vd, offs[polys[sel]].astype(np.int64), int(nv),
                lbx, lby, lbx + grid.cell_w, lby + grid.cell_h,
            )
    return frac


def _expand(counts: np.ndarray, limit: int):
    """Walk the flat expansion of ``counts`` (item i repeated counts[i]
    times) in slices of at most ``limit`` elements, yielding (item,
    offset-within-item) arrays. A slice may end inside an item, so one
    item with a huge count is split over several slices."""
    ends = np.cumsum(counts)
    total = int(ends[-1]) if len(ends) else 0
    for s in range(0, total, limit):
        k = np.arange(s, min(s + limit, total), dtype=np.int64)
        item = np.searchsorted(ends, k, side="right")
        yield item, k - (ends[item] - counts[item])


def _outline_masks(
    grid: GridSpec,
    polyset: PolygonSet,
    pids: np.ndarray,
    stx: np.ndarray,
    sty: np.ndarray,
    enx: np.ndarray,
    eny: np.ndarray,
    pair_base: np.ndarray,
    tot: int,
) -> tuple[np.ndarray, np.ndarray]:
    """(boundary, center_in) masks over the pair enumeration of
    :func:`classify_cells`, computed from the polygons' outlines.

    Polygon ``pids[q]`` owns pairs ``pair_base[q] + (gy - sty[q]) * wx +
    (gx - stx[q])`` over its MBR cell range. Every edge (v[i], v[i+1])
    visits the cell rows its y-extent reaches (widened by a rounding
    slack). Per (edge, row) it does two things:

    - boundary: clip the edge to the row's band, take that x-interval of
      cells widened by one cell on each side, and run the exact
      Liang–Barsky test on those candidates only. A vertex inside a
      closed cell rect is an endpoint of an edge that hits the rect, so
      the edge hits alone decide the boundary mask.
    - center_in: the row's cell centers share one y, so the pip_mask
      straddle test and ``xcross`` (same expression, ``(vi, vj) =
      (v[i+1], v[i])`` as pip_mask pairs them) run once per (edge, row).
      A crossing flips every cell of the row whose center lies left of
      it (``cx < xcross``): a prefix of the row, found exactly by
      comparing the cell centers with the classify expression. Each
      flip is a +1 at the row start and at the prefix end; a cumulative
      count over the enumeration then gives every cell's crossing
      parity."""
    boundary = np.zeros(tot, dtype=bool)
    center_in = np.zeros(tot, dtype=bool)
    offs = polyset.offsets
    vd = polyset.verts.astype(np.float64)
    x0, y0, w, h = grid.x0, grid.y0, grid.cell_w, grid.cell_h
    # rounding slack, in coordinate units: the exact tests run on
    # rects rebuilt as x0 + g * w, so candidate rows must reach a row
    # whose edge sits within rounding of the outline's y-extent
    mag = max(
        abs(x0), abs(y0), abs(x0 + grid.nx * w), abs(y0 + grid.ny * h),
        float(np.abs(vd).max()) if len(vd) else 0.0,
    )
    slack = 128.0 * np.finfo(np.float64).eps * mag
    tol = 1e-9 + slack / h
    wx = enx - stx
    nv_all = np.diff(offs)[pids]
    # polygons in groups of about _CHUNK edges; a group's pairs are one
    # contiguous range of the enumeration
    ends = np.cumsum(nv_all)
    cuts = np.searchsorted(ends, np.arange(_CHUNK, int(ends[-1]), _CHUNK), side="right")
    for qa, qb in zip(np.r_[0, cuts], np.r_[cuts, len(pids)]):
        if qa == qb:
            continue
        nv = nv_all[qa:qb]
        e_q = qa + np.repeat(np.arange(qb - qa), nv)  # edge -> polygon slot
        e_loc = np.arange(int(nv.sum()), dtype=np.int64) - np.repeat(np.cumsum(nv) - nv, nv)
        i0 = offs[pids[e_q]] + e_loc
        i1 = i0 + np.where(e_loc + 1 == nv_all[e_q], 1 - nv_all[e_q], 1)
        ex0, ey0, ex1, ey1 = vd[i0, 0], vd[i0, 1], vd[i1, 0], vd[i1, 1]
        del e_loc, i0, i1
        ymin, ymax = np.minimum(ey0, ey1), np.maximum(ey0, ey1)
        r0 = np.clip(np.floor((ymin - y0) / h - tol), sty[e_q], eny[e_q]).astype(np.int64)
        r1 = np.clip(np.floor((ymax - y0) / h + tol), sty[e_q] - 1, eny[e_q] - 1)
        n_r = np.maximum(r1.astype(np.int64) - r0 + 1, 0)
        del r1
        p_lo = int(pair_base[qa])
        p_hi = int(pair_base[qb - 1] + wx[qb - 1] * (eny[qb - 1] - sty[qb - 1]))
        flips: list[np.ndarray] = []

        for e, roff in _expand(n_r, _CHUNK):
            q = e_q[e]
            r = r0[e] + roff
            row_pos = pair_base[q] + (r - sty[q]) * wx[q]
            lby = y0 + r.astype(np.float64) * h
            rty = lby + h

            # center_in: one straddle test and xcross per (edge, row)
            cy = lby + 0.5 * h
            vix, viy, vjx, vjy = ex1[e], ey1[e], ex0[e], ey0[e]
            st = np.flatnonzero((viy > cy) != (vjy > cy))
            if len(st):
                vix, viy, vjx, vjy = vix[st], viy[st], vjx[st], vjy[st]
                xcross = (vjx - vix) * (cy[st] - viy) / (vjy - viy) + vix
                lo, hi = stx[q[st]], enx[q[st]]
                # first column whose center is not left of the crossing
                with np.errstate(invalid="ignore"):
                    est = np.floor((xcross - x0) / w - 0.5) + 1
                cut = np.clip(np.nan_to_num(est, nan=0.0), lo, hi).astype(np.int64)
                while True:
                    dec = (cut > lo) & ~(x0 + (cut - 1).astype(np.float64) * w + 0.5 * w < xcross)
                    inc = (cut < hi) & (x0 + cut.astype(np.float64) * w + 0.5 * w < xcross)
                    if not (dec.any() or inc.any()):
                        break
                    cut = cut - dec + inc
                flips.append(row_pos[st] - p_lo)
                flips.append(row_pos[st] + (cut - lo) - p_lo)

            # boundary: the edge's x-interval inside the row's band
            ya = np.clip(lby - slack, ymin[e], ymax[e])
            yb = np.clip(rty + slack, ymin[e], ymax[e])
            dx, dy = ex1[e] - ex0[e], ey1[e] - ey0[e]
            flat = dy == 0
            # edge parameters of the band's clamped y, clipped to [0, 1]:
            # a near-horizontal edge may overflow its slope, never t
            with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
                ta = np.clip((ya - ey0[e]) / dy, 0.0, 1.0)
                tb = np.clip((yb - ey0[e]) / dy, 0.0, 1.0)
            xa = np.where(flat, ex0[e], ex0[e] + ta * dx)
            xb = np.where(flat, ex1[e], ex0[e] + tb * dx)
            c0 = np.floor((np.minimum(xa, xb) - x0) / w) - 1
            c1 = np.floor((np.maximum(xa, xb) - x0) / w) + 1
            c0 = np.clip(c0, stx[q], enx[q]).astype(np.int64)
            c1 = np.clip(c1, stx[q] - 1, enx[q] - 1).astype(np.int64)
            n_c = np.maximum(c1 - c0 + 1, 0)
            for j, coff in _expand(n_c, _CHUNK):
                ej = e[j]
                c = c0[j] + coff
                lbx = x0 + c.astype(np.float64) * w
                hit = _segments_intersect_rect(
                    ex0[ej], ey0[ej], ex1[ej], ey1[ej], lbx, lby[j], lbx + w, rty[j]
                )
                boundary[(row_pos[j] + (c - stx[q[j]]))[hit]] = True

        if flips:
            cnt = np.bincount(np.concatenate(flips), minlength=p_hi - p_lo + 1)
            np.cumsum(cnt, out=cnt)
            np.bitwise_and(cnt, 1, out=cnt)
            center_in[p_lo:p_hi] = cnt[: p_hi - p_lo]
    return boundary, center_in


def classify_cells(
    grid: GridSpec, polyset: PolygonSet, dtype=np.float64, with_frac: bool = True
) -> PolyGridTables:
    """Batch cell classification — same semantics as
    :func:`classify_cells_ref` (the readable per-polygon spec; see its
    docstring for the rules), built from the polygons' outlines as the
    reference builds its boundary pixels (HybridJoin::drawOutline,
    HybridJoin.cpp:197-268) and fills interiors per row
    (polygon-inside.frag:15-57), so the cost grows with outline length
    plus covered area rather than with covered cells x vertices:

    - the (polygon, MBR cell) pairs are enumerated as flat arrays
      (polygon order, row-major inside each MBR range); this order is
      the order of every output array;
    - boundary cells are the cells each edge crosses, found row by row
      and confirmed with the exact Liang–Barsky test;
    - center-inside comes from one scanline per (edge, cell row) and a
      cumulative crossing count (:func:`_outline_masks`).

    Equivalence with the reference form is test-enforced
    (tests/test_geometry.py, including a Hypothesis property test).

    ``with_frac=False`` skips the Sutherland–Hodgman area-fraction stage
    and leaves cls_frac at 0 for boundary cells. Only the error-bounds
    join consumes fractions; everything else asks for the light tables
    (:class:`PolyGridCache` defaults to them).

    dtype=float32 (the reference-precision parity mode) delegates to the
    loop form, whose exact float32/float64 promotion sequence this
    rewrite intentionally does not replicate.
    """
    if np.dtype(dtype) != np.float64:
        return classify_cells_ref(grid, polyset, dtype=dtype)
    empty = PolyGridTables(
        cover_cell=np.empty(0, np.int64),
        cover_poly=np.empty(0, np.int64),
        cls_cell=np.empty(0, np.int64),
        cls_poly=np.empty(0, np.int64),
        cls_kind=np.empty(0, np.int32),
        cls_frac=np.empty(0, np.float64),
        cls_center_in=np.empty(0, np.bool_),
        cand_cell=np.empty(0, np.int64),
        cand_poly=np.empty(0, np.int64),
    )
    if polyset.n_polys == 0:
        return empty
    # polygons with < 3 vertices are skipped (a zero-vertex one has the
    # empty MBR, which must not reach the integer casts below)
    pids = np.flatnonzero(np.diff(polyset.offsets) >= 3)
    mbrs = polyset.mbrs[pids]
    # cover ranges per polygon (grid.mbr_cell_range, vectorized)
    stx = np.maximum(np.floor((mbrs[:, 0] - grid.x0) / grid.cell_w), 0).astype(np.int64)
    sty = np.maximum(np.floor((mbrs[:, 1] - grid.y0) / grid.cell_h), 0).astype(np.int64)
    enx = np.minimum(
        np.floor((mbrs[:, 2] - grid.x0) / grid.cell_w) + 1, grid.nx
    ).astype(np.int64)
    eny = np.minimum(
        np.floor((mbrs[:, 3] - grid.y0) / grid.cell_h) + 1, grid.ny
    ).astype(np.int64)
    valid = (stx < enx) & (sty < eny)
    pids = pids[valid]
    if len(pids) == 0:
        return empty
    stx, sty, enx, eny = stx[valid], sty[valid], enx[valid], eny[valid]
    wx = enx - stx
    cnt = wx * (eny - sty)
    tot = int(cnt.sum())
    pair_poly = np.repeat(pids, cnt)
    excl = np.cumsum(cnt) - cnt
    t_loc = np.arange(tot, dtype=np.int64) - np.repeat(excl, cnt)
    wx_pp = np.repeat(wx, cnt)
    cells = (np.repeat(stx, cnt) + t_loc % wx_pp) + grid.nx * (
        np.repeat(sty, cnt) + t_loc // wx_pp
    )
    del t_loc, wx_pp
    boundary, center_in = _outline_masks(
        grid, polyset, pids, stx, sty, enx, eny, excl, tot
    )

    keep = boundary | center_in
    cls_cell, cls_poly = cells[keep], pair_poly[keep]
    b_keep = boundary[keep]
    cls_frac = np.ones(len(cls_cell), dtype=np.float64)
    cls_frac[b_keep] = (
        _boundary_fractions(grid, polyset, cls_cell[b_keep], cls_poly[b_keep])
        if with_frac
        else 0.0
    )
    return PolyGridTables(
        cover_cell=cells[center_in],
        cover_poly=pair_poly[center_in],
        cls_cell=cls_cell,
        cls_poly=cls_poly,
        cls_kind=np.where(b_keep, BOUNDARY, INTERIOR).astype(np.int32),
        cls_frac=cls_frac,
        cls_center_in=center_in[keep],
        cand_cell=cells,
        cand_poly=pair_poly,
    )


class PolyGridCache:
    """Memoize classification per (collection content, grid, dtype) —
    the reference rebuilds per query (GLFunction.cpp:65-156); we build
    once. Keys use :attr:`PolygonSet.cache_token` (a geometry
    fingerprint), never the collection name: same-named, differently-
    shaped sets must not serve each other stale tables.

    ``get`` returns the light tables (no area fractions) unless asked
    ``with_frac=True``. Each key holds one entry: asking for fractions
    on a light entry adds them to it (the classification is reused, only
    the Sutherland–Hodgman stage runs) and replaces it, and tables with
    fractions serve light requests too."""

    # refined-grid entries can reach ~REFINE_COVER_BUDGET pairs
    # (~hundreds of MB); bound the cache (cleared wholesale) so a long
    # session sweeping collections/grids can't grow without limit
    MAX_ENTRIES = 12

    def __init__(self) -> None:
        # key -> (tables, has fractions)
        self._cache: dict[tuple, tuple[PolyGridTables, bool]] = {}

    def get(
        self,
        grid: GridSpec,
        polyset: PolygonSet,
        dtype=np.float64,
        with_frac: bool = False,
    ) -> PolyGridTables:
        key = (polyset.cache_token, grid, np.dtype(dtype).char)
        hit = self._cache.get(key)
        if hit is not None and (hit[1] or not with_frac):
            return hit[0]
        if hit is not None:
            t = hit[0]
            b = t.cls_kind == BOUNDARY
            frac = t.cls_frac.copy()
            frac[b] = _boundary_fractions(grid, polyset, t.cls_cell[b], t.cls_poly[b])
            t = dataclasses.replace(t, cls_frac=frac)
        else:
            if len(self._cache) >= self.MAX_ENTRIES:
                self._cache.clear()
            t = classify_cells(grid, polyset, dtype=dtype, with_frac=with_frac)
        # the float32 form is the reference loop, which always clips
        self._cache[key] = (t, with_frac or np.dtype(dtype) != np.float64)
        return t


POLY_GRID_CACHE = PolyGridCache()
