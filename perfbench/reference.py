"""Seeded inputs and brute-force references for the benchmark.

The page table is synthesized here (the schema of the ``events`` table
``sources.pages`` reads, 30 days of microsecond timestamps) so a run
reads nothing outside its checkout.

The references below share no code with ``raster_join_spark``: they
derive the points from the events columns and every answer from the
points with plain numpy. All coordinates are integer microdegrees and
every polygon vertex is an integer (or integer + 0.5), so the crossing
test below makes the same IEEE decisions as the engine and equality is
exact.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400 * 10**6
T0_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
N_DAYS = 30
LANGS = ("click", "view", "purchase", "signup", "error")


def write_events(path: str, n_docs: int, seed: int) -> dict[str, np.ndarray]:
    """Write ``path``/events.parquet in event_id order as one file with
    one row group, the layout of the engine's own input tables (so a scan
    of it is a single task); returns the columns the pages derive from,
    indexed by event_id (timestamps as microseconds, sorted)."""
    rng = np.random.default_rng([seed, 0, n_docs])
    cols = {
        "event_id": np.arange(n_docs, dtype=np.int64),
        "ts_us": np.sort(rng.integers(T0_US, T0_US + N_DAYS * DAY_US, n_docs)),
        "event_type": np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n_docs)],
        "value": np.round(rng.exponential(50.0, n_docs), 2),
    }
    table = pa.table(
        {
            "event_id": pa.array(cols["event_id"]),
            "ts": pa.array(cols["ts_us"], type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n_docs)),
            "event_type": pa.array(cols["event_type"], type=pa.string()),
            "value": pa.array(cols["value"]),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_docs)]),
        }
    )
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "events.parquet"), row_group_size=n_docs)
    return cols


def day_bounds(d0: int, d1: int) -> tuple[str, str]:
    """Inclusive timestamp literals covering days d0..d1 (0-based)."""
    a = np.datetime64("2024-01-01", "D") + d0
    b = np.datetime64("2024-01-01", "D") + d1
    return f"{a} 00:00:00", f"{b} 23:59:59.999999"


class Points:
    """The pages' points, derived from the events columns with the page
    synthesis's integer arithmetic (30% in a hot box, the rest over the
    US box; integer microdegrees), x-sorted for MBR probes."""

    def __init__(self, events: dict[str, np.ndarray]) -> None:
        eid = events["event_id"]
        hot = eid % 10 < 3
        x = np.where(hot, -74_200_000 + (eid * 54_321) % 400_000, -124_500_000 + (eid * 16_807) % 57_000_000)
        y = np.where(hot, 40_500_000 + (eid * 12_345) % 400_000, 24_500_000 + (eid * 48_271) % 24_000_000)
        order = np.argsort(x, kind="stable")
        self.event_id = eid[order]
        self.x = x[order].astype(np.float64)
        self.y = y[order].astype(np.float64)
        self.ts_us = events["ts_us"][order]
        self.lang = events["event_type"][order]
        self.value_c = np.floor(events["value"] * 100).astype(np.int64)[order]

    def __len__(self) -> int:
        return len(self.x)

    def mask(self, d0: int | None = None, d1: int | None = None, constraints=()) -> np.ndarray:
        """Rows inside the day window and every (attr, op, value) constraint."""
        m = np.ones(len(self), dtype=bool)
        if d0 is not None:
            m &= (self.ts_us >= T0_US + d0 * DAY_US) & (self.ts_us < T0_US + (d1 + 1) * DAY_US)
        for attr, op, value in constraints:
            col = getattr(self, attr)
            m &= {"EQ": col == value, "GT": col > value, "LT": col < value}[op]
        return m


def crossing_inside(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd crossing test over one flat vertex run (wrap-around edge
    included), in the reference's arithmetic order."""
    inside = np.zeros(len(px), dtype=bool)
    vx, vy = ring[:, 0], ring[:, 1]
    for i in range(len(ring)):
        j = i - 1
        straddle = (vy[i] > py) != (vy[j] > py)
        if not straddle.any():
            continue
        xs = (vx[j] - vx[i]) * (py[straddle] - vy[i]) / (vy[j] - vy[i]) + vx[i]
        inside[straddle] ^= px[straddle] < xs
    return inside


def members(xs: np.ndarray, ys: np.ndarray, rings: list[np.ndarray]):
    """Yield (polygon index, indices of the x-sorted points inside it).

    A point outside a polygon's bounding box is never inside it: with
    integer coordinates it is at least half a unit away from every
    vertex, far beyond the crossing arithmetic's rounding."""
    for p, ring in enumerate(rings):
        lo = np.searchsorted(xs, ring[:, 0].min(), side="left")
        hi = np.searchsorted(xs, ring[:, 0].max(), side="right")
        sel = lo + np.flatnonzero((ys[lo:hi] >= ring[:, 1].min()) & (ys[lo:hi] <= ring[:, 1].max()))
        if len(sel):
            yield p, sel[crossing_inside(xs[sel], ys[sel], ring)]


def rings_of(polyset) -> list[np.ndarray]:
    return [polyset.poly_verts(p) for p in range(polyset.n_polys)]


def exact_agg(pts: Points, m: np.ndarray, rings, agg: str) -> list:
    """Per-polygon COUNT / SUM / AVG of value_c over masked points inside."""
    out: list = [0 if agg == "count" else None] * len(rings)
    for p, idx in members(pts.x, pts.y, rings):
        idx = idx[m[idx]]
        if agg == "count":
            out[p] = len(idx)
        elif len(idx):
            s = int(pts.value_c[idx].sum())
            out[p] = s if agg == "sum" else float(s) / len(idx)
    return out


def raster_agg(pts: Points, m: np.ndarray, rings, grid, agg: str) -> list:
    """Per-polygon aggregate over whole cells whose center is inside."""
    xp = np.floor((pts.x - grid.x0) / grid.cell_w).astype(np.int64)
    yp = np.floor((pts.y - grid.y0) / grid.cell_h).astype(np.int64)
    ok = m & (xp >= 0) & (xp < grid.nx) & (yp >= 0) & (yp < grid.ny)
    cell = xp[ok] + grid.nx * yp[ok]
    cells, inv = np.unique(cell, return_inverse=True)
    cnt = np.bincount(inv, minlength=len(cells))
    tot = np.bincount(inv, weights=pts.value_c[ok].astype(np.float64), minlength=len(cells))
    cx = grid.x0 + (cells % grid.nx + 0.5) * grid.cell_w
    cy = grid.y0 + (cells // grid.nx + 0.5) * grid.cell_h
    order = np.argsort(cx, kind="stable")
    out: list = [0 if agg == "count" else None] * len(rings)
    for p, idx in members(cx[order], cy[order], rings):
        idx = order[idx]
        c = int(cnt[idx].sum())
        if agg == "count":
            out[p] = c
        elif c:
            s = int(tot[idx].sum())
            out[p] = s if agg == "sum" else float(s) / c
    return out


DIGEST_MOD = 1_000_000_007


def pair_digest(event_ids: np.ndarray, poly_ids: np.ndarray, n_polys: int) -> tuple[int, int, int]:
    """(rows, sum k, sum k*k mod p) with k = event_id * n_polys + poly_id."""
    k = event_ids.astype(np.int64) * n_polys + poly_ids.astype(np.int64)
    return len(k), int(k.sum()), int(((k * k) % DIGEST_MOD).sum())


def assign_digest(pts: Points, m: np.ndarray, rings) -> tuple[int, int, int]:
    eids, pids = [], []
    for p, idx in members(pts.x, pts.y, rings):
        idx = idx[m[idx]]
        eids.append(pts.event_id[idx])
        pids.append(np.full(len(idx), p, np.int64))
    if not eids:
        return 0, 0, 0
    return pair_digest(np.concatenate(eids), np.concatenate(pids), len(rings))


def knn_rows(pts: Points, q_ids: np.ndarray, k: int) -> dict:
    """q_id -> [(event_id, dist2)] for ranks 1..k, ordered by (dist2, id)."""
    by_id = np.argsort(pts.event_id)
    out = {}
    for q in q_ids:
        i = by_id[np.searchsorted(pts.event_id, q, sorter=by_id)]
        d2 = (pts.x - pts.x[i]) ** 2 + (pts.y - pts.y[i]) ** 2
        top = np.lexsort((pts.event_id, d2))[:k]
        out[int(q)] = [(int(pts.event_id[t]), float(d2[t])) for t in top]
    return out
