"""Uniform grid over a planar bounding box: cell ids, centers, rings.

Reimplements the reference's grid math:
- point -> cell id, row-major ``cell = xp + nx*yp``, out-of-range discarded
  (RasterJoin/shaders/index.glsl:229-233; CPUJoin/GridIndexF.cpp:158-175)
- epsilon -> canvas resolution: cellSize = (eps/sqrt(2))/groundRes, canvas =
  ceil(bbox/cellSize) (RasterJoin/join/GLFunction.cpp:26-30)
- cell-ring enumeration for radius/kNN probes (GridIndexF.cpp:177-198)

Cell assignment is exposed both as numpy (oracle/driver) and as a pyspark
Column expression (hot path, whole-stage codegen — the floor-divide is two
native ops, no UDF). The exact same arithmetic, in the same operation
order, keeps engine and oracle bit-identical.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass(frozen=True)
class GridSpec:
    x0: float
    y0: float
    cell_w: float
    cell_h: float
    nx: int
    ny: int

    # -- constructors -------------------------------------------------

    @staticmethod
    def from_bbox(
        x0: float, y0: float, x1: float, y1: float, cell_size: float
    ) -> "GridSpec":
        """Canvas sizing per GLFunction.cpp:26-30: res = ceil(extent/cellSize)."""
        nx = int(math.ceil((x1 - x0) / cell_size))
        ny = int(math.ceil((y1 - y0) / cell_size))
        return GridSpec(x0, y0, cell_size, cell_size, max(nx, 1), max(ny, 1))

    @staticmethod
    def from_resolution(
        x0: float, y0: float, x1: float, y1: float, nx: int, ny: int
    ) -> "GridSpec":
        """Fixed-resolution grid (index join's indexRes, GLFunction.cpp:65-80)."""
        return GridSpec(x0, y0, (x1 - x0) / nx, (y1 - y0) / ny, nx, ny)

    # -- geometry ------------------------------------------------------

    @property
    def x1(self) -> float:
        return self.x0 + self.nx * self.cell_w

    @property
    def y1(self) -> float:
        return self.y0 + self.ny * self.cell_h

    @property
    def n_cells(self) -> int:
        return self.nx * self.ny

    # -- numpy kernels (driver / oracle) -------------------------------

    def cell_xy_np(self, x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Column/row indices; floor((v - origin)/cell) — may be out of range."""
        xp = np.floor((np.asarray(x, np.float64) - self.x0) / self.cell_w).astype(np.int64)
        yp = np.floor((np.asarray(y, np.float64) - self.y0) / self.cell_h).astype(np.int64)
        return xp, yp

    def cell_ids_np(self, x: np.ndarray, y: np.ndarray) -> np.ndarray:
        """Row-major cell id; -1 for out-of-range points (discarded, index.glsl:233)."""
        xp, yp = self.cell_xy_np(x, y)
        ok = (xp >= 0) & (xp < self.nx) & (yp >= 0) & (yp < self.ny)
        return np.where(ok, xp + self.nx * yp, -1)

    def cell_rect(self, cell_id: int) -> tuple[float, float, float, float]:
        """(lbx, lby, rtx, rty) of one cell."""
        xp = cell_id % self.nx
        yp = cell_id // self.nx
        lbx = self.x0 + xp * self.cell_w
        lby = self.y0 + yp * self.cell_h
        return lbx, lby, lbx + self.cell_w, lby + self.cell_h

    def cell_centers_np(self, cell_ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        cell_ids = np.asarray(cell_ids, np.int64)
        xp = cell_ids % self.nx
        yp = cell_ids // self.nx
        cx = self.x0 + (xp.astype(np.float64) + 0.5) * self.cell_w
        cy = self.y0 + (yp.astype(np.float64) + 0.5) * self.cell_h
        return cx, cy

    def refined(self, k: int) -> "GridSpec":
        """The k x k refinement of this grid: same origin and extent,
        every cell split into k x k subcells. Used by SpatialJoin's
        internal classification grid for the tiny-polygon regime — a
        finer classification grid restores the interior fast-path share
        when polygons shrink below ~2 query cells (the regime where every
        query-grid cell is a boundary cell and all points pay exact PIP;
        the reference hits the same wall sweeping --polygonDataset,
        experiments/results-paper/scalability/taxi-ooc-polygons.txt)."""
        if k <= 1:
            return self
        return GridSpec(
            self.x0, self.y0, self.cell_w / k, self.cell_h / k,
            self.nx * k, self.ny * k,
        )

    def mbr_cell_range(
        self, minx: float, miny: float, maxx: float, maxy: float
    ) -> tuple[int, int, int, int]:
        """Cells covered by an MBR: st=floor((min-lb)/cs), en=floor((max-lb)/cs)+1,
        clamped — reference GPU index cover (shaders/create-index.glsl:34-68)."""
        stx = max(int(math.floor((minx - self.x0) / self.cell_w)), 0)
        sty = max(int(math.floor((miny - self.y0) / self.cell_h)), 0)
        enx = min(int(math.floor((maxx - self.x0) / self.cell_w)) + 1, self.nx)
        eny = min(int(math.floor((maxy - self.y0) / self.cell_h)) + 1, self.ny)
        return stx, sty, enx, eny

    def ring_cells(self, xp: int, yp: int, radius: int) -> list[int]:
        """Cell ids at Chebyshev distance == radius from (xp,yp), clamped to the
        grid — the probe ring of GridIndexF.cpp:177-198 generalized to
        iterative expansion (radius 0 = the center cell itself)."""
        out = []
        if radius == 0:
            if 0 <= xp < self.nx and 0 <= yp < self.ny:
                out.append(xp + self.nx * yp)
            return out
        for dy in range(-radius, radius + 1):
            yy = yp + dy
            if yy < 0 or yy >= self.ny:
                continue
            if abs(dy) == radius:
                xs = range(xp - radius, xp + radius + 1)
            else:
                xs = (xp - radius, xp + radius)
            for xx in xs:
                if 0 <= xx < self.nx:
                    out.append(xx + self.nx * yy)
        return out

    # -- Spark column expressions (hot path) ---------------------------

    def cell_id_col(self, x: Column, y: Column) -> Column:
        """Row-major cell id as a native column expr; NULL when out of range.

        Same float64 arithmetic and operation order as cell_ids_np / the
        SQL oracle: floor((v - origin)/cell) in double, then int. Spark's
        floor(NaN) is 0, so a NaN coordinate is tested for explicitly and
        gets NULL, as cell_ids_np gives it -1.
        """
        xd, yd = x.cast("double"), y.cast("double")
        xp = F.floor((xd - F.lit(self.x0)) / F.lit(self.cell_w))
        yp = F.floor((yd - F.lit(self.y0)) / F.lit(self.cell_h))
        ok = (
            ~F.isnan(xd) & ~F.isnan(yd)
            & (xp >= 0) & (xp < F.lit(self.nx)) & (yp >= 0) & (yp < F.lit(self.ny))
        )
        return F.when(ok, xp + F.lit(self.nx) * yp).otherwise(F.lit(None))

    def cell_xy_spark_sql(self, x_expr: str, y_expr: str) -> tuple[str, str]:
        """Column/row indices as Spark SQL text: the arithmetic of
        cell_id_col, with double literals carrying Spark's ``D`` suffix
        so none parses as DECIMAL. Out-of-range values are not masked."""
        return (
            f"floor((CAST({x_expr} AS DOUBLE) - {float(self.x0)!r}D) / {float(self.cell_w)!r}D)",
            f"floor((CAST({y_expr} AS DOUBLE) - {float(self.y0)!r}D) / {float(self.cell_h)!r}D)",
        )

    def window_spark_sql(
        self, x_expr: str, y_expr: str, box: tuple[float, float, float, float]
    ) -> str:
        """Spark SQL predicate: the point's cell is one of the cells the
        MBR ``box`` covers (mbr_cell_range). The range is clamped to the
        grid, so the predicate also implies the in-grid test; a NULL or
        NaN coordinate fails it (Spark's floor(NaN) is 0, hence the
        isnan terms). Written on the grid coordinates, not on a derived
        cell id, so a filter on it carries no CASE WHEN."""
        stx, sty, enx, eny = self.mbr_cell_range(*box)
        xp, yp = self.cell_xy_spark_sql(x_expr, y_expr)
        return (
            f"NOT isnan(CAST({x_expr} AS DOUBLE)) AND NOT isnan(CAST({y_expr} AS DOUBLE)) AND "
            f"{xp} >= {stx} AND {xp} < {enx} AND {yp} >= {sty} AND {yp} < {eny}"
        )

    def cell_id_sql(self, x_expr: str, y_expr: str) -> str:
        """The identical arithmetic as ANSI SQL text (for DuckDB oracles)."""
        xp = f"CAST(floor(({x_expr} - {self.x0!r}) / {self.cell_w!r}) AS BIGINT)"
        yp = f"CAST(floor(({y_expr} - {self.y0!r}) / {self.cell_h!r}) AS BIGINT)"
        return (
            f"(CASE WHEN {xp} >= 0 AND {xp} < {self.nx} AND {yp} >= 0 AND {yp} < {self.ny} "
            f"THEN {xp} + {self.nx} * {yp} ELSE NULL END)"
        )
