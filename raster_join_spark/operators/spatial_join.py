"""The four spatial-join strategies of the reference, as Spark plans.

Reference physical operators -> our plans. Every aggregate strategy runs
the same one-pass kernel (:meth:`SpatialJoin._one_pass`) and differs only
in the driver-built broadcast artifact it hands that kernel (the
rasterized polygon-grid tables from geo/classify.py as cell -> polygon
CSR lookups, plus the flat polygon vertices):

- **index_join** (J2, RasterJoin/join/IndexJoin.cpp:52-198 + grid probe
  shaders/index.glsl:186-249): point -> cell -> MBR candidate list ->
  exact ray-cast PIP on every candidate. Accurate.
- **raster_join** (J1, RasterJoin/join/RasterJoin.cpp:91-260): point ->
  cell -> the polygons whose center-inside cover holds that cell (the
  "polygon rasterization" pass, computed once on the driver); no PIP.
  Approximate within epsilon.
- **hybrid_join** (J3, RasterJoin/join/HybridJoin.cpp:339-359,
  shaders/hybrid.glsl:224-301): interior-cell points resolve by the
  cell lookup alone (no PIP), boundary-cell points go through the exact
  PIP kernel. Accurate, faster than index_join when boundaries are thin.
- **error_bounds** (J4, RasterJoin/join/RasterJoinBounds.cpp:202-381,
  shaders/line-bound.frag:219-262): raster result plus per-polygon
  [agg-fp, agg+fn] intervals from boundary-cell accounting — both the
  whole-pixel (fp1/fn1) and the area-fraction-weighted (fp/fn) variants.

Scale design — the paper's two passes (RasterJoin.cpp:215-221, SURVEY §2):
- Spark runs the point pass: ONE mapInArrow job per call, in which each
  Arrow batch of points emits a partial per-polygon vector (<= P rows per
  batch, the reference's per-thread partial vectors, CPUJoin.cpp:93-116).
  The point side never shuffles and no join runs in Spark.
- The driver runs the polygon pass: it collects the partials with
  ``toArrow()`` (O(batches x P) rows, never O(points) or O(cells)), sums
  them in numpy and returns a small local DataFrame, so the job runs at
  call time and collecting the result launches none.
- A request's window, time bounds and constraints can ride along as
  ``where`` (operators/predicate.py): the kernel masks each batch with
  it, so the Spark plan carries no literal of the request.
- The polygon side is a broadcast artifact (a few MB), built once per
  (collection, grid, strategy) and cached across calls in ``_BC_CACHE``.
- The only Python in the plan is the kernel, Arrow-batched, vectorized
  over points x edges in numpy. ``assign_polygons`` stays a lazy
  DataFrame: it emits one row per (point, polygon).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from raster_join_spark.geo.classify import POLY_GRID_CACHE, PolyGridTables
from raster_join_spark.geo.grid import GridSpec
from raster_join_spark.geo.pip import pip_candidates
from raster_join_spark.geo.polygons import PolygonSet
from raster_join_spark.operators.predicate import INTEGRAL, RowPredicate
from raster_join_spark.session import drop_zip_finders


def sql_ident(name: str) -> str:
    """``name`` as a quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _cell_csr(cells: np.ndarray, polys: np.ndarray, n_cells: int | None = None) -> dict:
    """Sort (cell, poly) pairs by cell into a lookup. ``starts`` is
    sentinel-terminated (len(uniq)+1 entries), so per-group counts are
    ``starts[i+1] - starts[i]`` — no separate counts array. When the
    grid is small enough (< ~32M cells) a DENSE position index
    (``dense_pos[cell] -> group index, -1 empty``; one int32 per cell)
    replaces the searchsorted lookup in the hot kernel and the int64
    ``cells`` array is dropped as redundant. Everything is
    width-minimized (int32 positions/offsets/ids) — pair counts and
    poly ids are far below 2^31 in any broadcastable artifact, and at
    k-refined classification grids (millions of cells) the compact
    layout roughly halves a 200+ MB broadcast vs a naive
    (start, count)-per-cell pair of arrays plus duplicated sparse form.
    """
    order = np.argsort(cells, kind="stable")
    sc = cells[order]
    sp = polys[order]
    uniq, starts = np.unique(sc, return_index=True)
    assert len(sp) < 2**31, "pair table exceeds int32 offset space"
    if len(sp) == 0 or int(sp.max()) < 2**31:
        sp = sp.astype(np.int32, copy=False)
    starts32 = np.append(starts, len(sc)).astype(np.int32)
    out = {
        "cells": uniq,
        "starts": starts32,
        "polys": sp,
        "dense_pos": None,
    }
    if n_cells is not None and 0 < n_cells <= 32_000_000:
        pos = np.full(n_cells, -1, dtype=np.int32)
        pos[uniq] = np.arange(len(uniq), dtype=np.int32)
        out["dense_pos"] = pos
        out["cells"] = None  # redundant under the dense position index
    return out


def _csr_expand(csr: dict, cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """For each input row's cell, expand to (row_idx, poly_id) pairs for
    every polygon listed under that cell — fully vectorized, no Python
    loop over rows."""
    starts_arr = csr["starts"]
    if len(starts_arr) <= 1:  # empty table
        return np.empty(0, np.int64), np.empty(0, np.int64)
    if csr.get("dense_pos") is not None:
        dp = csr["dense_pos"]
        valid = (cells >= 0) & (cells < len(dp))
        pos = np.where(valid, dp[np.where(valid, cells, 0)], -1)
        rows0 = np.nonzero(pos >= 0)[0]
        if len(rows0) == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        p = pos[rows0].astype(np.int64)
    else:
        uniq = csr["cells"]
        idx = np.searchsorted(uniq, cells)
        idx_c = np.clip(idx, 0, len(uniq) - 1)
        hit = (uniq[idx_c] == cells) & (cells >= 0)
        rows0 = np.nonzero(hit)[0]
        if len(rows0) == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        p = idx_c[rows0].astype(np.int64)
    s = starts_arr[p].astype(np.int64)
    counts = (starts_arr[p + 1] - starts_arr[p]).astype(np.int64)
    tot = int(counts.sum())
    if tot == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    rows = np.repeat(rows0, counts)
    # within-group offsets: arange(tot) - repeat(exclusive_cumsum, counts)
    excl = np.cumsum(counts) - counts
    offs = np.arange(tot, dtype=np.int64) - np.repeat(excl, counts) + np.repeat(s, counts)
    return rows, csr["polys"][offs]


def _members(
    art: dict, cells: np.ndarray, x: np.ndarray, y: np.ndarray, dtype
) -> tuple[np.ndarray, np.ndarray]:
    """(row, poly_id) memberships of one batch: ``interior`` pairs by the
    cell lookup alone, ``boundary`` pairs only where the exact PIP kernel
    puts the point inside the polygon."""
    ri, pi = _csr_expand(art["interior"], cells)
    rb, pb = _csr_expand(art["boundary"], cells)
    if len(rb):
        m = pip_candidates(x[rb], y[rb], pb, art["verts"], art["offsets"], dtype=dtype)
        rb, pb = rb[m], pb[m]
    return np.concatenate([ri, rb]), np.concatenate([pi, pb]).astype(np.int64)


def _fold(polys: np.ndarray, vals: np.ndarray, n: int) -> np.ndarray:
    """Per-polygon sum of ``vals``. Integer values stay exact: float64
    bincount is the fast path, but its partial sums are exact integers
    only while bounded by 2^53, so large-magnitude integer batches take
    an exact int64 scatter-add instead of silently losing low bits."""
    if vals.dtype.kind == "f":
        return np.bincount(polys, weights=vals, minlength=n)
    if len(vals) and float(np.abs(vals).max()) * len(vals) >= 2.0**53:
        out = np.zeros(n, np.int64)
        np.add.at(out, polys, vals)
        return out
    return np.bincount(polys, weights=vals, minlength=n).astype(np.int64)


@dataclass(frozen=True)
class AggSpec:
    """Aggregation parity with the reference (Common.h:26 {Count, Avg, Sum},
    DataHandler.cpp:68-71). ``count`` is COUNT(*). ``sum`` and ``avg``
    fold ``col`` with SQL NULL semantics: NULL values are skipped, AVG
    divides by the non-null count, and a polygon without a non-null
    value gets NULL."""

    op: str = "count"  # count | sum | avg
    col: str | None = None
    alias: str = "agg"

    def __post_init__(self) -> None:
        if self.op not in ("count", "sum", "avg"):
            raise ValueError(f"unknown agg {self.op}")
        if self.op != "count" and not self.col:
            raise ValueError(f"{self.op} needs a column")


class SpatialJoin:
    """One polygon collection + one grid, four join strategies.

    Builds the broadcast artifacts once (driver-side numpy rasterization,
    memoized in POLY_GRID_CACHE). The aggregate strategies run their one
    Spark job when called and return the small per-polygon result as a
    local DataFrame; ``assign_polygons`` returns a lazy DataFrame.
    """

    # --- internal classification-grid refinement (tiny-polygon regime) --
    # When polygons shrink below ~2 query cells, EVERY covered cell of
    # the query grid is a boundary cell and all points pay the exact PIP
    # kernel (the reference's own --polygonDataset sweep hits this wall,
    # experiments/results-paper/scalability/taxi-ooc-polygons.txt; our
    # measured cliff: 65,536 polys -> hybrid 6.5x slower than raster,
    # BENCH/poly_scaling.md). The EXACT paths don't depend on the grid
    # semantically — any grid whose interior cells are strictly inside
    # the polygon yields identical results — so hybrid classification
    # may run on an internal k-refined grid that restores the interior
    # fast-path share. Raster/error-bounds keep the caller's grid: their
    # epsilon semantics are defined on it.
    REFINE_BFRAC_MIN = 0.4  # refine only when the base grid is boundary-bound
    REFINE_TARGET_SPAN = 8.0  # aim: median polygon spans ~8 refined cells/axis
    REFINE_MAX_K = 8
    REFINE_COVER_BUDGET = 12_000_000  # driver classify cost cap (MBR-cover pairs)

    def __init__(
        self,
        spark: SparkSession,
        polyset: PolygonSet,
        grid: GridSpec,
        x: str = "x",
        y: str = "y",
        dtype=np.float64,
        refine: int | str = "auto",
        ring_semantics: str = "reference",
    ) -> None:
        """``dtype=np.float32`` reproduces the reference's storage
        precision end-to-end (TaxiRecord.hpp:121-133 narrows coordinates
        to float32): PIP and cell classification then make the identical
        edge-case decisions as the reference binaries. Default float64
        matches the SQL oracle bit-for-bit.

        ``refine``: the internal classification-grid refinement factor
        for the interior/boundary paths (``hybrid_join``,
        ``assign_polygons``) — ``"auto"`` (default) picks
        a power-of-two factor when the polygon collection is tiny
        relative to the query grid (see the class constants), ``1``
        disables, an int forces a factor. Results are identical at any
        factor; only the physical interior/boundary split changes. The
        refined grid's tables are built from the polygon outlines (cost
        ~ edges x rows crossed plus covered pairs, geo/classify.py) and
        carry no area fractions. float32 parity mode never refines
        (classification decisions must mirror the reference's exactly).

        ``ring_semantics``: how multi-ring (hole-bearing) polygons are
        interpreted, across ALL strategies (classification, PIP, cover):
        ``"reference"`` (default) is the reference's bug-for-bug rule —
        rings flatten into one vertex run (PolyHandler.cpp:49-80
        pindexes) and the crossing parity walks that cycle, phantom
        inter-ring edges included, so hole interiors count OUTSIDE but
        thin slivers along the phantom edges misclassify vs ideal
        donuts; ``"evenodd"`` is standard OGC even-odd with rings
        honored (PolygonSet.evenodd_view — per-ring parity XOR, no
        phantom-edge slivers). Single-ring collections are identical
        under both."""
        if ring_semantics not in ("reference", "evenodd"):
            raise ValueError(
                f"ring_semantics must be 'reference' or 'evenodd', "
                f"got {ring_semantics!r}"
            )
        if ring_semantics == "evenodd":
            polyset = polyset.evenodd_view()
        self.spark = spark
        self.polyset = polyset
        self.grid = grid
        self.x = x
        self.y = y
        self.dtype = dtype
        # light tables (no area fractions; error_bounds adds them)
        self.tables: PolyGridTables = POLY_GRID_CACHE.get(grid, polyset, dtype=dtype)
        if np.dtype(dtype) != np.float64:
            self.refine_k = 1
        elif refine == "auto":
            self.refine_k = self._auto_refine_k()
        else:
            self.refine_k = max(int(refine), 1)
        self.cls_grid = grid.refined(self.refine_k)

    def _auto_refine_k(self) -> int:
        """Pick the refinement factor from driver-side geometry only (no
        data scan): refine iff the base classification is boundary-bound,
        sizing k so the median polygon spans ~REFINE_TARGET_SPAN refined
        cells per axis, halved until the MBR-cover pair count (the
        classify + broadcast cost driver) fits the budget."""
        if self.tables.boundary_fraction() < self.REFINE_BFRAC_MIN:
            return 1
        mbrs = self.polyset.mbrs
        if len(mbrs) == 0:
            return 1
        wx = np.maximum((mbrs[:, 2] - mbrs[:, 0]) / self.grid.cell_w, 1e-9)
        wy = np.maximum((mbrs[:, 3] - mbrs[:, 1]) / self.grid.cell_h, 1e-9)
        span = float(np.median(0.5 * (wx + wy)))
        if span <= 0:
            return 1
        k = int(
            2
            ** np.clip(
                np.round(np.log2(self.REFINE_TARGET_SPAN / span)),
                0,
                int(np.log2(self.REFINE_MAX_K)),
            )
        )
        while k > 1:
            cover = float(((np.floor(wx * k) + 2) * (np.floor(wy * k) + 2)).sum())
            if cover <= self.REFINE_COVER_BUDGET:
                break
            k //= 2
        return k

    @property
    def cls_tables(self) -> PolyGridTables:
        """Interior/boundary tables on the internal classification grid
        (== the query-grid tables when refine_k == 1). Like ``tables``
        they carry no area fractions: only error_bounds reads fractions,
        and it asks for them on the query grid."""
        if self.refine_k == 1:
            return self.tables
        return POLY_GRID_CACHE.get(self.cls_grid, self.polyset, dtype=self.dtype)

    # ------------------------------------------------------------ helpers

    # session-level cache of the kernel's broadcast artifact: at 65k
    # polygons with a k=4 refined grid the CSR artifact is ~108 MB and
    # sc.broadcast() pays ~2.7s of driver pickling PER CALL — but the
    # artifact is immutable per (collection content, grid, dtype,
    # refine, strategy), so one broadcast serves every query, like the
    # reference's persistent GPU polygon textures (GLFunction.cpp:158-197).
    # Eviction is LRU (hits reinsert at the back; the front entry is the
    # coldest) and evicted broadcasts are unpersist(blocking=False)'d —
    # executors drop the blocks, but an in-flight lazy plan that still
    # holds the handle simply re-fetches from the driver (only destroy()
    # would break it), so the hottest artifacts are never force-rebroadcast.
    _BC_CACHE: dict[tuple, object] = {}
    _BC_CACHE_MAX = 16

    def _bc_art(self, kind: str):
        """The per-executor artifact of strategy ``kind`` (see
        :meth:`_bc_art_dict`), broadcast once per (session, collection
        content, grid, dtype, refine_k, kind). ``assign_polygons`` shares
        the ``"hybrid"`` artifact."""
        key = (
            id(self.spark),
            self.polyset.cache_token,
            self.grid,
            np.dtype(self.dtype).char,
            self.refine_k,
            kind,
        )
        bc = self._BC_CACHE.pop(key, None)
        if bc is not None:
            self._BC_CACHE[key] = bc  # reinsert: most-recently-used
            return bc
        bc = self.spark.sparkContext.broadcast(self._bc_art_dict(kind))
        while len(self._BC_CACHE) >= self._BC_CACHE_MAX:
            old = self._BC_CACHE.pop(next(iter(self._BC_CACHE)))
            try:
                old.unpersist(blocking=False)
            except Exception:
                pass  # session already stopped
        self._BC_CACHE[key] = bc
        return bc

    def _bc_art_dict(self, kind: str) -> dict:
        """The artifact value behind :meth:`_bc_art` — exposed so size
        measurement (bench.py's polygon sweep) weighs the EXACT dict the
        kernel ships, not a hand-rebuilt copy that could drift.

        ``interior`` pairs count a point without a PIP test, ``boundary``
        pairs count it only where the exact PIP kernel puts it inside:
        hybrid has both on the classification grid, index has every MBR
        candidate as ``boundary``, raster and errorbounds have the
        center-inside cover as ``interior``. errorbounds adds ``bounds``,
        its boundary-cell pairs listed by pair index, with the per-pair
        ``pair_poly``, ``frac``, ``frac_u6`` and ``attributed`` arrays."""
        t = self.tables
        n_cells = self.grid.n_cells
        empty = _cell_csr(np.empty(0, np.int64), np.empty(0, np.int64))
        art = {
            "interior": empty,
            "boundary": empty,
            "verts": self.polyset.verts,
            "offsets": self.polyset.offsets,
        }
        if kind == "hybrid":
            ct, cls_cells = self.cls_tables, self.cls_grid.n_cells
            art["interior"] = _cell_csr(*ct.interior_pairs(), cls_cells)
            b_c, b_p, _, _ = ct.boundary_pairs()
            art["boundary"] = _cell_csr(b_c, b_p, cls_cells)
        elif kind == "index":
            art["boundary"] = _cell_csr(t.cand_cell, t.cand_poly, n_cells)
        elif kind in ("raster", "errorbounds"):
            art["interior"] = _cell_csr(t.cover_cell, t.cover_poly, n_cells)
        else:
            raise ValueError(f"unknown strategy {kind!r}")
        if kind == "errorbounds":
            # the one consumer of area fractions: built on first use
            t = POLY_GRID_CACHE.get(self.grid, self.polyset, dtype=self.dtype, with_frac=True)
            b_c, b_p, b_f, b_ci = t.boundary_pairs()
            frac = b_f.astype(np.float64)
            art["bounds"] = _cell_csr(b_c, np.arange(len(b_c)), n_cells)
            art["pair_poly"] = b_p.astype(np.int64)
            art["frac"] = frac
            art["frac_u6"] = np.floor(frac * 1e6).astype(np.int64)
            art["attributed"] = b_ci.astype(np.bool_)
        return art

    def _arrow_source(self, points: DataFrame, cols: list[str]) -> DataFrame:
        """The kernel's input: the projected columns, coalesced (no
        shuffle) to at most two tasks per core. Each Python-stage task
        pays a fixed JVM<->worker cost, so a Python stage wants FEW, BIG
        tasks; coalesce never adds partitions, so a coarser input keeps
        its own count. On a real cluster this is executors*cores; tasks
        then stream many Arrow batches each. On a 4-core host a no-op
        ``mapInArrow`` over 1/16/64 one-row partitions took 0.48-0.55 /
        1.72-1.82 / 6.20-6.94 s while every task re-read the worker's
        zip archives in ``importlib.invalidate_caches()`` (145-220 ms
        per task), and 0.16 / 0.38-0.44 / 1.06 s once the kernel calls
        :func:`drop_zip_finders` (CLAUDE.md, "Python stages")."""
        target = max(self.spark.sparkContext.defaultParallelism, 1)
        return points.select(*cols).coalesce(2 * target)

    # --------------------------------------------------------- strategies

    def index_join(
        self,
        points: DataFrame,
        agg: AggSpec = AggSpec(),
        include_zero: bool = True,
        where: RowPredicate | None = None,
    ) -> DataFrame:
        """J2 accurate: MBR candidate lists -> PIP everywhere. Runs its
        one Spark job at call time (:meth:`_one_pass`)."""
        return self._agg_frame("index", points, agg, include_zero, where)

    def assign_polygons(
        self, points: DataFrame, cols: Iterable[str] = ("url",)
    ) -> DataFrame:
        """Per-point polygon assignment (the north_star's per-point tile
        assignment output): exact hybrid-path resolution, one row per
        (point, containing polygon), emitted from one Arrow pass
        (:meth:`_fused_pairs`). The result is lazy."""
        return self._fused_pairs(points, list(cols))

    def _fused_pairs(self, points: DataFrame, cols: list[str]) -> DataFrame:
        """One mapInArrow pass: per batch, interior memberships via CSR
        lookup, boundary memberships via exact PIP, emit (cols..., cell_id,
        poly_id) pairs directly. Carried columns are gathered with
        pyarrow.compute.take, so strings and other payload never
        materialize as Python objects. Membership resolves on the
        internal classification grid (refine_k); the emitted cell_id is
        always the CALLER's grid cell (the public tile assignment)."""
        bc = self._bc_art("hybrid")
        grid = self.grid
        cls_grid = self.cls_grid
        refined = self.refine_k > 1
        dtype = self.dtype
        x_name, y_name = self.x, self.y
        in_schema = points.select(*cols, x_name, y_name).schema
        schema = T.StructType(
            [f for f in in_schema if f.name in cols]
            + [
                T.StructField("cell_id", T.LongType(), False),
                T.StructField("poly_id", T.LongType(), False),
            ]
        )

        def fn(batches):
            drop_zip_finders()
            import pyarrow.compute as pc

            art = bc.value
            for batch in batches:
                names = batch.schema.names
                x = np.asarray(
                    batch.column(names.index(x_name)).to_numpy(zero_copy_only=False),
                    np.float64,
                )
                y = np.asarray(
                    batch.column(names.index(y_name)).to_numpy(zero_copy_only=False),
                    np.float64,
                )
                cells = cls_grid.cell_ids_np(x, y)
                rows, polys = _members(art, cells, x, y, dtype)
                # emitted cell_id is the caller-grid tile (public output)
                out_cells = grid.cell_ids_np(x, y) if refined else cells
                idx = pa.array(rows)
                arrays = [
                    pc.take(batch.column(names.index(c)), idx) for c in cols
                ]
                arrays += [pa.array(out_cells[rows]), pa.array(polys)]
                out_schema = pa.schema(
                    [batch.schema.field(names.index(c)) for c in cols]
                    + [
                        pa.field("cell_id", pa.int64(), nullable=False),
                        pa.field("poly_id", pa.int64(), nullable=False),
                    ]
                )
                yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

        src = self._arrow_source(points, [*cols, x_name, y_name])
        return src.mapInArrow(fn, schema)

    def hybrid_join(
        self,
        points: DataFrame,
        agg: AggSpec = AggSpec(),
        include_zero: bool = True,
        where: RowPredicate | None = None,
    ) -> DataFrame:
        """J3 accurate: interior fast path + boundary exact refinement.
        Result is identical to index_join; only the artifact differs
        (PIP runs on boundary-cell points only). Takes coordinates as
        float64 and carries no precondition on their values. Runs its
        one Spark job at call time (:meth:`_one_pass`)."""
        return self._agg_frame("hybrid", points, agg, include_zero, where)

    def _one_pass(
        self,
        kind: str,
        points: DataFrame,
        val_col: str | None,
        integral: bool,
        where: RowPredicate | None,
    ) -> dict[str, np.ndarray]:
        """The one Spark job behind every aggregate strategy; returns
        per-polygon totals (length n_polys arrays) by column name.

        mapInArrow over (x, y[, val]): per Arrow batch, resolve membership
        through the ``kind`` artifact (:func:`_members`) and emit a
        PARTIAL per-polygon vector (<=P rows per batch). The driver
        collects the partials with ``toArrow()`` and sums them in numpy.
        Columns: ``_cnt`` (matched rows); with ``val_col`` also ``_nn``
        (matched non-null values) and ``_sum`` (their sum, int64 when
        ``integral``, transferred as int64 and never narrowed through
        float64); for errorbounds the boundary-cell terms ``fp1``,
        ``fn1``, ``fp``, ``fn``, ``fp_u6`` and ``fn_u6``. Integer columns
        are exact in any fold order; the float columns are not.

        ``where`` (a request's window, time bounds and constraints) is
        evaluated here, in the kernel: its columns join the projection and
        each batch is masked before membership runs, so the plan carries
        no literal of the request and is the same for every request over
        the same columns. The window is on this join's grid.
        """
        bc = self._bc_art(kind)
        win_grid = self.grid
        grid = self.cls_grid if kind == "hybrid" else self.grid
        dtype = self.dtype
        n_polys = self.polyset.n_polys
        x_name, y_name = self.x, self.y
        bounds = kind == "errorbounds"
        out_cols = [("_cnt", True)]
        if val_col is not None:
            out_cols += [("_nn", True), ("_sum", integral)]
        if bounds:
            out_cols += [("fp1", True), ("fn1", True), ("fp", False), ("fn", False),
                         ("fp_u6", True), ("fn_u6", True)]
        fields = [("poly_id", True)] + out_cols
        schema = T.StructType(
            [T.StructField(c, T.LongType() if i else T.DoubleType(), False) for c, i in fields]
        )
        out_schema = pa.schema(
            [pa.field(c, pa.int64() if i else pa.float64(), nullable=False) for c, i in fields]
        )

        # mapInArrow, not mapInPandas: the kernel consumes raw numpy, so
        # the pandas layer is a pure copy tax on the feed — Arrow float64
        # columns view zero-copy into numpy. At full machine width the
        # feed is the bandwidth-bound term (BENCH/hybrid_rootcause.md),
        # so one fewer per-row copy matters.
        def fn(batches):
            drop_zip_finders()
            art = bc.value
            for rb in batches:
                if where is not None:
                    rb = rb.filter(pa.array(where.mask(rb, win_grid, x_name, y_name)))
                names = rb.schema.names
                x = np.asarray(
                    rb.column(names.index(x_name)).to_numpy(zero_copy_only=False),
                    dtype=np.float64,
                )
                y = np.asarray(
                    rb.column(names.index(y_name)).to_numpy(zero_copy_only=False),
                    dtype=np.float64,
                )
                cells = grid.cell_ids_np(x, y)
                rows, polys = _members(art, cells, x, y, dtype)
                out = {"_cnt": np.bincount(polys, minlength=n_polys)}
                if val_col is not None:
                    arr = rb.column(names.index(val_col))
                    # NULLs are skipped, never cast: fill_null keeps the
                    # int64 transfer exact and the mask drops them
                    val = np.asarray(
                        arr.fill_null(0).to_numpy(zero_copy_only=False),
                        np.int64 if integral else np.float64,
                    )
                    if arr.null_count:
                        ok = ~np.asarray(arr.is_null().to_numpy(zero_copy_only=False))[rows]
                        rows, polys = rows[ok], polys[ok]
                    out["_nn"] = np.bincount(polys, minlength=n_polys)
                    out["_sum"] = _fold(polys, val[rows], n_polys)
                if bounds:
                    _, pair = _csr_expand(art["bounds"], cells)
                    bp = art["pair_poly"][pair]
                    att = art["attributed"][pair]
                    frac, frac_u6 = art["frac"][pair], art["frac_u6"][pair]
                    a, na = bp[att], bp[~att]
                    out["fp1"] = np.bincount(a, minlength=n_polys)
                    out["fn1"] = np.bincount(na, minlength=n_polys)
                    out["fp"] = np.bincount(a, weights=1.0 - frac[att], minlength=n_polys)
                    out["fn"] = np.bincount(na, weights=frac[~att], minlength=n_polys)
                    out["fp_u6"] = _fold(a, 1_000_000 - frac_u6[att], n_polys)
                    out["fn_u6"] = _fold(na, frac_u6[~att], n_polys)
                    touched = out["_cnt"] + out["fp1"] + out["fn1"]
                else:
                    touched = out["_cnt"]
                nz = np.flatnonzero(touched)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(nz.astype(np.int64))] + [pa.array(out[c][nz]) for c, _ in out_cols],
                    schema=out_schema,
                )

        cols = [x_name, y_name] + ([val_col] if val_col is not None else [])
        if where is not None:
            cols += [c for c in where.columns() if c not in cols]
        partials = self._arrow_source(points, cols).mapInArrow(fn, schema).toArrow()
        ids = partials.column("poly_id").to_numpy()
        totals = {}
        for c, is_int in out_cols:
            acc = np.zeros(n_polys, np.int64 if is_int else np.float64)
            np.add.at(acc, ids, partials.column(c).to_numpy())
            totals[c] = acc
        return totals

    def _agg_frame(
        self,
        kind: str,
        points: DataFrame,
        agg: AggSpec,
        include_zero: bool,
        where: RowPredicate | None,
    ) -> DataFrame:
        """COUNT/SUM/AVG per polygon from :meth:`_one_pass`, as a local
        DataFrame (poly_id, alias) in poly_id order. ``include_zero``
        keeps every polygon position 0..N-1, as the reference emits
        (RasterJoin/main.cpp:202-224): empty polygons get 0 for COUNT
        and NULL for SUM/AVG; without it only polygons with a matched
        point appear."""
        val_col = None if agg.op == "count" else agg.col
        integral = val_col is not None and isinstance(
            points.schema[val_col].dataType, INTEGRAL
        )
        tot = self._one_pass(kind, points, val_col, integral, where)
        cnt = tot["_cnt"]
        keep = np.arange(len(cnt)) if include_zero else np.flatnonzero(cnt)
        if agg.op == "count":
            val, dtype = pa.array(cnt[keep]), T.LongType()
        else:
            nn, s = tot["_nn"][keep], tot["_sum"][keep]
            if agg.op == "avg":
                s = s / np.maximum(nn, 1)  # the one float64 division sum/count
            val = pa.array(s, mask=nn == 0)
            dtype = T.LongType() if agg.op == "sum" and integral else T.DoubleType()
        # nullability as the former Spark plans declared it: a sum() is
        # nullable, a densified COUNT is coalesced to 0, and only the
        # index plan counted rows with count(), which is never NULL
        nullable = agg.op != "count" or (not include_zero and kind != "index")
        schema = T.StructType(
            [
                T.StructField("poly_id", T.LongType(), False),
                T.StructField(agg.alias, dtype, nullable),
            ]
        )
        table = pa.table([pa.array(keep.astype(np.int64)), val], names=["poly_id", agg.alias])
        return self.spark.createDataFrame(table, schema)

    def raster_join(
        self,
        points: DataFrame,
        agg: AggSpec = AggSpec(),
        include_zero: bool = True,
        where: RowPredicate | None = None,
    ) -> DataFrame:
        """J1 approximate: whole cells attributed by center-inside cover.
        Error bounded by epsilon when the grid was sized with
        epsilon_to_cell_size (GLFunction.cpp:26-30). Runs its one Spark
        job at call time (:meth:`_one_pass`)."""
        return self._agg_frame("raster", points, agg, include_zero, where)

    def error_bounds(self, points: DataFrame, where: RowPredicate | None = None) -> DataFrame:
        """J4: raster count plus per-polygon error intervals, one row per
        polygon. Runs its one Spark job at call time (:meth:`_one_pass`).

        For each boundary cell b of polygon p with cell count c(b):
          attributed (center inside)  -> fp1 += c(b); fp += (1-frac)*c(b)
          not attributed              -> fn1 += c(b); fn += frac*c(b)
        Output per polygon: cnt (raster), [cnt-fp1, cnt+fn1] (whole-pixel,
        sound: exact is always inside), [cnt-fp, cnt+fn] (area-weighted,
        the paper's tight interval). Mirrors RasterJoinBounds.cpp:202-381 +
        interval assembly RasterJoin/main.cpp:178-193.

        Alongside the float lo/hi, lo_u6/hi_u6 carry the tight interval in
        integer MICRO-UNITS (per-cell area fraction pre-quantized to
        floor(frac*1e6) on the driver, then summed as int64): the whole
        fold is integer arithmetic, so it is bit-identical across Spark /
        DuckDB regardless of float summation order — the oracle-gateable
        form of the tight interval per the repo's quantization rule.
        (int64 headroom: cnt*1e6 overflows only past ~9e12 rows/polygon.)
        """
        tot = self._one_pass("errorbounds", points, None, False, where)
        cnt = tot["_cnt"]
        cols = {
            "poly_id": np.arange(len(cnt), dtype=np.int64),
            "cnt": cnt,
            "lo1": cnt - tot["fp1"],
            "hi1": cnt + tot["fn1"],
            "lo": cnt - tot["fp"],
            "hi": cnt + tot["fn"],
            "lo_u6": cnt * 1_000_000 - tot["fp_u6"],
            "hi_u6": cnt * 1_000_000 + tot["fn_u6"],
        }
        schema = T.StructType(
            [
                T.StructField(c, T.DoubleType() if v.dtype.kind == "f" else T.LongType(), False)
                for c, v in cols.items()
            ]
        )
        return self.spark.createDataFrame(pa.table(cols), schema)

    def coarse_scan(self, points: DataFrame, x0: float, y0: float, x1: float, y1: float) -> DataFrame:
        """S5 partition-pruned range scan: rows whose CELL overlaps the
        query box — a superset at hash-cell granularity, exactly like the
        reference's coarse sigma (HashGridIndex.cpp:78-137). The exact
        sigma (S6) is a plain .filter chained after.

        One filter on the grid coordinates (:meth:`window_sql`), with the
        row-major ``cell_id`` attached above it (index.glsl:229-233). The
        window keeps in-grid points only, so the id needs no range test.
        A filter on a derived id would have Catalyst inline the id's
        CASE WHEN into every term of the pushed-down predicate."""
        xp, yp = self.grid.cell_xy_spark_sql(sql_ident(self.x), sql_ident(self.y))
        return points.filter(F.expr(self.window_sql((x0, y0, x1, y1)))).withColumn(
            "cell_id", F.expr(f"{xp} + {self.grid.nx} * {yp}")
        )

    def window_sql(self, box: tuple[float, float, float, float]) -> str:
        """The coarse window over ``box`` as Spark SQL text on this join's
        coordinate columns (GridSpec.window_spark_sql)."""
        return self.grid.window_spark_sql(sql_ident(self.x), sql_ident(self.y), box)
