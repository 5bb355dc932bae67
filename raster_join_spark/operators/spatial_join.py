"""The four spatial-join strategies of the reference, as Spark plans.

Reference physical operators -> our logical plans (all share two
driver-built broadcast artifacts: the rasterized polygon-grid tables from
geo/classify.py and the flat CSR polygon arrays):

- **index_join** (J2, RasterJoin/join/IndexJoin.cpp:52-198 + grid probe
  shaders/index.glsl:186-249): point -> cell -> broadcast-join MBR
  candidate lists -> exact ray-cast PIP (Arrow-vectorized pandas UDF)
  -> groupBy(poly_id). Accurate.
- **raster_join** (J1, RasterJoin/join/RasterJoin.cpp:91-260): points
  pre-aggregated per cell (the "point rasterization" pass becomes a
  map-side-combined groupBy(cell)) -> broadcast-join the center-inside
  cover table (the "polygon rasterization" pass, computed once on the
  driver) -> re-aggregate per polygon. Approximate within epsilon.
- **hybrid_join** (J3, RasterJoin/join/HybridJoin.cpp:339-359,
  shaders/hybrid.glsl:224-301): one mapInArrow pass — interior-cell
  points resolve by a CSR cell lookup alone (no PIP), boundary-cell
  points go through the exact PIP kernel, and each Arrow batch emits
  per-polygon partials. Accurate, faster than index_join when
  boundaries are thin.
- **error_bounds** (J4, RasterJoin/join/RasterJoinBounds.cpp:202-381,
  shaders/line-bound.frag:219-262): raster result plus per-polygon
  [agg-fp, agg+fn] intervals from boundary-cell accounting — both the
  whole-pixel (fp1/fn1) and the area-fraction-weighted (fp/fn) variants.

Scale design (the part that matters at 100 TB / 1000 executors):
- The polygon side is ALWAYS broadcast (a few MB); the point side never
  shuffles for the join itself — candidate expansion is a map-side
  broadcast hash join.
- groupBy(cell) and groupBy(poly_id) both enjoy partial (map-side)
  aggregation, so hot NYC-style cells collapse to <=1 row per task
  before the exchange: the shuffle volume is O(distinct cells per task),
  NOT O(points). This is the same trick as the reference's per-thread
  partial vectors (CPUJoin.cpp:93-116), which Spark gives us for free.
- The only Python in the plan is the PIP kernel over boundary points,
  Arrow-batched, vectorized over points x edges in numpy.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from raster_join_spark.geo.classify import POLY_GRID_CACHE, PolyGridTables
from raster_join_spark.geo.grid import GridSpec
from raster_join_spark.geo.pip import pip_candidates
from raster_join_spark.geo.polygons import PolygonSet


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


@dataclass(frozen=True)
class AggSpec:
    """Aggregation parity with the reference (Common.h:26 {Count, Avg, Sum},
    DataHandler.cpp:68-71). ``col=None`` -> COUNT(*)."""

    op: str = "count"  # count | sum | avg
    col: str | None = None
    alias: str = "agg"

    def exprs(self, cnt_col: str = "_cnt", sum_col: str = "_sum") -> list[Column]:
        """Final-stage expressions over per-cell partials."""
        if self.op == "count":
            return [F.sum(cnt_col).alias(self.alias)]
        if self.op == "sum":
            return [F.sum(sum_col).alias(self.alias)]
        if self.op == "avg":
            return [(F.sum(sum_col) / F.sum(cnt_col)).alias(self.alias)]
        raise ValueError(f"unknown agg {self.op}")


class SpatialJoin:
    """One polygon collection + one grid, four join strategies.

    Builds the broadcast artifacts once (driver-side numpy rasterization,
    memoized in POLY_GRID_CACHE), then exposes the strategies as
    DataFrame -> DataFrame operators.
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
        for the Arrow-kernel paths (``hybrid_join``,
        ``assign_polygons``) — ``"auto"`` (default) picks
        a power-of-two factor when the polygon collection is tiny
        relative to the query grid (see the class constants), ``1``
        disables, an int forces a factor. Results are identical at any
        factor; only the physical interior/boundary split changes.
        float32 parity mode never refines (classification decisions
        must mirror the reference's exactly).

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
        self.tables: PolyGridTables = POLY_GRID_CACHE.get(grid, polyset, dtype=dtype)
        if np.dtype(dtype) != np.float64:
            self.refine_k = 1
        elif refine == "auto":
            self.refine_k = self._auto_refine_k()
        else:
            self.refine_k = max(int(refine), 1)
        self.cls_grid = grid.refined(self.refine_k)
        # flat CSR polygon arrays broadcast to every executor once —
        # the analogue of the reference's GPU polygon textures
        # (GLFunction.cpp:158-197); a few MB even at 65k polygons.
        self._bc_polys = spark.sparkContext.broadcast(
            (polyset.verts, polyset.offsets)
        )

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
        (== the query-grid tables when refine_k == 1). Refined tables
        skip the area-fraction stage — only error_bounds needs fractions
        and it always runs on the query grid."""
        if self.refine_k == 1:
            return self.tables
        return POLY_GRID_CACHE.get(
            self.cls_grid, self.polyset, dtype=self.dtype, with_frac=False
        )

    # ------------------------------------------------------------ helpers

    # session-level cache of the small dimension DataFrames: building a
    # 1M+-row DataFrame from pandas costs ~1s of driver time, and the
    # artifact is immutable per (polyset, grid) — build once, reuse across
    # queries (the reference rebuilds per query; see classify.py notes)
    _PAIRS_CACHE: dict[tuple, DataFrame] = {}

    # session-level cache of the Arrow-kernel broadcast artifact: at 65k
    # polygons with a k=4 refined grid the CSR artifact is ~108 MB and
    # sc.broadcast() pays ~2.7s of driver pickling PER CALL — but the
    # artifact is immutable per (collection content, grid, dtype,
    # refine), so one broadcast serves every query, like the reference's
    # persistent GPU polygon textures (GLFunction.cpp:158-197). Eviction
    # is LRU (hits reinsert at the back; the front entry is the coldest)
    # and evicted broadcasts are unpersist(blocking=False)'d — executors
    # drop the blocks, but an in-flight lazy plan that still holds the
    # handle simply re-fetches from the driver (only destroy() would
    # break it), so the hottest artifacts are never force-rebroadcast.
    _BC_CACHE: dict[tuple, object] = {}
    _BC_CACHE_MAX = 16

    def _bc_art(self):
        """The per-executor membership artifact (interior CSR, boundary
        CSR, flat polygon vertices), broadcast once per (session,
        collection content, grid, dtype, refine_k) and shared by both
        Arrow-kernel plans (``_fused_agg`` and ``_fused_pairs``)."""
        key = (
            id(self.spark),
            self.polyset.cache_token,
            self.grid,
            np.dtype(self.dtype).char,
            self.refine_k,
        )
        bc = self._BC_CACHE.pop(key, None)
        if bc is not None:
            self._BC_CACHE[key] = bc  # reinsert: most-recently-used
            return bc
        bc = self.spark.sparkContext.broadcast(self._bc_art_dict())
        while len(self._BC_CACHE) >= self._BC_CACHE_MAX:
            old = self._BC_CACHE.pop(next(iter(self._BC_CACHE)))
            try:
                old.unpersist(blocking=False)
            except Exception:
                pass  # session already stopped
        self._BC_CACHE[key] = bc
        return bc

    def _bc_art_dict(self) -> dict:
        """The artifact value behind :meth:`_bc_art` — exposed so size
        measurement (bench.py's polygon sweep) weighs the EXACT dict the
        kernel ships, not a hand-rebuilt copy that could drift."""
        t = self.cls_tables
        int_c, int_p = t.interior_pairs()
        b_c, b_p, _, _ = t.boundary_pairs()
        return {
            "interior": _cell_csr(int_c, int_p, self.cls_grid.n_cells),
            "boundary": _cell_csr(b_c, b_p, self.cls_grid.n_cells),
            "verts": self.polyset.verts,
            "offsets": self.polyset.offsets,
        }

    def _pairs_df(
        self,
        cell: np.ndarray,
        poly: np.ndarray,
        extra: dict | None = None,
        cache_key: str | None = None,
    ) -> DataFrame:
        if cache_key is not None:
            key = (id(self.spark), self.polyset.cache_token, self.grid, cache_key)
            hit = self._PAIRS_CACHE.pop(key, None)
            if hit is not None:
                self._PAIRS_CACHE[key] = hit  # reinsert: most-recently-used
                return hit
        data = {"cell_id": cell.astype(np.int64), "poly_id": poly.astype(np.int64)}
        for k, (arr, _) in (extra or {}).items():
            data[k] = arr
        schema = T.StructType(
            [
                T.StructField("cell_id", T.LongType(), False),
                T.StructField("poly_id", T.LongType(), False),
            ]
            + [
                T.StructField(k, dt, False)
                for k, (_, dt) in (extra or {}).items()
            ]
        )
        df = self.spark.createDataFrame(pd.DataFrame(data), schema=schema)
        # (r8) coalesce + persist the broadcast-side map: every query
        # execution otherwise re-parses the python-serialized literal
        # partitions AND collects them through defaultParallelism tiny
        # tasks per broadcast build (measured on a since-removed plan
        # with five such maps: ~0.9s/query of pure rebuild at any
        # scale; 1-partition persisted maps cut it 2.3s -> 1.3s at
        # sf1.0). Maps derive from
        # the polygon fixture only (never from the scanned table), so
        # this is broadcast-side constant data like the _BC_CACHE CSR
        # artifact, LRU-bounded the same way. ~4M rows per partition
        # keeps a budget-sized map's one-time build parallel enough.
        if cache_key is not None:
            # persist only cached frames — the LRU owns the unpersist
            df = df.coalesce(max(1, len(cell) // 4_000_000 + 1)).persist()
            while len(self._PAIRS_CACHE) >= 64:  # LRU: evict coldest only
                old = self._PAIRS_CACHE.pop(next(iter(self._PAIRS_CACHE)))
                try:
                    old.unpersist(blocking=False)
                except Exception:
                    pass
            self._PAIRS_CACHE[key] = df
        return df

    def with_cell(self, points: DataFrame) -> DataFrame:
        """Tile assignment: attach the row-major cell id (native exprs,
        index.glsl:229-233); out-of-grid points get NULL and are dropped
        by the inner joins below, mirroring the reference's discard."""
        return points.withColumn(
            "cell_id", self.grid.cell_id_col(F.col(self.x), F.col(self.y))
        )

    def _pip_filter(self, df: DataFrame) -> DataFrame:
        """Exact ray-cast refinement: keep (point, candidate poly) rows
        whose point is inside the polygon. Arrow-batched pandas UDF over
        float64 (same IEEE op order as the SQL oracle); the kernel
        vectorizes over points x edges (index.glsl:47-67 rule)."""
        bc = self._bc_polys
        dtype = self.dtype

        @F.pandas_udf(T.BooleanType())
        def _pip(x: pd.Series, y: pd.Series, poly: pd.Series) -> pd.Series:
            verts, offsets = bc.value
            mask = pip_candidates(
                x.to_numpy(np.float64),
                y.to_numpy(np.float64),
                poly.to_numpy(np.int64),
                verts,
                offsets,
                dtype=dtype,
            )
            return pd.Series(mask)

        return df.filter(_pip(F.col(self.x), F.col(self.y), F.col("poly_id")))

    def _cell_partials(self, points: DataFrame, agg: AggSpec) -> DataFrame:
        """Point 'rasterization': per-cell partial aggregates
        (RasterJoin.cpp:215-221's additive-blend canvas as a hash agg
        with map-side combine)."""
        pts = self.with_cell(points).filter(F.col("cell_id").isNotNull())
        sum_col = (
            F.sum(F.col(agg.col)).alias("_sum")
            if agg.col
            else F.lit(None).cast("double").alias("_sum")
        )
        return pts.groupBy("cell_id").agg(F.count(F.lit(1)).alias("_cnt"), sum_col)

    def _densify(
        self, out: DataFrame, agg: AggSpec, include_zero: bool
    ) -> DataFrame:
        """Densify a per-polygon result to every polygon position
        0..N-1, as the reference emits (RasterJoin/main.cpp:202-224):
        empty polygons get 0 for COUNT and NULL for SUM/AVG.
        ``include_zero=False`` returns ``out`` as is."""
        if not include_zero:
            return out
        all_polys = self.spark.range(self.polyset.n_polys).withColumnRenamed(
            "id", "poly_id"
        )
        fill = F.lit(0) if agg.op == "count" else F.lit(None)
        return all_polys.join(F.broadcast(out), "poly_id", "left").select(
            "poly_id", F.coalesce(F.col(agg.alias), fill).alias(agg.alias)
        )

    def _finalize(
        self, assigned: DataFrame, agg: AggSpec, include_zero: bool = True
    ) -> DataFrame:
        """groupBy(poly_id) final aggregation over (point, poly) rows,
        then :meth:`_densify`."""
        if agg.op == "count":
            out = assigned.groupBy("poly_id").agg(F.count(F.lit(1)).alias(agg.alias))
        elif agg.op == "sum":
            out = assigned.groupBy("poly_id").agg(F.sum(agg.col).alias(agg.alias))
        else:  # avg
            out = assigned.groupBy("poly_id").agg(F.avg(agg.col).alias(agg.alias))
        return self._densify(out, agg, include_zero)

    # --------------------------------------------------------- strategies

    def index_join(
        self,
        points: DataFrame,
        agg: AggSpec = AggSpec(),
        include_zero: bool = True,
    ) -> DataFrame:
        """J2 accurate: MBR candidate lists -> PIP everywhere."""
        cand = self._pairs_df(self.tables.cand_cell, self.tables.cand_poly, cache_key="cand")
        pts = self.with_cell(points)
        joined = pts.join(F.broadcast(cand), "cell_id", "inner")
        exact = self._pip_filter(joined)
        return self._finalize(exact, agg, include_zero)

    def assign_polygons(
        self, points: DataFrame, cols: Iterable[str] = ("url",)
    ) -> DataFrame:
        """Per-point polygon assignment (the north_star's per-point tile
        assignment output): exact hybrid-path resolution, one row per
        (point, containing polygon), emitted from one Arrow pass
        (:meth:`_fused_pairs`)."""
        return self._fused_pairs(points, list(cols))

    def _fused_pairs(self, points: DataFrame, cols: list[str]) -> DataFrame:
        """One mapInArrow pass: per batch, interior memberships via CSR
        lookup, boundary memberships via exact PIP, emit (cols..., cell_id,
        poly_id) pairs directly. Carried columns are gathered with
        pyarrow.compute.take, so strings and other payload never
        materialize as Python objects. Membership resolves on the
        internal classification grid (refine_k); the emitted cell_id is
        always the CALLER's grid cell (the public tile assignment)."""
        bc = self._bc_art()
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
            import pyarrow as pa
            import pyarrow.compute as pc

            art = bc.value
            verts, offsets = art["verts"], art["offsets"]
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
                ri, pi = _csr_expand(art["interior"], cells)
                rb, pb = _csr_expand(art["boundary"], cells)
                if len(rb):
                    m = pip_candidates(x[rb], y[rb], pb, verts, offsets, dtype=dtype)
                    rb, pb = rb[m], pb[m]
                rows = np.concatenate([ri, rb])
                polys = np.concatenate([pi, pb]).astype(np.int64)
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

        target = max(self.spark.sparkContext.defaultParallelism, 1)
        src = points.select(*cols, x_name, y_name)
        if src.rdd.getNumPartitions() > 2 * target:
            src = src.coalesce(2 * target)
        return src.mapInArrow(fn, schema)

    def hybrid_join(
        self,
        points: DataFrame,
        agg: AggSpec = AggSpec(),
        include_zero: bool = True,
    ) -> DataFrame:
        """J3 accurate: interior fast path + boundary exact refinement.
        Result is identical to index_join; only the physical plan differs
        (PIP runs on boundary-cell points only). There is one plan, the
        one-pass :meth:`_fused_agg` kernel; it takes coordinates as
        float64 and carries no precondition on their values."""
        return self._fused_agg(points, agg, include_zero)

    def _fused_agg(
        self, points: DataFrame, agg: AggSpec, include_zero: bool
    ) -> DataFrame:
        """One-pass exact aggregation — the plan we'd run at 100 TB.

        mapInArrow over (x, y[, val]): per Arrow batch, resolve interior
        membership by CSR lookup of the cell, boundary membership by the
        exact PIP kernel, and emit a PARTIAL per-polygon vector (<=P rows
        per batch). The exchange then carries #batches x P rows instead of
        O(points) pair rows — the reference's per-thread partial vectors
        (CPUJoin/CPUJoin.cpp:93-116) in Spark clothes. No JVM-side pair
        materialization. Membership resolves on the internal
        classification grid (refine_k).
        """
        bc = self._bc_art()
        grid = self.cls_grid
        dtype = self.dtype
        n_polys = self.polyset.n_polys
        x_name, y_name = self.x, self.y
        want_sum = agg.col is not None
        cols = [x_name, y_name] + ([agg.col] if want_sum else [])
        agg_col = agg.col
        # integral inputs keep integral partials end-to-end: the final
        # SUM is then LongType, matching the BIGINT oracle bit-for-bit.
        # Values transfer as int64 (never narrowed through float64) and
        # the per-batch partial uses the float64-bincount fast path ONLY
        # while every intermediate sum provably stays under 2^53 —
        # otherwise it falls back to an exact int64 scatter-add, so
        # exactness never silently degrades at large magnitudes
        integral = want_sum and isinstance(
            points.schema[agg.col].dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
        )

        schema = T.StructType(
            [
                T.StructField("poly_id", T.LongType(), False),
                T.StructField("_cnt", T.LongType(), False),
                T.StructField("_sum", T.LongType() if integral else T.DoubleType(), True),
            ]
        )

        # mapInArrow, not mapInPandas: the kernel consumes raw numpy, so
        # the pandas layer is a pure copy tax on the feed — Arrow float64
        # columns view zero-copy into numpy. At full machine width the
        # feed is the bandwidth-bound term (BENCH/hybrid_rootcause.md),
        # so one fewer per-row copy matters.
        def fn(batches):
            import pyarrow as pa

            out_fields = [
                pa.field("poly_id", pa.int64(), nullable=False),
                pa.field("_cnt", pa.int64(), nullable=False),
                pa.field("_sum", pa.int64() if integral else pa.float64()),
            ]
            out_schema = pa.schema(out_fields)
            art = bc.value
            verts, offsets = art["verts"], art["offsets"]
            for rb in batches:
                names = rb.schema.names
                x = np.asarray(
                    rb.column(names.index(x_name)).to_numpy(zero_copy_only=False),
                    dtype=np.float64,
                )
                y = np.asarray(
                    rb.column(names.index(y_name)).to_numpy(zero_copy_only=False),
                    dtype=np.float64,
                )
                val = (
                    np.asarray(
                        rb.column(names.index(agg_col)).to_numpy(zero_copy_only=False),
                        np.int64 if integral else np.float64,
                    )
                    if want_sum
                    else None
                )
                cells = grid.cell_ids_np(x, y)
                cnt = np.zeros(n_polys, np.int64)
                sm = (
                    np.zeros(n_polys, np.int64 if integral else np.float64)
                    if want_sum
                    else None
                )

                def acc_sum(polys, vals):
                    # float64 bincount is the fast path; its partial sums
                    # are exact integers only while bounded by 2^53, so
                    # large-magnitude integral batches take the exact
                    # (slower) int64 scatter-add instead of silently
                    # losing low bits while claiming BIGINT parity
                    if (
                        integral
                        and len(vals)
                        and float(np.abs(vals).max()) * len(vals) >= 2.0**53
                    ):
                        np.add.at(sm, polys, vals)
                    else:
                        out = np.bincount(polys, weights=vals, minlength=n_polys)
                        sm[:] += out.astype(np.int64) if integral else out

                rows_i, polys_i = _csr_expand(art["interior"], cells)
                if len(rows_i):
                    cnt += np.bincount(polys_i, minlength=n_polys)
                    if want_sum:
                        acc_sum(polys_i, val[rows_i])

                rows_b, polys_b = _csr_expand(art["boundary"], cells)
                if len(rows_b):
                    mask = pip_candidates(
                        x[rows_b], y[rows_b], polys_b, verts, offsets, dtype=dtype
                    )
                    pb = polys_b[mask]
                    cnt += np.bincount(pb, minlength=n_polys)
                    if want_sum:
                        acc_sum(pb, val[rows_b][mask])

                nz = np.nonzero(cnt)[0]
                sm_out = sm[nz] if want_sum else np.full(len(nz), np.nan)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(nz.astype(np.int64)),
                        pa.array(cnt[nz]),
                        pa.array(sm_out),
                    ],
                    schema=out_schema,
                )

        # Python-stage task sizing: each mapInPandas task pays a fixed
        # JVM<->worker protocol cost (~20 ms measured), so a python stage
        # wants FEW, BIG tasks — coalesce (no shuffle) to ~1 task per core
        # unless the input is already coarser. On a real cluster this is
        # executors*cores; tasks then stream many Arrow batches each.
        target = max(self.spark.sparkContext.defaultParallelism, 1)
        src = points.select(*cols)
        if src.rdd.getNumPartitions() > 2 * target:
            src = src.coalesce(2 * target)
        partials = src.mapInArrow(fn, schema)
        out = partials.groupBy("poly_id").agg(*agg.exprs())
        return self._densify(out, agg, include_zero)

    def raster_join(
        self,
        points: DataFrame,
        agg: AggSpec = AggSpec(),
        include_zero: bool = True,
    ) -> DataFrame:
        """J1 approximate: whole cells attributed by center-inside cover.
        Error bounded by epsilon when the grid was sized with
        epsilon_to_cell_size (GLFunction.cpp:26-30)."""
        cover = self._pairs_df(self.tables.cover_cell, self.tables.cover_poly, cache_key="cover")
        cells = self._cell_partials(points, agg)
        per_poly = cells.join(F.broadcast(cover), "cell_id", "inner")
        out = per_poly.groupBy("poly_id").agg(*agg.exprs())
        return self._densify(out, agg, include_zero)

    def error_bounds(self, points: DataFrame) -> DataFrame:
        """J4: raster count plus per-polygon error intervals.

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
        t = self.tables
        b_c, b_p, b_f, b_ci = t.boundary_pairs()
        frac_u6 = np.floor(b_f.astype(np.float64) * 1e6).astype(np.int64)
        boundary = self._pairs_df(
            b_c,
            b_p,
            cache_key="boundary_frac",
            extra={
                "frac": (b_f.astype(np.float64), T.DoubleType()),
                "frac_u6": (frac_u6, T.LongType()),
                "attributed": (b_ci.astype(np.bool_), T.BooleanType()),
            },
        )
        cells = self._cell_partials(points, AggSpec("count"))

        raster = (
            cells.join(
                F.broadcast(self._pairs_df(t.cover_cell, t.cover_poly, cache_key="cover")),
                "cell_id",
                "inner",
            )
            .groupBy("poly_id")
            .agg(F.sum("_cnt").alias("cnt"))
        )
        bounds = (
            cells.join(F.broadcast(boundary), "cell_id", "inner")
            .groupBy("poly_id")
            .agg(
                F.sum(F.when(F.col("attributed"), F.col("_cnt")).otherwise(0)).alias("fp1"),
                F.sum(F.when(~F.col("attributed"), F.col("_cnt")).otherwise(0)).alias("fn1"),
                F.sum(
                    F.when(F.col("attributed"), (1 - F.col("frac")) * F.col("_cnt")).otherwise(0.0)
                ).alias("fp"),
                F.sum(
                    F.when(~F.col("attributed"), F.col("frac") * F.col("_cnt")).otherwise(0.0)
                ).alias("fn"),
                F.sum(
                    F.when(
                        F.col("attributed"),
                        (F.lit(1_000_000) - F.col("frac_u6")) * F.col("_cnt"),
                    ).otherwise(F.lit(0))
                ).alias("fp_u6"),
                F.sum(
                    F.when(~F.col("attributed"), F.col("frac_u6") * F.col("_cnt")).otherwise(
                        F.lit(0)
                    )
                ).alias("fn_u6"),
            )
        )
        all_polys = self.spark.range(self.polyset.n_polys).withColumnRenamed("id", "poly_id")
        return (
            all_polys.join(raster, "poly_id", "left")
            .join(bounds, "poly_id", "left")
            .select(
                "poly_id",
                F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
                (F.coalesce(F.col("cnt"), F.lit(0)) - F.coalesce(F.col("fp1"), F.lit(0))).alias("lo1"),
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.coalesce(F.col("fn1"), F.lit(0))).alias("hi1"),
                (F.coalesce(F.col("cnt"), F.lit(0)) - F.coalesce(F.col("fp"), F.lit(0.0))).alias("lo"),
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.coalesce(F.col("fn"), F.lit(0.0))).alias("hi"),
                (
                    F.coalesce(F.col("cnt"), F.lit(0)) * F.lit(1_000_000)
                    - F.coalesce(F.col("fp_u6"), F.lit(0))
                ).alias("lo_u6"),
                (
                    F.coalesce(F.col("cnt"), F.lit(0)) * F.lit(1_000_000)
                    + F.coalesce(F.col("fn_u6"), F.lit(0))
                ).alias("hi_u6"),
            )
        )

    def coarse_scan(self, points: DataFrame, x0: float, y0: float, x1: float, y1: float) -> DataFrame:
        """S5 partition-pruned range scan: rows whose CELL overlaps the
        query box — a superset at hash-cell granularity, exactly like the
        reference's coarse sigma (HashGridIndex.cpp:78-137). The exact
        sigma (S6) is a plain .filter chained after."""
        stx, sty, enx, eny = self.grid.mbr_cell_range(x0, y0, x1, y1)
        pts = self.with_cell(points).filter(F.col("cell_id").isNotNull())
        xp = F.col("cell_id") % self.grid.nx
        yp = (F.col("cell_id") / self.grid.nx).cast("long")
        return pts.filter(
            (xp >= stx) & (xp < enx) & (yp >= sty) & (yp < eny)
        )
