"""Query façade with the reference's API shape.

Mirrors the reference's query object and driver
(RasterJoin/db/DataHandler.hpp:14-41, Common.h:20-39, main.cpp:120-176)
so a raster-join user can port a workload mechanically:

    reference                                   here
    ---------                                   ----
    DataHandler::setPolygonQuery(name)          engine.set_polygon_query(polyset)
    DataHandler::executeQuery(bbox, t0, t1)     engine.execute_query(box, t0, t1)
    DataHandler::setQueryConstraints(...)       engine.set_query_constraints([...])
    DataHandler::setAggregation(Avg, attr)      engine.set_aggregation(Aggregation.AVG, attr)
    GLHandler::executeFunction(fn)              engine.execute_function("raster"|"index"|
                                                  "hybrid"|"errorbounds"|"cpu")

The coarse sigma (executeQuery) narrows to grid cells overlapping the
query window — a SUPERSET exactly like HashGridIndex::queryIndex
(HashGridIndex.cpp:78-137); constraints are conjunctive EQ/LT/LTE/GT/GTE
over typed attributes (Common.h:22,34-39); "cpu" maps to the same exact
plan as hybrid (the reference's CPU join J5 is its oracle — here the
one-pass kernel IS the CPU join shape, per-task partials + merge).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from enum import Enum

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from raster_join_spark.geo.grid import GridSpec
from raster_join_spark.geo.polygons import PolygonSet
from raster_join_spark.operators.predicate import RowPredicate, bind_term, ts_bound_us
from raster_join_spark.operators.spatial_join import AggSpec, SpatialJoin


class ConstraintType(Enum):  # Common.h:22
    EQ = 0
    LT = 1
    LTE = 2
    GT = 3
    GTE = 4


class Aggregation(Enum):  # Common.h:26
    COUNT = 0
    AVG = 1
    SUM = 2


@dataclass(frozen=True)
class QueryConstraint:  # Common.h:34-39
    attr: str
    op: ConstraintType
    value: object

    def to_column(self) -> Column:
        c = F.col(self.attr)
        if self.op is ConstraintType.EQ:
            return c == F.lit(self.value)
        if self.op is ConstraintType.LT:
            return c < F.lit(self.value)
        if self.op is ConstraintType.LTE:
            return c <= F.lit(self.value)
        if self.op is ConstraintType.GT:
            return c > F.lit(self.value)
        return c >= F.lit(self.value)


@dataclass
class QueryEngine:
    """DataHandler-shaped driver over a points DataFrame.

    Like the reference's ``DataHandler::initData`` (DataHandler.cpp:24-62),
    the engine loads its input once: construction persists ``points`` and
    materializes it, so every request reads the cached columns instead of
    re-running the scan and the page synthesis. Each request's window,
    time bounds and constraints are evaluated in the kernel over those
    columns (:meth:`execute_function`). The copy is held in memory for
    the engine's lifetime; ``engine.points.unpersist()`` releases it.
    Spark serves every query over the same input plan from this one
    copy, so engines over the same input share it, and so does any other
    query the caller runs over that input.
    """

    spark: SparkSession
    points: DataFrame
    grid: GridSpec
    polyset: PolygonSet | None = None
    constraints: list[QueryConstraint] = field(default_factory=list)
    agg: AggSpec = field(default_factory=AggSpec)
    _window: RowPredicate = field(default_factory=RowPredicate, init=False, repr=False)
    _join: SpatialJoin | None = field(default=None, init=False, repr=False)

    def __post_init__(self) -> None:
        # No repartition before the persist: it runs the Arrow stages in
        # more Python workers and measured higher peak RSS (CLAUDE.md).
        self.points = self.points.persist()
        self.points.count()
        if self.polyset is not None:
            self.set_polygon_query(self.polyset)

    # ----------------------------------------------------- query setup

    def set_polygon_query(self, polyset: PolygonSet) -> "QueryEngine":
        """Select the collection; its SpatialJoin is built here, once,
        and serves every request until the collection changes."""
        if self._join is None or polyset is not self.polyset:
            self._join = SpatialJoin(self.spark, polyset, self.grid)
        self.polyset = polyset
        return self

    def set_query_constraints(self, constraints: list[QueryConstraint]) -> "QueryEngine":
        self.constraints = list(constraints)
        return self

    def set_aggregation(self, agg: Aggregation, attr: str | None = None) -> "QueryEngine":
        if agg is Aggregation.COUNT:
            self.agg = AggSpec("count", None, "agg")
            return self
        if not attr:
            raise ValueError(f"{agg.name} needs an attribute (DataHandler.cpp:68-71)")
        self.agg = AggSpec(agg.name.lower(), attr, "agg")
        return self

    def execute_query(
        self,
        box: tuple[float, float, float, float] | None = None,
        t0: str | None = None,
        t1: str | None = None,
        ts_col: str = "warc_ts",
    ) -> "QueryEngine":
        """Coarse sigma: cell-granular superset of the query window
        (HashGridIndex.cpp:78-137), plus the inclusive time bounds. If box
        is None, uses the polygon collection's bbox like the reference
        (main.cpp:131-134).

        The window and the bounds are kept as data (a RowPredicate), not
        as a Spark filter: :meth:`execute_function` adds the constraints
        and the kernel evaluates all of it on each Arrow batch. The
        window keeps a point whose cell on the engine grid
        (``floor((v - origin) / cell)`` in float64) is in
        ``mbr_cell_range(box)``; a NULL or NaN coordinate fails it. The
        bounds ``t0``/``t1`` are inclusive, ``YYYY-MM-DD[ HH:MM:SS[.ffffff]]``
        naive timestamps compared with the ``TIMESTAMP_NTZ`` column
        ``ts_col`` (read only when a bound is set); a NULL timestamp fails
        them. A bound in any other form, or a time column of another
        type, raises ValueError here."""
        if box is None:
            if self.polyset is None:
                raise ValueError("execute_query needs a box or a polygon collection")
            box = self.polyset.bbox
        cells = self._sj().grid.mbr_cell_range(*box)
        t0_us = None if t0 is None else ts_bound_us(t0)
        t1_us = None if t1 is None else ts_bound_us(t1)
        if t0_us is not None or t1_us is not None:
            schema = self.points.schema
            found = schema[ts_col].dataType if ts_col in schema.fieldNames() else None
            if not isinstance(found, T.TimestampNTZType):
                what = "no such column" if found is None else found.simpleString()
                raise ValueError(f"time column {ts_col!r} is not TIMESTAMP_NTZ ({what})")
        self._window = RowPredicate(cells, ts_col, t0_us, t1_us)
        return self

    # ------------------------------------------------------- execution

    def _sj(self) -> SpatialJoin:
        if self._join is None:
            raise ValueError("no polygon collection: call set_polygon_query first")
        return self._join

    def execute_function(self, fn: str) -> DataFrame:
        """fn codes per GLHandler.cpp:228 / CPUJoin.cpp:146-151:
        raster | index | hybrid | errorbounds | cpu.

        The request's one Spark job runs here, at call time; the result
        is a small local DataFrame (one row per polygon) whose collect
        runs no job.

        The request's predicate (the :meth:`execute_query` window and
        bounds, AND every constraint) runs inside the kernel, on the
        cached columns: the Spark plan is InMemoryTableScan -> MapInArrow
        with no Filter and no literal of the request, the same for every
        request over the same columns, so no request compiles generated
        code. Constraints follow Spark SQL: a NULL value fails; a numeric
        column compares with an int or float literal in the type Spark
        coerces them to; in floating point NaN equals NaN and sorts above
        every number, and -0.0 equals 0.0; a string column compares with
        a string literal, bytewise. Any other pairing raises ValueError
        naming the constraint, before the job runs."""
        sj = self._sj()
        if fn not in ("raster", "index", "hybrid", "cpu", "errorbounds"):
            raise ValueError(f"unknown join type {fn!r}")
        schema = self.points.schema
        where = replace(
            self._window,
            terms=tuple(bind_term(schema, c.attr, c.op.name, c.value) for c in self.constraints),
        )
        if fn == "raster":
            return sj.raster_join(self.points, self.agg, where=where)
        if fn == "index":
            return sj.index_join(self.points, self.agg, where=where)
        if fn == "errorbounds":
            return sj.error_bounds(self.points, where=where)
        # J5 (cpu): identical semantics; the one-pass kernel IS the
        # CPU-join shape (per-task partials + merge)
        return sj.hybrid_join(self.points, self.agg, where=where)
