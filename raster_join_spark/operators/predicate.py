"""A request's row predicate as data the Arrow kernel evaluates.

``QueryEngine`` used to hand Spark one ``Filter`` per request: the
window, the time bounds and the constraints with the request's literals
in it. New literals meant new generated code, so every request compiled
(3 classes, ~20 ms) and planned a new query. A :class:`RowPredicate`
travels inside the kernel's closure instead: the Spark plan over the
cached points is the same for every request, and each Arrow batch is
masked in numpy/pyarrow before membership runs.

Semantics are Spark SQL's, evaluated exactly:

- the window keeps a point whose cell ``floor((v - origin) / cell)``
  (float64, the arithmetic of ``GridSpec.window_spark_sql``) lies in the
  ``mbr_cell_range``; a NULL or NaN coordinate fails it;
- the time bounds are inclusive, compared as int64 microseconds on a
  ``TIMESTAMP_NTZ`` column; a NULL timestamp fails them;
- a constraint on a NULL value fails; a numeric column compares with a
  numeric literal in the type Spark coerces both to (exact integers, or
  float64 as soon as either side is FLOAT or DOUBLE); in floating point
  NaN equals NaN and sorts above every number, and -0.0 equals 0.0; a
  string column compares with a string literal bytewise.

Input the kernel cannot evaluate exactly raises ``ValueError`` when the
predicate is built, naming it; nothing falls back to another path.
"""

from __future__ import annotations

import datetime as dt
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T

from raster_join_spark.geo.grid import GridSpec

OPS = ("EQ", "LT", "LTE", "GT", "GTE")
INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_TS = re.compile(r"(\d{4})-(\d{2})-(\d{2})(?:[ T](\d{2}):(\d{2}):(\d{2})(?:\.(\d{1,6}))?)?", re.ASCII)
_EPOCH = dt.datetime(1970, 1, 1)


def ts_bound_us(t: str) -> int:
    """A time bound ``YYYY-MM-DD[( |T)HH:MM:SS[.ffffff]]`` as int64
    microseconds since 1970-01-01, the value ``CAST(t AS TIMESTAMP_NTZ)``
    gives it. Any other text (a time zone, quotes, a looser form Spark
    would also accept) raises ValueError."""
    m = _TS.fullmatch(t) if isinstance(t, str) else None
    if m is None:
        raise ValueError(
            f"time bound {t!r} is not a naive timestamp 'YYYY-MM-DD[ HH:MM:SS[.ffffff]]'"
        )
    year, month, day, hh, mm, ss, frac = m.groups()
    try:
        when = dt.datetime(
            int(year), int(month), int(day), int(hh or 0), int(mm or 0), int(ss or 0),
            int((frac or "0").ljust(6, "0")),
        )
    except ValueError as e:
        raise ValueError(f"time bound {t!r}: {e}") from None
    return (when - _EPOCH) // dt.timedelta(microseconds=1)


def bind_term(schema: T.StructType, attr: str, op: str, value: object) -> tuple:
    """``attr op value`` resolved against ``schema`` into the kernel's
    ``(attr, op, kind, literal)``: ``kind`` is the type both sides are
    compared in — ``int`` (an integral column against an int, exact),
    ``float`` (float64, where Spark casts both sides to DOUBLE: any
    float literal, and any FLOAT or DOUBLE column), ``str``, or ``null``
    for a NULL literal, which no row passes. A mismatch raises
    ValueError naming the constraint."""
    name = f"constraint {attr} {op} {value!r}"
    if op not in OPS:
        raise ValueError(f"{name}: unknown operator")
    if attr not in schema.fieldNames():
        raise ValueError(f"{name}: no column {attr!r}")
    col = schema[attr].dataType
    if value is None:
        return (attr, op, "null", None)
    if isinstance(col, T.StringType):
        if not isinstance(value, str):
            raise ValueError(f"{name}: a string column compares only with a string")
        try:
            value.encode("utf-8")
        except UnicodeEncodeError:
            raise ValueError(f"{name}: the string is not valid UTF-8") from None
        return (attr, op, "str", value)
    if not isinstance(col, (*INTEGRAL, T.FloatType, T.DoubleType)):
        raise ValueError(f"{name}: column type {col.simpleString()} is not supported")
    if isinstance(value, bool) or not isinstance(value, (int, float)):
        raise ValueError(f"{name}: a numeric column compares only with an int or a float")
    if isinstance(value, float):
        return (attr, op, "float", value)
    if not -(2**63) <= value < 2**63:
        raise ValueError(f"{name}: integer literal outside int64")
    if isinstance(col, INTEGRAL):
        return (attr, op, "int", int(value))
    return (attr, op, "float", float(value))


def _compare(v: np.ndarray, op: str, lit) -> np.ndarray:
    """``v op lit`` for int64 values, or float64 values under Spark's
    ordering (NaN = NaN, NaN above every number, -0.0 = 0.0)."""
    if v.dtype.kind == "f" and np.isnan(lit):
        nan = np.isnan(v)
        if op in ("EQ", "GTE"):
            return nan
        return ~nan if op == "LT" else np.full(len(v), op == "LTE")
    if op == "EQ":
        return v == lit
    if op == "LT":
        return v < lit
    if op == "LTE":
        return v <= lit
    out = v > lit if op == "GT" else v >= lit
    return out | np.isnan(v) if v.dtype.kind == "f" else out


@dataclass(frozen=True)
class RowPredicate:
    """The window, time bounds and constraints of one request.

    ``cells`` is ``(stx, sty, enx, eny)``, an ``mbr_cell_range`` on the
    grid handed to :meth:`mask` (None: no window). ``t0_us``/``t1_us``
    are inclusive bounds on column ``ts`` (None: unbounded). ``terms``
    are :func:`bind_term` tuples, ANDed."""

    cells: tuple[int, int, int, int] | None = None
    ts: str = "warc_ts"
    t0_us: int | None = None
    t1_us: int | None = None
    terms: tuple[tuple, ...] = ()

    def columns(self) -> list[str]:
        """The columns the predicate reads besides the coordinates: the
        time column only when a bound is set, then the constrained
        attributes in sorted order, so requests over the same attributes
        project the same columns and share one plan."""
        ts = [self.ts] if self.t0_us is not None or self.t1_us is not None else []
        return ts + sorted({t[0] for t in self.terms} - set(ts))

    def mask(self, rb: pa.RecordBatch, grid: GridSpec, x: str, y: str) -> np.ndarray:
        """Boolean row mask of one Arrow batch."""
        names = rb.schema.names

        def col(name: str):
            return rb.column(names.index(name))

        keep = np.ones(rb.num_rows, np.bool_)
        if self.cells is not None:
            stx, sty, enx, eny = self.cells
            for name, origin, size, lo, hi in (
                (x, grid.x0, grid.cell_w, stx, enx),
                (y, grid.y0, grid.cell_h, sty, eny),
            ):
                v = np.asarray(col(name).to_numpy(zero_copy_only=False), np.float64)
                f = np.floor((v - origin) / size)  # NULL arrives as NaN and fails
                keep &= (f >= lo) & (f < hi)
        if self.t0_us is not None or self.t1_us is not None:
            t = col(self.ts).cast(pa.int64())
            v = t.fill_null(0).to_numpy(zero_copy_only=False)
            keep &= t.is_valid().to_numpy(zero_copy_only=False)
            if self.t0_us is not None:
                keep &= v >= self.t0_us
            if self.t1_us is not None:
                keep &= v <= self.t1_us
        for attr, op, kind, lit in self.terms:
            arr = col(attr)
            if kind == "null":
                keep[:] = False
                continue
            if kind == "str":
                fn = {"EQ": pc.equal, "LT": pc.less, "LTE": pc.less_equal,
                      "GT": pc.greater, "GTE": pc.greater_equal}[op]
                keep &= fn(arr, pa.scalar(lit, arr.type)).fill_null(False).to_numpy(
                    zero_copy_only=False
                )
                continue
            keep &= arr.is_valid().to_numpy(zero_copy_only=False)
            v = np.asarray(
                arr.fill_null(0).to_numpy(zero_copy_only=False),
                np.int64 if kind == "int" else np.float64,
            )
            keep &= _compare(v, op, lit)
        return keep
