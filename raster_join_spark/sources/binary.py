"""Fixed-width binary record ingest — the reference's native file format
(S1 parity adapter, round-3 verdict item 6).

The reference reads flat little-endian C-struct row files and derives the
record count from file size / record size (RasterJoin/db/Dataset.cpp:13-57);
the two shipped layouts are the 88-byte taxi record
(db/TaxiRecord.hpp:15-46) and the 32-byte tweet record
(db/TwitterRecord.hpp:19-28). This module lets those datasets replay
through the engine without an external conversion step.

Spark-first design (how this scales to a 100 TB directory of record
files):
- the DRIVER only lists files and sizes (pure metadata, like a
  FileIndex); record counts come from size / record_size exactly as the
  reference derives them;
- the file list expands into a SPLITS table (path, offset, n_records)
  with offsets aligned to whole records and a target split size — the
  moral equivalent of FileScan partitioning, so one file fans out over
  many executors and many small files batch into few tasks;
- each task decodes its byte range with ONE numpy structured-dtype read
  (zero parsing per field, no per-row Python) and emits Arrow batches;
  only the REQUESTED columns are converted — column pruning at the
  decode seam.

Byte order is little-endian (the reference's x86 writers); numpy dtypes
pin '<' explicitly so the adapter is correct on any host.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from raster_join_spark.session import drop_zip_finders

# numpy packed layouts == the C structs' natural layout (every field is
# naturally aligned in declaration order, so packed == aligned; itemsize
# asserts guard the parity)
TAXI_DTYPE = np.dtype(
    [
        ("db_idx", "<u8"),
        ("pick_x", "<f8"),
        ("pick_y", "<f8"),
        ("drop_x", "<f8"),
        ("drop_y", "<f8"),
        ("pickup_time", "<u8"),
        ("dropoff_time", "<u8"),
        ("vendor", "S4"),
        ("duration", "<u4"),
        ("miles", "<f4"),
        ("fare", "<u2"),
        ("surcharge", "<u2"),
        ("mta_tax", "<u2"),
        ("tip", "<u2"),
        ("toll", "<u2"),
        ("total", "<u2"),
        ("medallion_id", "<u2"),
        ("license_id", "<u2"),
        ("store_and_forward", "?"),
        ("payment_type", "u1"),
        ("passengers", "u1"),
        ("rate_code", "u1"),
    ]
)
assert TAXI_DTYPE.itemsize == 88  # TaxiRecord.hpp:15 "size = 88 bytes"

TWITTER_DTYPE = np.dtype(
    [
        ("user_id", "<i8"),
        ("time", "<i8"),
        ("loc_x", "<f4"),
        ("loc_y", "<f4"),
        ("fav_ct", "<i4"),
        ("rt_ct", "<i4"),
    ]
)
assert TWITTER_DTYPE.itemsize == 32  # TwitterRecord.hpp:14 "size = 32 bytes"


def _spark_type(np_dtype: np.dtype):
    kind = np_dtype.kind
    if kind == "b":
        return T.BooleanType()
    if kind == "u":
        # Spark has no unsigned types: u4 must WIDEN to long (an int32
        # mapping would wrap values >= 2^31 negative, e.g. taxi
        # `duration`); u8 narrows to signed long — the reference's
        # ids/timestamps never use the high bit
        return T.LongType() if np_dtype.itemsize >= 4 else T.IntegerType()
    if kind == "i":
        return T.LongType() if np_dtype.itemsize > 4 else T.IntegerType()
    if kind == "f":
        return T.DoubleType() if np_dtype.itemsize == 8 else T.FloatType()
    if kind == "S":
        return T.StringType()
    raise TypeError(f"unsupported field dtype {np_dtype}")


@dataclass(frozen=True)
class RecordLayout:
    name: str
    dtype: np.dtype

    @property
    def record_size(self) -> int:
        return self.dtype.itemsize

    def spark_schema(self, fields: list[str] | None = None) -> T.StructType:
        names = fields or list(self.dtype.names)
        return T.StructType(
            [T.StructField(n, _spark_type(self.dtype[n]), True) for n in names]
        )


TAXI_LAYOUT = RecordLayout("taxi", TAXI_DTYPE)
TWITTER_LAYOUT = RecordLayout("twitter", TWITTER_DTYPE)


def plan_splits(
    paths: list[str], record_size: int, split_records: int
) -> list[tuple[str, int, int]]:
    """(path, record_offset, n_records) splits; counts derived from file
    size exactly like the reference (Dataset.cpp:44-52 size/recordSize —
    a trailing partial record is ignored the same way)."""
    out = []
    for p in paths:
        n = os.path.getsize(p) // record_size
        for s in range(0, n, split_records):
            out.append((p, s, min(split_records, n - s)))
    return out


def read_binary_records(
    spark: SparkSession,
    path: str,
    layout: RecordLayout,
    fields: list[str] | None = None,
    split_records: int = 4_000_000,
) -> DataFrame:
    """Distributed scan of a fixed-width binary file or directory.

    ``fields`` prunes decode + transfer to the requested columns (the
    adapter's ReadSchema). ``split_records`` bounds per-task input
    (default ~344 MB of taxi records); the splits table is tiny driver
    metadata regardless of data volume.
    """
    if os.path.isdir(path):
        paths = sorted(
            p
            for f in os.listdir(path)
            if not f.startswith((".", "_"))
            and os.path.isfile(p := os.path.join(path, f))
        )
    else:
        paths = [path]
    names = fields or list(layout.dtype.names)
    for n in names:
        if n not in layout.dtype.names:
            raise KeyError(f"unknown field {n!r} for layout {layout.name}")
    splits = plan_splits(paths, layout.record_size, split_records)
    splits_df = spark.createDataFrame(
        splits,
        T.StructType(
            [
                T.StructField("path", T.StringType(), False),
                T.StructField("rec_off", T.LongType(), False),
                T.StructField("n_rec", T.LongType(), False),
            ]
        ),
    ).repartition(max(len(splits), 1))
    np_dtype = layout.dtype
    rec_size = layout.record_size
    out_schema = layout.spark_schema(names)

    def decode(iterator):
        drop_zip_finders()
        import pyarrow as pa

        for rb in iterator:
            pdf = rb.to_pydict()
            for path_, off, n in zip(pdf["path"], pdf["rec_off"], pdf["n_rec"]):
                rec = np.fromfile(
                    path_, dtype=np_dtype, count=int(n), offset=int(off) * rec_size
                )
                for s in range(0, len(rec), 65536):
                    chunk = rec[s : s + 65536]
                    arrays = []
                    for name in names:
                        col = chunk[name]
                        if col.dtype.kind == "S":
                            arrays.append(
                                pa.array(np.char.decode(col, "ascii").tolist())
                            )
                        elif col.dtype.kind == "u" and col.dtype.itemsize >= 4:
                            # widen, matching _spark_type's LongType (u4
                            # values >= 2^31 must not wrap)
                            arrays.append(pa.array(col.astype(np.int64)))
                        elif col.dtype.kind in ("i", "u") and col.dtype.itemsize <= 4:
                            arrays.append(pa.array(col.astype(np.int32)))
                        else:
                            arrays.append(pa.array(col))
                    yield pa.RecordBatch.from_arrays(arrays, names=list(names))

    return splits_df.mapInArrow(decode, out_schema)


def write_binary_records(path: str, layout: RecordLayout, columns: dict) -> int:
    """Write a flat record file in the reference's format (test/fixture
    synthesis and interop export). ``columns`` maps field name -> array;
    unlisted fields are zero-filled. Returns the record count."""
    ns = {len(np.asarray(v)) for v in columns.values()}
    assert len(ns) == 1, "all columns must share one length"
    n = ns.pop()
    rec = np.zeros(n, dtype=layout.dtype)
    for name, vals in columns.items():
        if layout.dtype[name].kind == "S":
            rec[name] = np.asarray(vals, dtype=layout.dtype[name])
        else:
            rec[name] = np.asarray(vals).astype(layout.dtype[name])
    rec.tofile(path)
    return n
