"""Custom stateful streaming operator: first-seen URL deduplication.

A crawl firehose re-fetches pages; the training-data pipeline wants each
url exactly once. Built on ``applyInPandasWithState`` (Arrow-batched,
per-group state) — the custom-stateful-operator escape hatch for
semantics the built-in streaming aggregations can't express:

- stream is keyed by a url-hash BUCKET (not url!) so state rows stay
  bounded and shuffle keys are uniform: 2^b buckets, each holding the
  set of seen url hashes as a compact binary blob
- per micro-batch and bucket, new urls are emitted and the bucket's seen
  set is updated; duplicates (within or across batches) are dropped
- state stores 8-byte xxhash64 digests, not urls: ~8 bytes per distinct
  url, sharded across buckets — at 10^12 urls this is the standard
  scale trade (false-positive probability ~n²/2^64 per bucket, negligible)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from raster_join_spark.session import drop_zip_finders

STATE_SCHEMA = T.StructType([T.StructField("seen", T.BinaryType(), True)])
OUT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
    ]
)


def _dedup_group(key, pdf_iter, state: GroupState):
    drop_zip_finders()
    # fully vectorized first-seen filter (no per-row Python): per Arrow
    # chunk, keep rows whose hash is (a) not in the persisted seen set,
    # (b) not emitted by an earlier chunk of this same batch, and
    # (c) the chunk's own first occurrence — identical emission order to
    # a row loop because every mask preserves row order
    seen = np.frombuffer(state.get[0], dtype=np.int64) if state.exists else np.empty(0, np.int64)
    parts: list[pd.DataFrame] = []
    batch_new = np.empty(0, np.int64)
    for pdf in pdf_iter:
        h = pdf["url_hash"].to_numpy(np.int64)
        keep = ~pd.Series(h).duplicated().to_numpy()  # (c)
        keep &= np.isin(h, seen, invert=True)  # (a)
        if batch_new.size:
            keep &= np.isin(h, batch_new, invert=True)  # (b)
        if keep.any():
            parts.append(pdf.loc[keep, ["url", "url_hash"]])
            batch_new = np.concatenate([batch_new, h[keep]])
    # only rewrite state when this batch actually added urls: the
    # steady-state crawl case is mostly re-fetches, and an unconditional
    # update would pay serialize + state write of the WHOLE seen set per
    # batch per bucket even when nothing changed. (When urls WERE added,
    # union1d internally sorts the concatenation — that full-sort cost
    # is accepted; the win here is the no-change skip.)
    if batch_new.size:
        state.update((np.union1d(seen, batch_new).tobytes(),))
    out_urls = (
        pd.concat(parts, ignore_index=True)["url"]
        if parts
        else pd.Series([], dtype=object)
    )
    yield pd.DataFrame(
        {
            "bucket": np.full(len(out_urls), key[0], dtype=np.int64),
            "url": out_urls,
            "url_hash": batch_new,
        }
    )


def streaming_first_seen(stream: DataFrame, n_bucket_bits: int = 6) -> DataFrame:
    """Emit each url the first time it appears on the stream."""
    keyed = stream.select(
        F.pmod(F.xxhash64("url"), F.lit(1 << n_bucket_bits)).alias("bucket"),
        "url",
        F.xxhash64("url").alias("url_hash"),
    )
    return keyed.groupBy("bucket").applyInPandasWithState(
        _dedup_group,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
