"""Gorilla-compressed block storage for the 1m tier (SURVEY.md F7,
FIXTURES.md F-5).

At 10^12 sequences the raw 1-minute tier is the volume problem: one
row per token. These operators store it as one compressed block per
(series, UTC day) — ~14 bits/point on token walks vs 96+ raw — via a
single narrow ``mapInArrow`` pass (no shuffle: each input row carries
its whole series). Decompression is the exact inverse; round-trip
token-array equality is the per-row invariant (BASELINE.json
input_hint) and is enforced in tests.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions import gorilla
from .rollup import (EPOCH_SECONDS, arrow_schema, const_str, series_batches,
                     tier_columns)

BLOCKS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("source", T.StringType(), False),
    T.StructField("tier", T.StringType(), False),
    T.StructField("bucket_day", T.DateType(), False),
    T.StructField("t0", T.LongType(), False),
    T.StructField("v0", T.LongType(), False),
    T.StructField("n", T.IntegerType(), False),
    T.StructField("payload", T.BinaryType(), True),
])

TOKENS_ARROW = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
])

#: points per UTC-day block at 1-minute grain
DAY_POINTS = 1440


def block_columns(idx: np.ndarray, vals: np.ndarray):
    """The Gorilla block encoder for one run of equal-length series:
    widen to int64 (sign-extended XOR), then per UTC day yield
    ``(take, columns)`` — the Arrow row indices into the input batch
    and the ``bucket_day, t0, v0, n, payload`` columns of
    :data:`BLOCKS_SCHEMA`."""
    vals = vals.astype(np.int64, copy=False)
    take = pa.array(idx, type=pa.int64())
    nt = vals.shape[1]
    for s in range(0, nt, DAY_POINTS):
        e = min(s + DAY_POINTS, nt)
        ts = EPOCH_SECONDS + np.arange(s, e, dtype=np.int64) * 60
        t0, v0, n, payloads = gorilla.encode_batch_arrow(
            np.broadcast_to(ts, (len(idx), e - s)), vals[:, s:e])
        day = np.full(len(idx), (EPOCH_SECONDS + s * 60) // 86400, dtype=np.int32)
        yield take, [pa.array(day, type=pa.date32()),
                     pa.array(t0, type=pa.int64()),
                     pa.array(v0, type=pa.int64()),
                     pa.array(n.astype(np.int32), type=pa.int32()),
                     payloads]


def compress_tokens(tokens_df: DataFrame) -> DataFrame:
    """tokens table -> Gorilla blocks, one per (doc_id, day). For the
    canonical 144-token (one day at 1-minute grain) series this is one
    block per series; longer series split on UTC-day boundaries."""
    schema = arrow_schema(BLOCKS_SCHEMA)

    def fn(batches):
        for c_doc, c_src, idx, vals in series_batches(batches):
            for take, cols in block_columns(idx, vals):
                yield pa.RecordBatch.from_arrays(
                    [c_doc.take(take), c_src.take(take),
                     const_str("1m", len(take)), *cols], schema=schema)

    return tokens_df.mapInArrow(fn, BLOCKS_SCHEMA)


#: union schema for the fused pass: kind='block' rows carry the Gorilla
#: block columns, kind='tier' rows the rollup columns; unused columns
#: are null. One scan + one Python pass instead of two.
FUSED_SCHEMA = T.StructType([
    T.StructField("kind", T.StringType(), False),
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("source", T.StringType(), False),
    # block columns
    T.StructField("bucket_day", T.DateType(), True),
    T.StructField("t0", T.LongType(), True),
    T.StructField("v0", T.LongType(), True),
    T.StructField("n", T.IntegerType(), True),
    T.StructField("payload", T.BinaryType(), True),
    # tier columns
    T.StructField("tier", T.StringType(), True),
    T.StructField("bucket", T.LongType(), True),
    T.StructField("cnt", T.LongType(), True),
    T.StructField("sum", T.LongType(), True),
    T.StructField("min", T.LongType(), True),
    T.StructField("max", T.LongType(), True),
    T.StructField("first", T.LongType(), True),
    T.StructField("last", T.LongType(), True),
    T.StructField("n_filled", T.LongType(), True),
])


def compress_and_cascade(tokens_df: DataFrame,
                         tiers: tuple[str, ...] = ("1h", "1d")) -> DataFrame:
    """The production pipeline's whole per-series compute in ONE narrow
    mapInArrow pass: Gorilla 1m blocks AND the coarse-tier rollups from
    a single scan + a single Arrow transfer (the two-pass version reads
    and ships every token twice). Output is a tagged union
    (``kind`` = 'block' | 'tier'); split it with two filters — at
    100 TB that halves the dominant cost (scan + JVM->Python transfer)
    of the production pipeline. Zero shuffles, like both parents."""
    schema = arrow_schema(FUSED_SCHEMA)
    block_nulls, tier_nulls = schema.types[3:8], schema.types[8:]

    def fn(batches):
        for c_doc, c_src, idx, vals in series_batches(batches):
            for take, cols in block_columns(idx, vals):
                m = len(take)
                yield pa.RecordBatch.from_arrays(
                    [const_str("block", m), c_doc.take(take), c_src.take(take),
                     *cols, *(pa.nulls(m, t) for t in tier_nulls)],
                    schema=schema)
            for tier, take, cols in tier_columns(idx, vals, tiers):
                m = len(take)
                yield pa.RecordBatch.from_arrays(
                    [const_str("tier", m), c_doc.take(take), c_src.take(take),
                     *(pa.nulls(m, t) for t in block_nulls),
                     const_str(tier, m), *cols], schema=schema)

    return tokens_df.mapInArrow(fn, FUSED_SCHEMA)


DECOMP_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType()), False),
    T.StructField("n_tok", T.IntegerType(), False),
    T.StructField("source", T.StringType(), False),
    T.StructField("t0", T.LongType(), False),
])

_DECOMP_ARROW = pa.schema(list(TOKENS_ARROW) + [pa.field("t0", pa.int64())])


def decompress_tokens(blocks_df: DataFrame) -> DataFrame:
    """Gorilla blocks -> tokens rows, one per day-block, carrying the
    block start timestamp ``t0`` (sort by it to reassemble multi-day
    series). Columns are resolved by NAME: a partitioned read-back
    moves partition columns to the end."""

    def fn(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            col = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
            t0 = col["t0"].to_numpy(zero_copy_only=False)
            v0 = col["v0"].to_numpy(zero_copy_only=False)
            n = col["n"].to_numpy(zero_copy_only=False).astype(np.int64)
            payloads = col["payload"].to_pylist()
            toks_out = []
            order = []
            for nt in np.unique(n):
                idx = np.nonzero(n == nt)[0]
                _, vals2d = gorilla.decode_batch(
                    t0[idx], v0[idx], n[idx], [payloads[i] for i in idx])
                toks_out.append(vals2d.astype(np.int32))
                order.append(idx)
            order_all = np.concatenate(order)
            inv = pa.array(order_all, type=pa.int64())
            flat_lists = pa.array(
                [row for block in toks_out for row in block],
                type=pa.list_(pa.int32()))
            yield pa.RecordBatch.from_arrays([
                _as_array(col["doc_id"]).take(inv),
                flat_lists,
                pa.array(n[order_all].astype(np.int32), type=pa.int32()),
                _as_array(col["source"]).take(inv),
                pa.array(t0[order_all], type=pa.int64()),
            ], schema=_DECOMP_ARROW)

    return blocks_df.mapInArrow(fn, DECOMP_SCHEMA)


def _as_array(col):
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if pa.types.is_dictionary(col.type):
        col = col.dictionary_decode()
    return col.cast(pa.string())
