"""Gorilla-compressed block storage for the 1m tier (SURVEY.md F7,
FIXTURES.md F-5).

At 10^12 sequences the raw 1-minute tier is the volume problem: one
row per token. These operators store it as one compressed block per
(series, UTC day) — ~14 bits/point on token walks vs 96+ raw. The
blocks are the ``blocks`` list of ``rollup.series_kernel``'s per-series
row (one narrow ``mapInArrow`` pass, no shuffle: each input row carries
its whole series), inlined on the JVM side. Decompression is the exact
inverse; round-trip token-array equality is the per-row invariant
(BASELINE.json input_hint) and is enforced in tests.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions import gorilla
from .rollup import blocks_rows, series_kernel

TOKENS_ARROW = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
])


def compress_tokens(tokens_df: DataFrame) -> DataFrame:
    """tokens table -> Gorilla blocks, one row per (doc_id, day):
    ``doc_id, source, tier='1m', bucket_day, t0, v0, n, payload``. For
    the canonical 144-token (one day at 1-minute grain) series this is
    one block per series; longer series split on UTC-day boundaries.
    The ``blocks`` output of ``rollup.series_kernel``, inlined."""
    return blocks_rows(series_kernel(tokens_df, ("blocks",)))


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
                toks_out.append(vals2d.astype(np.int32).ravel())
                order.append(idx)
            order_all = np.concatenate(order)
            inv = pa.array(order_all, type=pa.int64())
            # the decoded blocks are row-major runs: one flat values
            # buffer plus offsets, no per-row Python lists
            offsets = np.concatenate([[0], np.cumsum(n[order_all])])
            tokens = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()),
                pa.array(np.concatenate(toks_out), type=pa.int32()))
            yield pa.RecordBatch.from_arrays([
                _as_array(col["doc_id"]).take(inv),
                tokens,
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
