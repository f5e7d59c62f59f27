"""Rollup cascade + gap-fill + retention (SURVEY.md A10/W1/J4).

The reference's data model has time implicit in column position
(weekly / 20-minute grids, reference includes/io.py:114-134) and does
NOT handle its ``-1`` "not published yet" placeholders. This module is
the principled Spark-native replacement: position -> timestamp, LOCF
gap-fill, and a 1m/1h/1d continuous-aggregate cascade where every
aggregate is re-aggregable (count/sum/min/max/first/last), so each
tier derives from the previous one, never from raw data.

Scale design (the part that matters at 10^12 sequences):

- ZERO shuffles for the tokens cascade (r6): each input row carries its
  whole series, so every tier is computed array-locally in a narrow
  ``mapInArrow`` pass — no explode, no window sort, no per-point hash
  aggregate (tests/test_rollup.py::test_cascade_zero_shuffle_plan).
  The declarative long-form plan survives as
  :func:`cascade_declarative` (exactly ONE shuffle: the upfront
  ``repartition(source, doc_id)`` that the LOCF window and every tier
  groupBy reuse — ::test_single_shuffle_plan); it is the independent
  implementation backing the parity certificates.
- ONE kernel serves every tokens write operator: :func:`series_kernel`
  is a single ``mapInArrow`` runner that emits one nested row per
  series — ``(doc_id, source, blocks, t_1m, t_1h, t_1d)``, any subset
  of the list columns — built on :func:`series_batches` (the only
  Arrow-batch adapter: NumPy matrices per run of equal ``n_tok``),
  :func:`_tier_reduce` and ``gorilla.encode_batch_arrow``.
  :func:`cascade_fast`, :func:`cascade`, ``compress.compress_tokens``
  and the pipeline's three tables are JVM-side ``inline`` projections
  of it — zero shuffles, linear scan, exact integer arithmetic
  (token-array equality is preserved end-to-end), each string shipped
  across the Arrow boundary once per series.
- first/last use min_by/max_by on the bucket/position, not
  order-dependent ``first()``, so results are partition-layout
  independent.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..functions import gorilla

EPOCH = "2024-01-01 00:00:00"
EPOCH_SECONDS = 1704067200  # 2024-01-01T00:00:00Z

#: minutes per bucket for each retention tier
TIERS = {"1m": 1, "1h": 60, "1d": 1440}

#: default retention policy (buckets to keep per tier; None = forever)
DEFAULT_RETENTION = {"1m": 7 * 1440, "1h": 90 * 24, "1d": None}


# ---------------------------------------------------------------------------
# long form + gap-fill
# ---------------------------------------------------------------------------

def tokens_long(tokens_df: DataFrame, sentinel: int = -1) -> DataFrame:
    """tokens table -> long form (source, doc_id, pos, ts, value).

    ``sentinel`` values become NULL (the reference leaves them in the
    data untouched; we surface them as gaps). ``ts`` maps position ->
    EPOCH + pos minutes.
    """
    return (
        tokens_df
        .select("source", "doc_id", F.posexplode("tokens").alias("pos", "raw"))
        .withColumn("value", F.when(F.col("raw") == sentinel, None)
                    .otherwise(F.col("raw")).cast("long"))
        .withColumn("ts", F.timestamp_seconds(F.lit(EPOCH_SECONDS) + F.col("pos") * 60))
        .drop("raw")
    )


def gapfill_locf(long_df: DataFrame,
                 series_cols: tuple[str, ...] = ("source", "doc_id"),
                 order_col: str = "pos",
                 value_col: str = "value") -> DataFrame:
    """Last-observation-carried-forward over each series (W1).

    Leading gaps (no prior observation) stay NULL. Adds
    ``filled`` = true where the value was carried rather than observed.
    The window partitions by the series keys — with the cascade's
    upfront repartition this needs no extra shuffle.
    """
    w = (Window.partitionBy(*series_cols).orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, 0))
    return (
        long_df
        .withColumn("_locf", F.last(value_col, ignorenulls=True).over(w))
        .withColumn("filled", F.col(value_col).isNull() & F.col("_locf").isNotNull())
        .withColumn(value_col, F.col("_locf"))
        .drop("_locf")
    )


def gapfill_interpolate(long_df: DataFrame,
                        series_cols: tuple[str, ...] = ("source", "doc_id"),
                        order_col: str = "pos",
                        value_col: str = "value") -> DataFrame:
    """Linear-interpolation gap-fill over each series (the
    TimescaleDB ``interpolate()`` analogue to :func:`gapfill_locf`):
    a NULL at position p between observations (p0, v0) and (p1, v1)
    becomes v0 + (v1 - v0) * (p - p0) / (p1 - p0), as DOUBLE. Leading
    and trailing gaps (no observation on one side) stay NULL. Adds
    ``filled`` = true where a value was interpolated.

    Pure window functions over the same series partitioning as LOCF
    (two passes over one Exchange: last/ignoreNulls looking back,
    first/ignoreNulls looking forward) — no UDF, no extra shuffle
    under the cascade's upfront repartition."""
    back = (Window.partitionBy(*series_cols).orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, 0))
    fwd = (Window.partitionBy(*series_cols).orderBy(order_col)
           .rowsBetween(0, Window.unboundedFollowing))
    v = F.col(value_col)
    prev_v = F.last(value_col, ignorenulls=True).over(back)
    next_v = F.first(value_col, ignorenulls=True).over(fwd)
    prev_p = F.last(F.when(v.isNotNull(), F.col(order_col)),
                    ignorenulls=True).over(back)
    next_p = F.first(F.when(v.isNotNull(), F.col(order_col)),
                     ignorenulls=True).over(fwd)
    interp = (prev_v.cast("double")
              + (next_v - prev_v).cast("double")
              * (F.col(order_col) - prev_p).cast("double")
              / (next_p - prev_p).cast("double"))
    filled = v.isNull() & prev_v.isNotNull() & next_v.isNotNull()
    return (long_df
            .withColumn("_interp",
                        F.when(v.isNotNull(), v.cast("double"))
                        .when(filled, interp))
            .withColumn("filled", filled)
            .withColumn(value_col, F.col("_interp"))
            .drop("_interp"))


# ---------------------------------------------------------------------------
# cascade (long-form, general path)
# ---------------------------------------------------------------------------

_AGGS = ["cnt", "sum", "min", "max", "first", "last", "n_filled"]


def rollup_base(long_df: DataFrame, tier: str = "1m",
                series_cols: tuple[str, ...] = ("source", "doc_id")) -> DataFrame:
    """First-tier aggregation from (gap-filled) long form."""
    mins = TIERS[tier]
    bucket = F.timestamp_seconds(
        F.lit(EPOCH_SECONDS) + (F.col("pos") / F.lit(mins)).cast("long") * mins * 60)
    return (
        long_df
        .groupBy(*series_cols, bucket.alias("bucket"))
        .agg(
            F.count("value").alias("cnt"),
            F.sum("value").alias("sum"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            F.min_by("value", "pos").alias("first"),
            F.max_by("value", "pos").alias("last"),
            F.sum(F.col("filled").cast("long")).alias("n_filled"),
        )
        # buckets before a series' first observation have no value at
        # all (leading gaps are not carried) — drop them
        .filter(F.col("cnt") > 0)
    )


def rollup_next(tier_df: DataFrame, from_tier: str, to_tier: str,
                series_cols: tuple[str, ...] = ("source", "doc_id")) -> DataFrame:
    """Re-aggregate one tier into a coarser one (continuous-aggregate
    cascade; every column is decomposable so this is exact)."""
    mins = TIERS[to_tier]
    bucket = F.timestamp_seconds(
        (F.unix_timestamp("bucket") / F.lit(mins * 60)).cast("long") * mins * 60)
    return (
        tier_df
        .groupBy(*series_cols, bucket.alias("bucket"))
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum").alias("sum"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
            F.min_by("first", "bucket").alias("first"),
            F.max_by("last", "bucket").alias("last"),
            F.sum("n_filled").alias("n_filled"),
        )
    )


def cascade_declarative(tokens_df: DataFrame,
                        tiers: tuple[str, ...] = ("1m", "1h", "1d"),
                        partitions: int | None = None) -> dict[str, DataFrame]:
    """tokens table -> {tier: rollup DataFrame} via the declarative
    long-form plan (posexplode -> LOCF window -> chained groupBys),
    single shuffle total: the upfront repartition on (source, doc_id)
    co-locates each series; the LOCF window and every tier groupBy then
    reuse that exchange.

    This is the INDEPENDENT implementation kept for parity certificates
    (it shares no kernel with the mapInArrow paths). :func:`cascade` is
    the production entry point — same results, zero shuffles, no
    144-points-per-series explode (guide §2.4: at 10^12 sequences the
    explode+sort+window over every point, and the 1m hash aggregate
    with one group per point, dwarf the array-local computation)."""
    if partitions is not None:
        tokens_df = tokens_df.repartition(partitions, "source", "doc_id")
    else:
        tokens_df = tokens_df.repartition("source", "doc_id")
    long_df = gapfill_locf(tokens_long(tokens_df))
    out: dict[str, DataFrame] = {}
    prev_tier: str | None = None
    for tier in tiers:
        if prev_tier is None:
            out[tier] = rollup_base(long_df, tier)
        else:
            out[tier] = rollup_next(out[prev_tier], prev_tier, tier)
        prev_tier = tier
    return out


# ---------------------------------------------------------------------------
# tokens kernel: one zero-shuffle mapInArrow runner, one row per series
# ---------------------------------------------------------------------------

#: one bucket of one tier: re-aggregable count/sum/min/max/first/last
TIER_ROW = T.StructType([
    T.StructField("bucket", T.LongType(), False),  # epoch seconds
    T.StructField("cnt", T.LongType(), False),
    T.StructField("sum", T.LongType(), True),
    T.StructField("min", T.LongType(), True),
    T.StructField("max", T.LongType(), True),
    T.StructField("first", T.LongType(), True),
    T.StructField("last", T.LongType(), True),
    T.StructField("n_filled", T.LongType(), False),
])

#: one Gorilla-compressed block: a series' points in one UTC day
BLOCK_ROW = T.StructType([
    T.StructField("bucket_day", T.DateType(), False),
    T.StructField("t0", T.LongType(), False),
    T.StructField("v0", T.LongType(), False),
    T.StructField("n", T.IntegerType(), False),
    T.StructField("payload", T.BinaryType(), True),
])

#: points per UTC-day block at 1-minute grain
DAY_POINTS = 1440


def rows_matrix(flat: np.ndarray, offsets: np.ndarray, idx: np.ndarray,
                nt: int) -> np.ndarray:
    """Gather rows ``idx`` (each ``nt`` long) from a ListArray's flat
    values into a (len(idx), nt) matrix of their native element type
    (the LOCF/tier kernels consume int32 directly; the Gorilla encoder
    widens its own copy). When the selected rows are contiguous and
    uniformly strided (the common one-n_tok-per-batch case) this is a
    zero-copy VIEW of the Arrow buffer instead of a fancy-index gather.
    Consumers only read it, never mutate."""
    starts = offsets[idx]
    if len(starts) > 0 and np.all(np.diff(starts) == nt):
        base = int(starts[0])
        return flat[base:base + len(starts) * nt].reshape(len(starts), nt)
    return flat[starts[:, None] + np.arange(nt)[None, :]]


def series_batches(batches):
    """The Arrow boundary of every tokens operator: for each run of
    rows with equal ``n_tok`` in each non-empty input batch, yield
    ``(doc_id, source, idx, vals)`` — the batch's string columns, the
    run's row indices and its (len(idx), n_tok) token matrix in the
    native element type (:func:`rows_matrix`). Columns are resolved by
    NAME: a partitioned read-back or a caller's select can reorder the
    schema."""
    for rb in batches:
        if rb.num_rows == 0:
            continue
        names = rb.schema.names
        c_doc = rb.column(names.index("doc_id"))
        c_src = rb.column(names.index("source"))
        n_tok = rb.column(names.index("n_tok")).to_numpy()
        col = rb.column(names.index("tokens"))
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        offsets = col.offsets.to_numpy()
        flat = col.values.to_numpy(zero_copy_only=False)
        for nt in np.unique(n_tok):
            idx = np.nonzero(n_tok == nt)[0]
            yield c_doc, c_src, idx, rows_matrix(flat, offsets, idx, int(nt))


def _locf_2d(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized row-wise LOCF. -1 is the gap sentinel. Returns
    (filled float matrix with NaN for leading gaps, filled-mask).

    Rows without any gap (the overwhelming majority on real corpora)
    skip the carry machinery entirely: the gather/cumsum passes run
    only over the gapped-row subset, so the common case is one float
    cast plus one boolean reduction over the matrix."""
    x = vals.astype(np.float64)
    miss = vals == -1
    rowmiss = np.nonzero(miss.any(axis=1))[0]
    filled_mask = np.zeros(vals.shape, dtype=bool)
    if len(rowmiss) == 0:
        return x, filled_mask
    xs = x[rowmiss]
    ms = miss[rowmiss]
    idx = np.where(~ms, np.arange(xs.shape[1])[None, :], 0)
    np.maximum.accumulate(idx, axis=1, out=idx)
    carried = xs[np.arange(xs.shape[0])[:, None], idx]
    # rows whose first value was a gap: positions before the first
    # observation keep NaN
    lead = ms & (np.cumsum(~ms, axis=1) == 0)
    carried[lead] = np.nan
    x[rowmiss] = carried
    filled_mask[rowmiss] = ms & ~lead
    return x, filled_mask


def _tier_reduce(filled: np.ndarray, fmask: np.ndarray, mins: int):
    """(rows, T) LOCF'd matrix -> FLAT per-bucket aggregate vectors
    ``(rr, bb, cnt, sum, min, max, first, last, n_filled)`` over the
    non-empty (row, bucket) pairs only, already int64 (one gather per
    column here instead of one per consumer; the 1m tier shares ONE
    value gather across sum/min/max/first/last, which are all the
    point itself).

    ``mins`` is clamped to the row length: a 1440-minute bucket over a
    144-point series is ONE bucket of 144 points (bucket index =
    pos // mins = 0 for every point), so reducing over min(mins, t)
    columns is exact and avoids padding the matrix up to ``mins``
    (10x inflation for the 1d tier on day-length series). An empty
    series (t = 0) has no buckets in any tier."""
    rows, t = filled.shape
    if t == 0:
        empty = np.zeros(0, dtype=np.int64)
        return (empty,) * 9
    if mins == 1:
        # 1m tier: every point is its own bucket — all aggregates are
        # the point itself; skip the (rows, t, 1) reshape reductions
        obs = ~np.isnan(filled)
        rr, bb = np.nonzero(obs)
        v = filled[rr, bb].astype(np.int64)
        cnt = np.ones(len(rr), dtype=np.int64)
        nfil = fmask[rr, bb].astype(np.int64)
        return rr, bb, cnt, v, v, v, v, v, nfil
    mins = min(mins, t)
    nb = int(np.ceil(t / mins))
    pad = nb * mins - t
    if pad:
        fv = np.pad(filled, ((0, 0), (0, pad)), constant_values=np.nan)
        fm = np.pad(fmask, ((0, 0), (0, pad)), constant_values=False)
    else:
        fv, fm = filled, fmask
    r = fv.reshape(rows, nb, mins)
    rm = fm.reshape(rows, nb, mins)
    obs = ~np.isnan(r)
    cnt = obs.sum(axis=2)
    s = np.nansum(np.where(obs, r, 0), axis=2)
    with np.errstate(all="ignore"):
        mn = np.min(np.where(obs, r, np.inf), axis=2)
        mx = np.max(np.where(obs, r, -np.inf), axis=2)
    first_idx = np.argmax(obs, axis=2)
    last_idx = mins - 1 - np.argmax(obs[:, :, ::-1], axis=2)
    ri = np.arange(rows)[:, None]
    bi = np.arange(nb)[None, :]
    first = r[ri, bi, first_idx]
    last = r[ri, bi, last_idx]
    nfil = rm.sum(axis=2)
    rr, bb = np.nonzero(cnt > 0)
    return (rr, bb, cnt[rr, bb],
            s[rr, bb].astype(np.int64),
            mn[rr, bb].astype(np.int64), mx[rr, bb].astype(np.int64),
            first[rr, bb].astype(np.int64), last[rr, bb].astype(np.int64),
            nfil[rr, bb])


def _list_column(offsets: np.ndarray, fields: list, list_type: pa.DataType):
    """One list-of-struct column: row i holds the structs
    ``offsets[i]:offsets[i + 1]`` of the flat ``fields`` arrays."""
    values = pa.StructArray.from_arrays(fields, fields=list(list_type.value_type))
    return pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), values,
                                    type=list_type)


def _tier_list(filled: np.ndarray, fmask: np.ndarray, tier: str,
               list_type: pa.DataType):
    """Each row's buckets of ``tier`` in order (:data:`TIER_ROW`)."""
    mins = TIERS[tier]
    rr, bb, *aggs = _tier_reduce(filled, fmask, mins)
    bucket = EPOCH_SECONDS + bb.astype(np.int64, copy=False) * mins * 60
    # rr is row-major sorted: row i owns the flat run searchsorted(rr, i)
    return _list_column(np.searchsorted(rr, np.arange(len(filled) + 1)),
                        [pa.array(a) for a in (bucket, *aggs)], list_type)


def _block_list(vals: np.ndarray, list_type: pa.DataType):
    """Each row's Gorilla blocks, one per UTC day in order
    (:data:`BLOCK_ROW`): widen to int64 (sign-extended XOR), then
    encode day d of every row in one batch."""
    vals = vals.astype(np.int64, copy=False)
    rows, nt = vals.shape
    enc, days = [], []
    for s in range(0, nt, DAY_POINTS):
        ts = EPOCH_SECONDS + np.arange(s, min(s + DAY_POINTS, nt), dtype=np.int64) * 60
        enc.append(gorilla.encode_batch_arrow(
            np.broadcast_to(ts, (rows, len(ts))), vals[:, s:s + DAY_POINTS]))
        days.append(ts[0] // 86400)
    if not enc:  # an empty series has no blocks
        return pa.array([[]] * rows, type=list_type)
    # encoded day-major; each row lists its own days in order
    t0, v0, n = (np.column_stack([x[i] for x in enc]).ravel() for i in range(3))
    payload = enc[0][3] if len(enc) == 1 else pa.concat_arrays(
        [x[3] for x in enc]).take(np.arange(len(t0)).reshape(-1, rows).T.ravel())
    return _list_column(np.arange(rows + 1) * len(enc),
                        [pa.array(np.tile(np.int32(days), rows), type=pa.date32()),
                         pa.array(t0), pa.array(v0),
                         pa.array(n.astype(np.int32)), payload],
                        list_type)


def series_kernel(tokens_df: DataFrame, outputs: tuple[str, ...]) -> DataFrame:
    """THE tokens kernel: one narrow mapInArrow pass (no shuffle: each
    input row carries its whole series) emitting ONE row per series,
    ``(doc_id, source, <one list column per output>)``. ``outputs`` is
    drawn from ``"blocks"`` (column ``blocks``, the Gorilla day-blocks
    as :data:`BLOCK_ROW` structs) and the :data:`TIERS` (column
    ``t_<tier>``, the tier's buckets as :data:`TIER_ROW` structs). Each
    string crosses the Arrow boundary once per series, and no column is
    null-padded. Every tokens write operator is a JVM-side ``inline``
    projection of this frame."""
    schema = T.StructType(
        [T.StructField("doc_id", T.StringType(), False),
         T.StructField("source", T.StringType(), False)]
        + [T.StructField("blocks", T.ArrayType(BLOCK_ROW, False), False)
           if o == "blocks" else
           T.StructField(f"t_{o}", T.ArrayType(TIER_ROW, False), False)
           for o in outputs])
    arrow = pa.schema([(f.name, to_arrow_type(f.dataType)) for f in schema])
    has_tiers = any(o != "blocks" for o in outputs)

    def run(batches):
        for c_doc, c_src, idx, vals in series_batches(batches):
            take = pa.array(idx, type=pa.int64())
            locf = _locf_2d(vals) if has_tiers else None
            yield pa.RecordBatch.from_arrays(
                [c_doc.take(take), c_src.take(take)]
                + [_block_list(vals, t) if o == "blocks" else
                   _tier_list(*locf, o, t)
                   for o, t in zip(outputs, arrow.types[2:])],
                schema=arrow)

    return tokens_df.mapInArrow(run, schema)


def blocks_rows(kernel: DataFrame) -> DataFrame:
    """``compress_tokens``' rows from a :func:`series_kernel` frame."""
    return kernel.select("doc_id", "source", F.lit("1m").alias("tier"),
                         F.inline("blocks"))


def tier_rows(kernel: DataFrame, tier: str) -> DataFrame:
    """One tier's ``(source, doc_id, bucket, cnt, ..., n_filled)`` rows
    from a :func:`series_kernel` frame (bucket as epoch seconds)."""
    return kernel.select("source", "doc_id", F.inline(f"t_{tier}"))


def cascade_fast(tokens_df: DataFrame,
                 tiers: tuple[str, ...] = ("1m", "1h", "1d")) -> DataFrame:
    """All tiers from ONE kernel pass (no shuffle at all), as the union
    of tiers tagged by ``tier``; bucket as epoch seconds. Integer-exact.
    One row per series crosses the boundary; the tiers are exploded and
    inlined on the JVM side."""
    per_tier = F.explode(F.array(*(
        F.struct(F.lit(t).alias("tier"), F.col(f"t_{t}").alias("rows"))
        for t in tiers)))
    return (series_kernel(tokens_df, tiers)
            .select("source", "doc_id", per_tier.alias("e"))
            .select("e.tier", "source", "doc_id", F.inline("e.rows")))


def cascade(tokens_df: DataFrame,
            tiers: tuple[str, ...] = ("1m", "1h", "1d")) -> dict[str, DataFrame]:
    """tokens table -> {tier: rollup DataFrame}, ZERO shuffles: each
    tier is its own :func:`series_kernel` pass over that tier alone,
    with ``bucket`` as a timestamp — no per-point explode, no window
    sort, no per-point hash aggregate, no Exchange (guide §2.4/§4.2).
    Results are identical to :func:`cascade_declarative`
    (pytest-pinned, and each tier equals the DuckDB long-form oracle);
    materializing only the 1d tier does not pay for the 1m tier."""
    return {tier: tier_rows(series_kernel(tokens_df, (tier,)), tier).select(
                "source", "doc_id",
                F.timestamp_seconds("bucket").alias("bucket"), *_AGGS)
            for tier in tiers}


# ---------------------------------------------------------------------------
# retention (downsample-and-expire)
# ---------------------------------------------------------------------------

def apply_retention(tier_df: DataFrame, tier: str, now_bucket_seconds: int,
                    policy: dict[str, int | None] | None = None) -> DataFrame:
    """Drop buckets older than the tier's retention horizon. ``now``
    is an explicit bucket timestamp (epoch seconds) so runs are
    deterministic and resumable."""
    policy = policy if policy is not None else DEFAULT_RETENTION
    keep = policy.get(tier)
    if keep is None:
        return tier_df
    mins = TIERS[tier]
    horizon = now_bucket_seconds - keep * mins * 60
    bucket = tier_df.schema["bucket"].dataType
    if isinstance(bucket, T.LongType):
        return tier_df.filter(F.col("bucket") >= horizon)
    return tier_df.filter(F.unix_timestamp("bucket") >= horizon)


# ---------------------------------------------------------------------------
# events path (irregular timestamps): spine gap-fill + rollup
# ---------------------------------------------------------------------------

def events_rollup(events_df: DataFrame, tier_seconds: int,
                  series_col: str = "event_type",
                  ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """General rollup over an irregular event stream: tumbling buckets
    of ``tier_seconds`` per series. Buckets as epoch seconds (oracle
    tz-safe)."""
    bucket = (F.unix_timestamp(ts_col) / tier_seconds).cast("long") * tier_seconds
    return (
        events_df
        .groupBy(F.col(series_col).alias("series"), bucket.alias("bucket"))
        .agg(
            F.count(value_col).alias("cnt"),
            F.sum(value_col).alias("sum"),
            F.min(value_col).alias("min"),
            F.max(value_col).alias("max"),
        )
    )


def _events_spine(events_df: DataFrame, tier_seconds: int, series_col: str,
                  ts_col: str, value_col: str) -> DataFrame:
    """(series, bucket, value) on a dense per-series bucket spine
    (sequence+explode, J4) from the first to the last bucket of the
    whole stream, left-joined to the bucket sums: ``value`` is NULL on
    buckets without events."""
    bucket = (F.unix_timestamp(ts_col) / tier_seconds).cast("long") * tier_seconds
    actual = (
        events_df
        .groupBy(F.col(series_col).alias("series"), bucket.alias("bucket"))
        .agg(F.sum(value_col).alias("value"))
    )
    # bounds and the series set derive from `actual`, not from the raw
    # timestamps: floor is monotone so min/max of the bucketized values
    # equal the bucketized min/max, and every series has >= 1 event
    # hence >= 1 bucket. Catalyst does NOT reuse the aggregation
    # exchange across the three subtrees: it prunes each one's columns
    # separately, so the events table is still scanned three times
    # (OPTIMIZATION_r06.md, Change 7).
    bounds = actual.agg(F.min("bucket").alias("lo"),
                        F.max("bucket").alias("hi"))
    spine = (
        actual.select("series").distinct()
        .crossJoin(F.broadcast(bounds))
        .select("series", F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.lit(tier_seconds))).alias("bucket"))
    )
    return spine.join(actual, ["series", "bucket"], "left")


def events_gapfill(events_df: DataFrame, tier_seconds: int,
                   series_col: str = "event_type",
                   ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """Dense per-series bucket spine (:func:`_events_spine`), then LOCF
    (W1). ``filled`` marks carried buckets. One value per (series,
    bucket): the bucket sum (a sum of 2-decimal inputs stays
    decimal-exact after round(4), unlike an avg whose quotient can
    straddle a rounding boundary between engines)."""
    w = (Window.partitionBy("series").orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (
        _events_spine(events_df, tier_seconds, series_col, ts_col, value_col)
        .withColumn("filled", F.col("value").isNull())
        .withColumn("value", F.last("value", ignorenulls=True).over(w))
    )


def events_gapfill_interp(events_df: DataFrame, tier_seconds: int,
                          series_col: str = "event_type",
                          ts_col: str = "ts",
                          value_col: str = "value") -> DataFrame:
    """Like :func:`events_gapfill` but gaps are LINEARLY INTERPOLATED
    between the surrounding observed buckets
    (:func:`gapfill_interpolate`); leading/trailing gaps stay NULL."""
    return gapfill_interpolate(
        _events_spine(events_df, tier_seconds, series_col, ts_col, value_col),
        series_cols=("series",), order_col="bucket", value_col="value")
