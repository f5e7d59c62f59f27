"""Gorilla compression tests: kernel round-trips + Spark-level
token-array equality (the BASELINE.json per-row invariant)."""

import numpy as np
import pytest

from kapra_spark import datagen
from kapra_spark.functions import gorilla as G


def test_kernel_roundtrip_token_walks():
    rng = np.random.default_rng(7)
    vals = np.maximum(np.cumsum(rng.integers(-3, 4, size=(100, 144)), axis=1) + 40, 0)
    ts = np.arange(144)[None, :].repeat(100, axis=0) * 60 + 1704067200
    t0, v0, n, p = G.encode_batch(ts, vals)
    dts, dvals = G.decode_batch(t0, v0, n, p)
    assert np.array_equal(dts, ts)
    assert np.array_equal(dvals, vals)
    bits_pp = sum(len(x) for x in p) * 8 / vals.size
    assert bits_pp < 20  # >4.8x vs raw 96-bit (ts+value)


def test_kernel_roundtrip_adversarial():
    rng = np.random.default_rng(8)
    cases = [
        (np.sort(rng.integers(0, 10**9, size=(20, 50)), axis=1),
         rng.integers(-2**62, 2**62, size=(20, 50))),
        (np.arange(10)[None, :].repeat(3, axis=0), np.full((3, 10), -1)),
        (np.array([[0, 1]]), np.array([[np.iinfo(np.int64).min, np.iinfo(np.int64).max]])),
        (np.array([[5]]), np.array([[42]])),  # single point
    ]
    for ts, vals in cases:
        t0, v0, n, p = G.encode_batch(ts, vals)
        for i in range(len(p)):
            dts, dv = G.decode_block(int(t0[i]), int(v0[i]), int(n[i]), p[i])
            assert np.array_equal(dts, ts[i])
            assert np.array_equal(dv, vals[i])


def test_single_and_batch_decoders_agree():
    rng = np.random.default_rng(9)
    vals = rng.integers(-1000, 1000, size=(30, 77))
    ts = np.cumsum(rng.integers(1, 100, size=(30, 77)), axis=1)
    t0, v0, n, p = G.encode_batch(ts, vals)
    bts, bvals = G.decode_batch(t0, v0, n, p)
    for i in range(30):
        sts, svals = G.decode_block(int(t0[i]), int(v0[i]), int(n[i]), p[i])
        assert np.array_equal(sts, bts[i]) and np.array_equal(svals, bvals[i])

def test_decode_batch_rejects_ragged_n():
    """Unequal point counts raise ValueError, a check that still runs
    under ``python -O`` (an assert would be stripped)."""
    ts = np.arange(10)[None, :].repeat(2, axis=0) * 60
    t0, v0, n, p = G.encode_batch(ts, np.ones((2, 10), dtype=np.int64))
    with pytest.raises(ValueError, match="equal n"):
        G.decode_batch(t0, v0, np.array([10, 9]), p)


@pytest.mark.parametrize("n_tok", [144, 1500])  # single-day and multi-day
def test_spark_roundtrip_token_array_equality(spark, n_tok):
    from kapra_spark.operators.compress import compress_tokens, decompress_tokens

    pdf = datagen.tokens_pdf(40, n_tok=n_tok, seed=5, gap_fraction=0.2)
    df = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    blocks = compress_tokens(df)
    back = decompress_tokens(blocks).toPandas()

    orig = {r.doc_id: list(r.tokens) for r in pdf.itertuples()}
    got: dict[str, list] = {}
    # multi-day series come back day-block by day-block; reassemble in
    # t0 order (decompress_tokens carries the block start timestamp)
    for r in back.sort_values(["doc_id", "t0"]).itertuples():
        got.setdefault(r.doc_id, []).extend(r.tokens)
    for k, v in orig.items():
        assert got[k] == v, k


def test_compression_ratio_reported(spark):
    from kapra_spark.operators.compress import compress_tokens
    import pyspark.sql.functions as F

    pdf = datagen.tokens_pdf(64, n_tok=144, seed=6)
    df = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    blocks = compress_tokens(df)
    stats = blocks.agg(F.sum(F.length("payload")).alias("bytes"),
                       F.sum("n").alias("points")).collect()[0]
    bits_pp = stats["bytes"] * 8 / stats["points"]
    assert bits_pp < 20


def _mixed_tokens_pdf():
    """Shuffled 144-, 1500- and 50-token gapped series (unique ids)."""
    import pandas as pd

    parts = []
    for tag, n_tok, n, seed in (("a", 144, 30, 3), ("b", 1500, 12, 4),
                                ("c", 50, 20, 5)):
        p = datagen.tokens_pdf(n, n_tok=n_tok, seed=seed, gap_fraction=0.2)
        p["doc_id"] = tag + p["doc_id"]
        parts.append(p)
    return pd.concat(parts).sample(frac=1.0, random_state=7)


def _digest(df) -> str:
    """SHA-256 over the schema and the sorted rows of ``df`` (binary
    payloads included byte for byte)."""
    import hashlib

    h = hashlib.sha256(df.schema.simpleString().encode())
    for row in sorted(repr(tuple(r)) for r in df.collect()):
        h.update(b"\n" + row.encode())
    return h.hexdigest()


#: (compress_tokens, cascade_fast all tiers) digests per input shape
GOLDEN = {
    "144": ("205bb69599b507852ba347ed034d4865e0e4c90175fdf74131f9b9d491866609",
            "3f91234cf225fc39e9785066ce930898a4b72944105800a5d69d4e3601db88bc"),
    "1500": ("4e60c904edafae1f6efb51dcd3ae49db3936c013cc4abca77c1768a8abbe19c0",
             "9158b4fb7c20830cd4f61ecaba0023347289d746f6d0fbc1f273302919f7058d"),
    "mixed": ("0c244fb733a77d242de5e2ee72b321b5bd526f0fe63e4c839e8eece6f2edc9cf",
              "398ade3741ff3b8f0aeee0e157d1fa9e58d26fe21a3087dcf682f9f8a9145de3"),
}


@pytest.mark.parametrize("shape", ["144", "1500", "mixed"])
def test_tokens_kernel_golden(spark, shape):
    """compress_tokens (Gorilla payload bytes included) and the
    all-tier cascade_fast reproduce pinned digests on every batch
    shape: one-day series, multi-day blocks, and Arrow batches holding
    several ``n_tok`` runs in shuffled order (the non-contiguous row
    gather)."""
    from kapra_spark.operators.compress import compress_tokens
    from kapra_spark.operators.rollup import cascade_fast

    if shape == "mixed":
        pdf = _mixed_tokens_pdf()
    else:
        pdf = datagen.tokens_pdf(80, n_tok=int(shape), seed=3, gap_fraction=0.2)
    tokens = spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA)
    if shape == "mixed":
        tokens = tokens.repartition(3)
        assert tokens.rdd.glom().map(
            lambda rows: len({r.n_tok for r in rows})).max() > 1

    got = (_digest(compress_tokens(tokens)), _digest(cascade_fast(tokens)))
    assert got == GOLDEN[shape]
