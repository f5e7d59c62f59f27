"""Gorilla-style compression: delta-of-delta timestamps + XOR values.

From the published scheme (Pelkonen et al., VLDB 2015, "Gorilla: A
fast, scalable, in-memory time series database", §4.1), re-implemented
for int64 token values with fully vectorized NumPy bit packing — a
whole Arrow batch of series is encoded in one pass; no per-row Python.

Bit layout per block:
  header: first timestamp (t0) and first value (v0) live in typed
  columns next to the payload (FIXTURES.md F-5), so the payload holds
  only the 2nd..nth points:

  timestamps (delta-of-delta, dod = (t_i - t_{i-1}) - (t_{i-1} - t_{i-2});
  the first delta is encoded as a dod against delta0 = 0):
    dod == 0                  -> '0'
    dod in [-63, 64]          -> '10'   + 7 bits (zigzag)
    dod in [-255, 256]        -> '110'  + 9 bits
    dod in [-2047, 2048]      -> '1110' + 12 bits
    else                      -> '1111' + 64 bits raw

  values (xor = v_i ^ v_{i-1}, as uint64):
    xor == 0                  -> '0'
    else                      -> '1' + 6 bits (#leading zeros)
                                     + 6 bits (significant length - 1)
                                     + significant bits

(The original Gorilla reuses the previous leading/length window when it
still fits; we always emit the 13-bit control — a simpler, stateless
variant that vectorizes cleanly and costs <1 bit/point on typical token
streams. Decoding is therefore also stateless per point.)

For the engine's fixed 1-minute grids every dod is 0, so timestamps
cost 1 bit/point and values dominate.
"""

from __future__ import annotations

import numpy as np

def _leading_zeros64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 via the float64
    exponent (frexp), with an exact-integer correction pass: a value
    whose top 53 bits round up gains one exponent (e.g. 2^60-1 rounds
    to 2^60), detected by ``x >> (e-1) == 0``; values with bit 63 set
    can round to 2^64 (e = 65), clamped back. 6 dense passes instead
    of the 18 of a shift-cascade — exact for every uint64."""
    f = x.astype(np.float64)
    _, e = np.frexp(f)
    e = e.astype(np.int64)
    over = ((e >= 1) & (e <= 64)
            & ((x >> np.minimum(e - 1, 63).astype(np.uint64)) == 0))
    e = np.minimum(e - over.astype(np.int64), 64)
    return np.where(x == 0, 64, 64 - e)


def _trailing_zeros64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-trailing-zeros for uint64 (0 -> 0). The
    isolated lowest set bit is an exact power of two, so its float64
    exponent needs no correction."""
    lsb = x & (~x + np.uint64(1))  # isolate lowest set bit
    _, e = np.frexp(lsb.astype(np.float64))
    return np.where(x == 0, 0, e.astype(np.int64) - 1)


def encode_block(ts: np.ndarray, values: np.ndarray) -> tuple[int, int, int, bytes]:
    """Encode one series. Returns (t0, v0, n, payload). Thin wrapper
    over :func:`encode_batch` for tests and single series; the write
    path encodes whole Arrow batches with :func:`encode_batch_arrow`."""
    t0, v0, n, payloads = encode_batch(ts[None, :], values[None, :])
    return int(t0[0]), int(v0[0]), int(n[0]), payloads[0]


def encode_batch(ts2d: np.ndarray, vals2d: np.ndarray, chunk_rows: int = 1024
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray, list[bytes]]:
    """Encode (rows, T) timestamp + value matrices into per-row blocks,
    returning per-row ``bytes`` payloads. Thin slicing wrapper over
    :func:`_encode_chunk`; the Arrow hot path
    (:func:`encode_batch_arrow`) skips the per-row bytes objects."""
    ts2d = np.asarray(ts2d, dtype=np.int64)
    vals2d = np.asarray(vals2d, dtype=np.int64)
    rows = vals2d.shape[0]
    t0s, v0s, ns, payloads = [], [], [], []
    for s in range(0, max(rows, 1), chunk_rows):
        a, b, c, buf, off = _encode_chunk(ts2d[s:s + chunk_rows],
                                          vals2d[s:s + chunk_rows])
        t0s.append(a)
        v0s.append(b)
        ns.append(c)
        payloads.extend(buf[off[i]:off[i + 1]] for i in range(len(c)))
    return (np.concatenate(t0s), np.concatenate(v0s),
            np.concatenate(ns), payloads)


def encode_batch_arrow(ts2d: np.ndarray, vals2d: np.ndarray,
                       chunk_rows: int = 1024):
    """Like :func:`encode_batch` but returns the payload column as ONE
    Arrow BinaryArray built zero-copy from the packed buffer + offsets
    (guide §4.2: a binary column is a data buffer plus offsets, so no
    per-row Python bytes objects and no ``pa.array(list)`` re-serialize
    — the dominant constant cost at millions of blocks per task)."""
    import pyarrow as pa

    ts2d = np.asarray(ts2d, dtype=np.int64)
    vals2d = np.asarray(vals2d, dtype=np.int64)
    rows = vals2d.shape[0]
    t0s, v0s, ns, arrays = [], [], [], []
    for s in range(0, max(rows, 1), chunk_rows):
        a, b, c, buf, off = _encode_chunk(ts2d[s:s + chunk_rows],
                                          vals2d[s:s + chunk_rows])
        t0s.append(a)
        v0s.append(b)
        ns.append(c)
        if int(off[-1]) >= 2 ** 31:
            raise ValueError(
                f"encode_batch_arrow: chunk payload {int(off[-1])} bytes "
                f"overflows 32-bit Arrow binary offsets — lower chunk_rows")
        arrays.append(pa.Array.from_buffers(
            pa.binary(), len(c),
            [None, pa.py_buffer(np.ascontiguousarray(
                off.astype(np.int32)).tobytes()), pa.py_buffer(buf)]))
    payload = arrays[0] if len(arrays) == 1 else pa.concat_arrays(arrays)
    return (np.concatenate(t0s), np.concatenate(v0s),
            np.concatenate(ns), payload)


def _encode_chunk(ts2d: np.ndarray, vals2d: np.ndarray
                  ) -> tuple[np.ndarray, np.ndarray, np.ndarray, bytes,
                             np.ndarray]:
    """Encode one chunk of rows; returns (t0, v0, n, packed buffer,
    per-row byte offsets (len rows+1)).

    Entirely vectorized: classifies every point's field widths, computes
    exact per-point bit offsets, then assembles each FIELD as a uint64
    and scatter-ORs it into a big-endian word stream
    (``np.bitwise_or.at`` handles fields of different points landing in
    the same word) — a handful of word passes per field instead of one
    pass per BIT of the old bit-matrix scatter (~1.6x on token walks).
    """
    rows = vals2d.shape[0]
    t = vals2d.shape[1]
    t0 = ts2d[:, 0].copy()
    v0 = vals2d[:, 0].copy()
    n = np.full(rows, t, dtype=np.int64)
    if t == 1:
        return t0, v0, n, b"", np.zeros(rows + 1, dtype=np.int64)

    # --- timestamp dod fields ---
    deltas = np.diff(ts2d, axis=1)                       # (rows, t-1)
    prev_delta = np.concatenate([np.zeros((rows, 1), np.int64), deltas[:, :-1]], axis=1)
    dod = deltas - prev_delta

    # --- value xor fields ---
    xor = (vals2d[:, 1:] ^ vals2d[:, :-1]).view(np.uint64)
    lz = np.minimum(_leading_zeros64(xor), 63)           # 6-bit field
    tz = _trailing_zeros64(xor)
    nz = xor != 0
    siglen = np.where(nz, 64 - lz - tz, 1)               # meaningful bits
    sig = np.where(nz, xor >> tz.astype(np.uint64), np.uint64(0))

    # --- classify dod branches (0..4) ---
    branch = np.full(dod.shape, 4, dtype=np.int8)
    branch[(dod >= -2047) & (dod <= 2048)] = 3
    branch[(dod >= -255) & (dod <= 256)] = 2
    branch[(dod >= -63) & (dod <= 64)] = 1
    branch[dod == 0] = 0
    ctrl_tab = np.array([1, 2, 3, 4, 4], dtype=np.int64)
    pay_tab = np.array([0, 7, 9, 12, 64], dtype=np.int64)
    lo_tab = np.array([0, -63, -255, -2047, 0], dtype=np.int64)
    ctrl_val_tab = np.array([0b0, 0b10, 0b110, 0b1110, 0b1111], dtype=np.uint64)

    ctrln = ctrl_tab[branch]
    payn = pay_tab[branch]
    val_n = 1 + np.where(nz, 12 + siglen, 0)

    # --- exact per-point bit offsets, direct scatter (no bit tensor) ---
    ptlen = ctrln + payn + val_n                          # (rows, t-1)
    row_bits = ptlen.sum(axis=1)
    row_bytes = (row_bits + 7) // 8
    byte_offsets = np.concatenate([[0], np.cumsum(row_bytes)])
    row_start = byte_offsets[:-1] * 8
    pt_start = row_start[:, None] + (np.cumsum(ptlen, axis=1) - ptlen)

    total_bytes = int(byte_offsets[-1])
    # +2 spare words: a field whose tail crosses the last used byte's
    # word may touch word w+1
    words = np.zeros((total_bytes + 7) // 8 + 2, dtype=np.uint64)

    def put(pos: np.ndarray, v: np.ndarray, nb) -> None:
        """Scatter-OR ``nb``-bit fields ``v`` (uint64, flat) at absolute
        bit positions ``pos``. Stream bit b lives at word b>>6, bit
        63-(b&63) (big-endian words)."""
        w = pos >> 6
        o = (pos & 63).astype(np.int64)
        sh = np.int64(64) - o - nb                     # may be negative
        fits = sh >= 0
        hi = np.where(fits, v << np.where(fits, sh, 0).astype(np.uint64),
                      v >> np.where(fits, 0, -sh).astype(np.uint64))
        np.bitwise_or.at(words, w, hi)
        spill = ~fits
        if spill.any():
            lo = v[spill] << (np.int64(64) + sh[spill]).astype(np.uint64)
            np.bitwise_or.at(words, w[spill] + 1, lo)

    # timestamps: ctrl+payload combined into one field (<= 16 bits for
    # branches 0-3; branch 4 = 4+64 bits, written as two fields)
    enc_pay = np.where(branch < 4, (dod - lo_tab[branch]).astype(np.uint64),
                       dod.view(np.uint64))
    ts_field = ((ctrl_val_tab[branch] << payn.astype(np.uint64))
                | np.where(payn > 0, enc_pay, np.uint64(0)))
    b4 = branch == 4
    m = ~b4
    put(pt_start[m], ts_field[m], (ctrln + payn)[m])
    if b4.any():
        k = int(b4.sum())
        put(pt_start[b4], np.full(k, 0b1111, dtype=np.uint64),
            np.full(k, 4, dtype=np.int64))
        put(pt_start[b4] + 4, enc_pay[b4], np.full(k, 64, dtype=np.int64))

    # values: flag(1) [+ lz(6) + (siglen-1)(6)] as one header field,
    # then sig as its own field
    vstart = pt_start + ctrln + payn
    hdr = np.where(nz, (np.uint64(1) << np.uint64(12))
                   | (lz.astype(np.uint64) << np.uint64(6))
                   | (siglen - 1).astype(np.uint64), np.uint64(0))
    put(vstart.ravel(), hdr.ravel(), np.where(nz, 13, 1).ravel())
    if nz.any():
        put((vstart + 13)[nz], sig[nz], siglen[nz])

    buf = words.byteswap().tobytes()[:total_bytes]
    return t0, v0, n, buf, byte_offsets


def decode_batch(t0: np.ndarray, v0: np.ndarray, n: np.ndarray,
                 payloads: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Decode equal-length blocks in lockstep, vectorized across blocks.

    All blocks must share the same point count (the engine's blocks are
    per-(series, day) on a fixed grid, so this is the common case; for
    ragged inputs group by n first). Returns (ts2d, vals2d) int64.

    Reads are 64-bit WORD-WINDOW extracts: each variable-width field
    costs two word gathers + shifts instead of one gather per bit
    (~4x over the per-bit reader). Control/header fields are read
    speculatively (4-bit ts control, 13-bit value header in one peek)
    and the cursor advanced by the true field length; over-reads land
    in the zero padding past each payload, which is harmless because
    the cursor never moves past real bits."""
    rows = len(payloads)
    t = int(n[0])
    if not (np.asarray(n) == t).all():
        raise ValueError("decode_batch requires equal n")
    ts2d = np.empty((rows, t), dtype=np.int64)
    vals2d = np.empty((rows, t), dtype=np.int64)
    ts2d[:, 0] = t0
    vals2d[:, 0] = v0
    if t == 1:
        return ts2d, vals2d

    maxbytes = max(len(p) for p in payloads)
    nwords = (maxbytes + 7) // 8 + 2  # spare words for speculative reads
    buf = np.zeros((rows, nwords * 8), dtype=np.uint8)
    for i, p in enumerate(payloads):
        if p:
            buf[i, :len(p)] = np.frombuffer(p, dtype=np.uint8)
    # big-endian words: stream bit b = word b>>6, bit 63-(b&63)
    words = buf.view(">u8").astype(np.uint64).reshape(rows, nwords)

    ridx = np.arange(rows)
    cur = np.zeros(rows, dtype=np.int64)

    def peek(width: int) -> np.ndarray:
        """Read ``width`` bits at each row's cursor WITHOUT advancing."""
        w_idx = cur >> 6
        off = (cur & 63).astype(np.uint64)
        hi = words[ridx, w_idx]
        lo = words[ridx, w_idx + 1]
        win = np.where(off == 0, hi,
                       (hi << off) | (lo >> (np.uint64(64) - off)))
        return win >> np.uint64(64 - width)

    ctrl_len_tab = np.array([1, 2, 3, 4, 4], dtype=np.int64)
    pay_len_tab = np.array([0, 7, 9, 12, 64], dtype=np.int64)
    lo_tab_all = np.array([0, -63, -255, -2047, 0], dtype=np.int64)

    delta = np.zeros(rows, dtype=np.int64)
    for i in range(1, t):
        # --- timestamp: speculative 4-bit control window ---
        c4 = peek(4).astype(np.int64)
        branch = np.where((c4 >> 3) & 1 == 0, 0,
                          np.where((c4 >> 2) & 1 == 0, 1,
                                   np.where((c4 >> 1) & 1 == 0, 2,
                                            np.where(c4 & 1 == 0, 3, 4))))
        pay_len = pay_len_tab[branch]
        cur += ctrl_len_tab[branch]
        dod = np.zeros(rows, dtype=np.int64)
        m = pay_len > 0
        if m.any():
            mx = int(pay_len.max())
            raw = peek(mx) >> (mx - pay_len).astype(np.uint64)
            # branch 4 is a raw 64-bit two's-complement dod; the rest
            # are offset-encoded
            dod = np.where(m, np.where(branch == 4, raw.astype(np.int64),
                                       raw.astype(np.int64) + lo_tab_all[branch]), 0)
            cur += pay_len
        delta = delta + dod
        ts2d[:, i] = ts2d[:, i - 1] + delta

        # --- value: speculative 13-bit header window ---
        h13 = peek(13).astype(np.int64)
        nz = ((h13 >> 12) & 1) == 1
        lz = (h13 >> 6) & 63
        sl = (h13 & 63) + 1
        cur += np.where(nz, 13, 1)
        xor = np.zeros(rows, dtype=np.uint64)
        if nz.any():
            mxs = int(sl[nz].max())
            raw = peek(mxs)
            sig = raw >> (mxs - np.where(nz, sl, 1)).astype(np.uint64)
            cur += np.where(nz, sl, 0)
            shift = np.where(nz, 64 - lz - sl, 0).astype(np.uint64)
            xor = np.where(nz, sig << shift, np.uint64(0))
        prev = np.ascontiguousarray(vals2d[:, i - 1]).view(np.uint64)
        vals2d[:, i] = (prev ^ xor).view(np.int64)
    return ts2d, vals2d


class _BitReader:
    __slots__ = ("bits", "pos")

    def __init__(self, payload: bytes):
        self.bits = np.unpackbits(np.frombuffer(payload, dtype=np.uint8))
        self.pos = 0

    def read(self, n: int) -> int:
        b = self.bits[self.pos:self.pos + n]
        self.pos += n
        out = 0
        for bit in b:
            out = (out << 1) | int(bit)
        return out


def decode_block(t0: int, v0: int, n: int, payload: bytes
                 ) -> tuple[np.ndarray, np.ndarray]:
    """Decode one block back to (ts, values). Exact inverse of
    :func:`encode_block` (round-trip token-array equality is the
    per-row invariant, BASELINE.json input_hint)."""
    ts = np.empty(n, dtype=np.int64)
    vals = np.empty(n, dtype=np.int64)
    ts[0] = t0
    vals[0] = v0
    if n == 1:
        return ts, vals
    r = _BitReader(payload)
    delta = 0
    for i in range(1, n):
        # timestamp
        if r.read(1) == 0:
            dod = 0
        elif r.read(1) == 0:
            dod = r.read(7) - 63
        elif r.read(1) == 0:
            dod = r.read(9) - 255
        elif r.read(1) == 0:
            dod = r.read(12) - 2047
        else:
            raw = r.read(64)
            dod = raw - (1 << 64) if raw >= (1 << 63) else raw
        delta += dod
        ts[i] = ts[i - 1] + delta
        # value
        if r.read(1) == 0:
            vals[i] = vals[i - 1]
        else:
            lz = r.read(6)
            siglen = r.read(6) + 1
            sig = r.read(siglen)
            xor = sig << (64 - lz - siglen)
            vals[i] = np.int64(np.uint64(vals[i - 1]) ^ np.uint64(xor))
    return ts, vals
