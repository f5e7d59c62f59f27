"""Baseline JPEG codec in pure stdlib + NumPy (ITU-T T.81).

The container has no image codec libraries, so — like the PNG/WAV/AVI
codecs in ``operators/multimodal.py`` — this implements the published
algorithm from scratch: 8x8 type-II DCT, Annex-K quantization tables
with the IJG quality scaling, zigzag + (run, size) entropy coding with
canonical Huffman tables, JFIF markers, byte stuffing, and restart
markers.  Everything here is public knowledge: ITU-T T.81 (the JPEG
spec, incl. Annex K's example tables), the JFIF 1.02 note, and the
IJG/libjpeg quality->scale formula.

Scope (honestly bounded):

- **Encoder**: baseline sequential, 8-bit, grayscale or YCbCr 4:4:4 /
  4:2:0, optional restart interval.  Emits SOI/APP0/DQT/SOF0/DHT/
  [DRI]/SOS/EOI with the standard tables.
- **Decoder**: baseline sequential (SOF0/SOF1), 8-bit, 1- or
  3-component scans, any sampling factors in {1, 2} (4:4:4, 4:2:2,
  4:2:0, ...), restart markers, 8- or 16-bit DQT.  Progressive
  (SOF2), arithmetic coding, 12-bit precision, and hierarchical modes
  raise ``NotImplementedError`` loudly.
- **MJPG quirk**: motion-JPEG AVI frames routinely omit DHT segments
  (the OpenDML spec says decoders must assume the Annex-K tables);
  ``jpeg_decode`` falls back to those tables when a scan references an
  undefined one.

Used by ``operators/multimodal.py`` to extend ``avi_decode`` /
``avi_encode`` to MJPG streams; reference parity context:
/root/reference has no media path at all — this is engine surface for
the training-data pipeline (SURVEY.md §2.12).
"""
from __future__ import annotations

import struct

import numpy as np

# --- Annex K example tables (ITU-T T.81, public) ---------------------

QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.float64).reshape(8, 8)

QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.float64).reshape(8, 8)

# (bits-per-length[1..16], symbol values) — K.3..K.6
DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
           list(range(12)))
DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
             list(range(12)))
AC_LUMA = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA])
AC_CHROMA = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA])

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63], dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

# Orthonormal 8x8 DCT-II matrix: coefs = D @ block @ D.T
_k = np.arange(8.0)
DCT_M = np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16) / 2.0
DCT_M[0, :] = 1.0 / np.sqrt(8.0)


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG/libjpeg quality scaling (public): q<50 -> 5000/q, else
    200-2q; table = clip((base*scale+50)/100, 1, 255)."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = np.floor((base * scale + 50) / 100)
    return np.clip(t, 1, 255)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) via T.81 C.2 canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code, i = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


_LUT_CACHE: dict[tuple, list] = {}


def _decode_lut(bits: list[int], vals: list[int]) -> list:
    """Flat 65536-entry decode table: the 16-bit peek window indexes
    straight to (symbol, code_length) — one list read per symbol
    instead of a shortest-prefix walk. Prefix-free canonical codes
    partition the index space exactly, so unfilled slots mean an
    invalid code. Cached per (bits, vals) — MJPG streams reuse the
    Annex-K tables across every frame."""
    key = (tuple(bits), tuple(vals))
    lut = _LUT_CACHE.get(key)
    if lut is None:
        if len(_LUT_CACHE) >= 64:
            # bound the cache (~1 MB/entry): evict oldest — a long-lived
            # executor decoding many distinct optimized-Huffman streams
            # must not grow without limit
            _LUT_CACHE.pop(next(iter(_LUT_CACHE)))
        lut = [None] * 65536
        code, k = 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                entry = (vals[k], ln)
                k += 1
                start = code << (16 - ln)
                lut[start:start + (1 << (16 - ln))] = \
                    [entry] * (1 << (16 - ln))
                code += 1
            code <<= 1
        _LUT_CACHE[key] = lut
    return lut


class _BitWriter:
    """MSB-first bit writer with 0xFF byte stuffing (T.81 F.1.2.3)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            self.write(0xFF, 8 - self.nbits)  # pad with 1s to byte edge


def _magnitude(v: int) -> tuple[int, int]:
    """(size category, value bits) for DC diffs / AC coefs (F.1.2.1)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _encode_block(bw: _BitWriter, coefs: np.ndarray, pred: int,
                  dc_codes: dict, ac_codes: dict) -> int:
    """Entropy-encode one zigzagged, quantized 64-coef block; returns
    the new DC predictor."""
    dc = int(coefs[0])
    size, bits = _magnitude(dc - pred)
    c, ln = dc_codes[size]
    bw.write(c, ln)
    if size:
        bw.write(bits, size)
    run = 0
    last_nz = int(np.max(np.nonzero(coefs)[0])) if np.any(coefs[1:]) else 0
    for i in range(1, last_nz + 1):
        v = int(coefs[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_codes[0xF0]  # ZRL
            bw.write(c, ln)
            run -= 16
        size, bits = _magnitude(v)
        c, ln = ac_codes[(run << 4) | size]
        bw.write(c, ln)
        bw.write(bits, size)
        run = 0
    if last_nz < 63:
        c, ln = ac_codes[0x00]  # EOB
        bw.write(c, ln)
    return dc


def _plane_blocks(plane: np.ndarray, qtbl: np.ndarray) -> np.ndarray:
    """All 8x8 blocks of a (bh*8, bw*8) plane -> (bh*bw, 64) zigzagged
    quantized int32 coefs, DCT done as one batched matmul."""
    bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = (plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
              .reshape(-1, 8, 8).astype(np.float64) - 128.0)
    coefs = DCT_M @ blocks @ DCT_M.T
    q = np.round(coefs / qtbl).astype(np.int32)
    return q.reshape(-1, 64)[:, ZIGZAG]


def _pad_edge(plane: np.ndarray, h8: int, w8: int) -> np.ndarray:
    return np.pad(plane, ((0, h8 - plane.shape[0]),
                          (0, w8 - plane.shape[1])), mode="edge")


def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    """JFIF full-range BT.601 (float64, same shape)."""
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0].astype(np.float64)
    cb = ycc[..., 1].astype(np.float64) - 128.0
    cr = ycc[..., 2].astype(np.float64) - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)),
                   0, 255).astype(np.uint8)


def jpeg_encode(img: np.ndarray, quality: int = 75,
                subsample: str = "444", restart_interval: int = 0,
                include_dht: bool = True) -> bytes:
    """Encode a (H, W, 3) uint8 RGB or (H, W) grayscale array as a
    baseline JFIF JPEG.

    ``subsample``: "444" (no chroma subsampling) or "420" (2x2 box
    mean on Cb/Cr — the common MJPG/photo layout, exercises the
    decoder's interleaved-MCU path).  ``restart_interval``: MCUs per
    restart segment (0 = none).  ``include_dht=False`` omits the DHT
    segments — the MJPG-in-AVI convention where the Annex-K tables are
    implied (OpenDML)."""
    img = np.asarray(img)
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError(f"expected (H,W) or (H,W,3), got {img.shape}")
    if subsample not in ("444", "420"):
        raise ValueError("subsample must be '444' or '420'")
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")

    qly = _scaled_quant(QUANT_LUMA, quality)
    qlc = _scaled_quant(QUANT_CHROMA, quality)

    if gray:
        comps = [(img.astype(np.float64), 1, 1, qly, 0)]
    else:
        ycc = rgb_to_ycbcr(img)
        if subsample == "444":
            comps = [(ycc[..., 0], 1, 1, qly, 0),
                     (ycc[..., 1], 1, 1, qlc, 1),
                     (ycc[..., 2], 1, 1, qlc, 1)]
        else:
            # 2x2 box mean; odd edges padded by replication first
            he, we = h + (h % 2), w + (w % 2)
            full = np.pad(ycc, ((0, he - h), (0, we - w), (0, 0)),
                          mode="edge")
            cb = full[..., 1].reshape(he // 2, 2, we // 2, 2).mean((1, 3))
            cr = full[..., 2].reshape(he // 2, 2, we // 2, 2).mean((1, 3))
            comps = [(ycc[..., 0], 2, 2, qly, 0),
                     (cb, 1, 1, qlc, 1),
                     (cr, 1, 1, qlc, 1)]

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    # Per component: pad plane to the MCU grid, DCT+quantize all blocks
    comp_blocks, comp_bw = [], []
    for plane, hi, vi, qtbl, _tid in comps:
        bw_i, bh_i = mcux * hi, mcuy * vi
        padded = _pad_edge(plane, bh_i * 8, bw_i * 8)
        comp_blocks.append(_plane_blocks(padded, qtbl).reshape(
            bh_i, bw_i, 64))
        comp_bw.append((bw_i, hi, vi))

    dc_tabs = [_canonical_codes(*DC_LUMA), _canonical_codes(*DC_CHROMA)]
    ac_tabs = [_canonical_codes(*AC_LUMA), _canonical_codes(*AC_CHROMA)]

    bw = _BitWriter()
    preds = [0] * len(comps)
    scan = bytearray()
    rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            bw.flush()
            scan += bw.out
            scan += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            bw = _BitWriter()
            preds = [0] * len(comps)
        my, mx = divmod(m, mcux)
        for ci, (_plane, hi, vi, _q, tid) in enumerate(comps):
            blocks = comp_blocks[ci]
            for by in range(vi):
                for bx in range(hi):
                    preds[ci] = _encode_block(
                        bw, blocks[my * vi + by, mx * hi + bx],
                        preds[ci], dc_tabs[tid], ac_tabs[tid])
    bw.flush()
    scan += bw.out

    # --- markers ---
    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xFF\xD8")                      # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, bytes([0x00])
               + bytes(qly.reshape(-1)[ZIGZAG].astype(np.uint8)))
    if not gray:
        out += seg(0xFFDB, bytes([0x01])
                   + bytes(qlc.reshape(-1)[ZIGZAG].astype(np.uint8)))
    sof = bytearray(struct.pack(">BHHB", 8, h, w, len(comps)))
    for ci, (_p, hi, vi, _q, tid) in enumerate(comps):
        sof += bytes([ci + 1, (hi << 4) | vi, tid])
    out += seg(0xFFC0, bytes(sof))
    if include_dht:
        for cls, tid, (bits, vals) in ((0, 0, DC_LUMA), (1, 0, AC_LUMA),
                                       (0, 1, DC_CHROMA), (1, 1, AC_CHROMA)):
            if gray and tid == 1:
                continue
            out += seg(0xFFC4, bytes([(cls << 4) | tid])
                       + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    sos = bytearray([len(comps)])
    for ci, (_p, _hi, _vi, _q, tid) in enumerate(comps):
        sos += bytes([ci + 1, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    out += seg(0xFFDA, bytes(sos))
    out += scan
    out += b"\xFF\xD9"                                # EOI
    return bytes(out)


class _BitReader:
    """MSB-first reader over an unstuffed entropy segment. Reads go
    through a 16-bit peek window (one int.from_bytes per call instead
    of a per-bit Python loop — ~4x on the decode hot path); peeking
    past the segment end yields zero bits, which cannot form a valid
    code, so truncated streams still fail loudly in _read_huff."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position
        self.nbits = len(data) * 8

    def peek16(self) -> int:
        byte_pos = self.pos >> 3
        chunk = self.data[byte_pos:byte_pos + 4]
        if len(chunk) < 4:
            chunk = chunk + b"\x00" * (4 - len(chunk))
        return (int.from_bytes(chunk, "big")
                >> (16 - (self.pos & 7))) & 0xFFFF

    def bit(self) -> int:
        if self.pos >= self.nbits:
            raise IndexError("bit read past end of entropy segment")
        b = self.peek16() >> 15
        self.pos += 1
        return b

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.pos + n > self.nbits:
            raise IndexError("bit read past end of entropy segment")
        v = self.peek16() >> (16 - n)
        self.pos += n
        return v


def _extend(v: int, size: int) -> int:
    if size and v < (1 << (size - 1)):
        return v - (1 << size) + 1
    return v


def _read_huff(br: _BitReader, lut: list) -> int:
    # flat LUT: prefix-free canonical codes partition the 16-bit peek
    # space, so one list read yields (symbol, length) — identical
    # semantics to the bit-at-a-time walk
    e = lut[br.peek16()]
    if e is None:
        raise ValueError("invalid Huffman code in scan")
    sym, length = e
    if br.pos + length > br.nbits:
        raise IndexError("bit read past end of entropy segment")
    br.pos += length
    return sym


def _parse_jpeg(data: bytes) -> dict:
    """Parse markers + split the entropy scan of a baseline JPEG.
    Returns a meta dict consumed by the serial and lockstep entropy
    decoders; raises ``NotImplementedError``/``ValueError`` exactly
    like the former monolithic decoder."""
    if len(data) < 4 or data[0:2] != b"\xFF\xD8":
        raise NotImplementedError("not a JPEG payload (no SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs_raw: dict[tuple[int, int], tuple] = {}
    restart = 0
    frame = None  # (h, w, [(cid, hi, vi, tq)])
    scan_comps = None
    scan_start = None

    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede the
        # marker id (real muxers emit them); skip to the last 0xFF
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # standalone markers (TEM, RSTn outside a scan): no length
            pos += 2
            continue
        if pos + 4 > len(data):
            break
        (size,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4:pos + 2 + size]
        pos += 2 + size
        if marker == 0xDB:  # DQT — may hold several tables
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0x0F
                b += 1
                if pq:
                    vals = np.frombuffer(body[b:b + 128],
                                         dtype=">u2").astype(np.float64)
                    b += 128
                else:
                    vals = np.frombuffer(body[b:b + 64],
                                         dtype=np.uint8).astype(np.float64)
                    b += 64
                qtabs[tq] = vals[UNZIGZAG].reshape(8, 8)
        elif marker == 0xC4:  # DHT — may hold several tables
            b = 0
            while b < len(body):
                cls, tid = body[b] >> 4, body[b] & 0x0F
                bits = list(body[b + 1:b + 17])
                n = sum(bits)
                vals = list(body[b + 17:b + 17 + n])
                htabs_raw[(cls, tid)] = (bits, vals)
                b += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0/1 baseline
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG unsupported")
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i:9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (h, w, comps)
        elif marker == 0xC2:
            raise NotImplementedError("progressive JPEG (SOF2) unsupported")
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF marker 0xFF{marker:02X} unsupported (baseline only)")
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan_comps = [(body[1 + 2 * i], body[2 + 2 * i] >> 4,
                           body[2 + 2 * i] & 0x0F) for i in range(ns)]
            scan_start = pos
            break
        # APPn / COM / others: skipped

    if frame is None or scan_comps is None:
        raise NotImplementedError("no baseline frame/scan found")
    h, w, comps = frame

    # Entropy segment: unstuff 0xFF00, split on RSTn, stop at other
    # marker. Vectorized: only 0xFF positions are visited in Python
    # (stuffing/markers are rare); the byte compaction is one boolean
    # take instead of a per-byte bytearray walk.
    arr = np.frombuffer(data, dtype=np.uint8)[scan_start:]
    ff = np.nonzero(arr[:-1] == 0xFF)[0]
    nxts = arr[ff + 1] if len(ff) else arr[:0]
    keep = np.ones(len(arr), dtype=bool)
    seg_marks: list[int] = []
    end = len(arr)
    for p, nx in zip(ff.tolist(), nxts.tolist()):
        if nx == 0x00:
            keep[p + 1] = False       # stuffed zero: emit FF, drop 00
        elif 0xD0 <= nx <= 0xD7:
            seg_marks.append(p)       # RSTn: segment boundary
            keep[p] = False
            keep[p + 1] = False
        else:
            end = p                   # EOI or next marker: stop
            keep[p:] = False
            break
    if end < len(arr):
        seg_marks = [m for m in seg_marks if m < end]
    csum = np.cumsum(keep)
    packed = arr[keep].tobytes()
    starts = [0] + [int(csum[m]) for m in seg_marks]
    stops = starts[1:] + [len(packed)]
    segments = [packed[a:b] for a, b in zip(starts, stops)]

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax not in (1, 2) or vmax not in (1, 2):
        raise NotImplementedError(
            f"sampling factors up to 2 supported (got {hmax}x{vmax})")
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    return {"h": h, "w": w, "comps": comps, "qtabs": qtabs,
            "htabs_raw": htabs_raw, "restart": restart,
            "scan_comps": scan_comps, "segments": segments,
            "hmax": hmax, "vmax": vmax, "mcux": mcux, "mcuy": mcuy}


def _huff_raw(htabs_raw: dict, cls: int, tid: int) -> tuple:
    """(bits, vals) for a table id, falling back to the Annex-K tables
    when the stream omitted DHT (the OpenDML MJPG convention)."""
    t = htabs_raw.get((cls, tid))
    if t is None:
        t = htabs_raw[(cls, tid)] = {
            (0, 0): DC_LUMA, (1, 0): AC_LUMA,
            (0, 1): DC_CHROMA, (1, 1): AC_CHROMA}[(cls, tid)]
    return t


def _scan_layout(meta: dict):
    """Per-component decode layout: (ci, dc_raw, ac_raw, hi, vi, qtbl)
    in scan order plus per-component block-grid widths."""
    by_id = {cid: (hi, vi, tq) for cid, hi, vi, tq in meta["comps"]}
    order = []
    for ci, (cid, dc_id, ac_id) in enumerate(meta["scan_comps"]):
        hi, vi, tq = by_id[cid]
        if tq not in meta["qtabs"]:
            raise ValueError(f"missing quant table {tq}")
        order.append((ci, _huff_raw(meta["htabs_raw"], 0, dc_id),
                      _huff_raw(meta["htabs_raw"], 1, ac_id), hi, vi,
                      meta["qtabs"][tq]))
    return order


def _entropy_serial(meta: dict) -> list:
    """Reference scalar entropy decoder: one Python loop over MCUs.
    Returns per-component zigzag coefficient grids
    (mcuy*vi, mcux*hi, 64) int32."""
    mcux, mcuy = meta["mcux"], meta["mcuy"]
    restart, segments = meta["restart"], meta["segments"]
    order = _scan_layout(meta)
    planes = [np.zeros((mcuy * vi, mcux * hi, 64), dtype=np.int32)
              for (_ci, _dc, _ac, hi, vi, _q) in order]
    luts = [(_decode_lut(*dc_raw), _decode_lut(*ac_raw))
            for (_ci, dc_raw, ac_raw, _hi, _vi, _q) in order]

    nmcu = mcux * mcuy
    seg_i = 0
    br = _BitReader(segments[0])
    preds = [0] * len(order)
    for m in range(nmcu):
        if restart and m and m % restart == 0:
            seg_i += 1
            if seg_i >= len(segments):
                raise ValueError("scan ended before all MCUs decoded")
            br = _BitReader(segments[seg_i])
            preds = [0] * len(order)
        my, mx = divmod(m, mcux)
        for (ci, _dc_raw, _ac_raw, hi, vi, _q), (dc_t, ac_t) in zip(order, luts):
            for by in range(vi):
                for bx in range(hi):
                    size = _read_huff(br, dc_t)
                    diff = _extend(br.bits(size), size) if size else 0
                    preds[ci] += diff
                    coefs = planes[ci][my * vi + by, mx * hi + bx]
                    coefs[0] = preds[ci]
                    k = 1
                    while k < 64:
                        sym = _read_huff(br, ac_t)
                        if sym == 0x00:  # EOB
                            break
                        run, size = sym >> 4, sym & 0x0F
                        if size == 0:
                            if run != 15:
                                raise ValueError(f"bad AC symbol {sym:#x}")
                            k += 16  # ZRL
                            continue
                        k += run
                        if k > 63:
                            raise ValueError("AC run past block end")
                        coefs[k] = _extend(br.bits(size), size)
                        k += 1
    return planes


def _reconstruct(meta: dict, planes: list) -> np.ndarray:
    """Zigzag coefficient grids -> uint8 image: dequantize + batched
    IDCT per component, then upsample, crop and color-convert."""
    h, w = meta["h"], meta["w"]
    hmax, vmax = meta["hmax"], meta["vmax"]
    order = _scan_layout(meta)
    out_planes = []
    for (ci, _dc, _ac, hi, vi, qtbl), zz in zip(order, planes):
        bh, bwid = zz.shape[0], zz.shape[1]
        c = np.zeros((bh * bwid, 64), dtype=np.float64)
        c[:, ZIGZAG] = zz.reshape(-1, 64)
        c = c.reshape(-1, 8, 8) * qtbl
        pix = DCT_M.T @ c @ DCT_M + 128.0
        plane = (pix.reshape(bh, bwid, 8, 8).transpose(0, 2, 1, 3)
                 .reshape(bh * 8, bwid * 8))
        if hi < hmax or vi < vmax:
            plane = np.repeat(np.repeat(plane, vmax // vi, axis=0),
                              hmax // hi, axis=1)
        out_planes.append(plane[:h, :w])

    if len(out_planes) == 1:
        return np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
    if len(out_planes) == 3:
        ycc = np.stack(out_planes, axis=-1)
        ycc[..., 0] = np.clip(ycc[..., 0], 0, 255)
        return ycbcr_to_rgb(ycc)
    raise NotImplementedError(
        f"{len(out_planes)}-component JPEG unsupported")


def jpeg_decode(data: bytes) -> np.ndarray:
    """Decode a baseline JPEG to uint8: (H, W, 3) RGB for 3-component
    scans, (H, W) for grayscale.  Supports SOF0/SOF1, sampling factors
    in {1, 2}, restart markers, 8/16-bit DQT, and the MJPG missing-DHT
    convention (Annex-K tables assumed).  Progressive / arithmetic /
    12-bit inputs raise ``NotImplementedError``."""
    meta = _parse_jpeg(data)
    return _reconstruct(meta, _entropy_serial(meta))


# --- vectorized batch decode across restart segments -----------------

_LUT_NP_CACHE: dict[tuple, tuple] = {}


def _decode_lut_np(bits: list[int], vals: list[int]) -> tuple:
    """NumPy form of the flat 16-bit decode LUT: (symbol uint8 array,
    code-length uint8 array, 65536 each; length 0 = invalid window)."""
    key = (tuple(bits), tuple(vals))
    hit = _LUT_NP_CACHE.get(key)
    if hit is None:
        if len(_LUT_NP_CACHE) >= 64:
            _LUT_NP_CACHE.pop(next(iter(_LUT_NP_CACHE)))
        sym = np.zeros(65536, dtype=np.uint8)
        ln = np.zeros(65536, dtype=np.uint8)
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                start = code << (16 - length)
                stop = start + (1 << (16 - length))
                sym[start:stop] = vals[k]
                ln[start:stop] = length
                k += 1
                code += 1
            code <<= 1
        hit = _LUT_NP_CACHE[key] = (sym, ln)
    return hit


def _lockstep_eligible(meta: dict) -> bool:
    """Lockstep decodes one lane per restart segment; it needs the
    segment count the DRI interval implies (foreign streams with odd
    segmenting fall back to the serial loop)."""
    r = meta["restart"]
    if not r:
        return False
    nmcu = meta["mcux"] * meta["mcuy"]
    return len(meta["segments"]) == -(-nmcu // r)


def _entropy_lockstep(metas: list[dict]) -> list[list]:
    """Vectorized entropy decode of MANY frames at once: one lane per
    restart segment, all lanes stepped in lockstep with NumPy (word-
    window bit peeks + flat-LUT gathers, same technique as
    gorilla.decode_batch). Per step every active lane decodes exactly
    one Huffman symbol; divergent lanes are masked. Semantically
    identical to :func:`_entropy_serial` (DC preds reset per segment,
    EOB/ZRL/run handling, loud errors on invalid codes or overruns).

    Returns, per meta, the same per-component coefficient grids the
    serial decoder produces."""
    # ---- global LUT registry ----
    lut_syms: list[np.ndarray] = []
    lut_lens: list[np.ndarray] = []
    lut_index: dict[int, int] = {}

    def lut_id(raw: tuple) -> int:
        sym, ln = _decode_lut_np(*raw)
        key = id(sym)
        if key not in lut_index:
            lut_index[key] = len(lut_syms)
            lut_syms.append(sym)
            lut_lens.append(ln)
        return lut_index[key]

    # ---- per-frame geometry -> per-lane block tables ----
    # A lane is one restart segment. All of a frame's full lanes have
    # r*B blocks (B = blocks per MCU); the tail lane is shorter. Build
    # the whole frame's MCU-order block arrays in one vectorized shot,
    # then slice lanes out of them.
    lane_rows: list[tuple] = []   # (dest, dc, ac, ci) 1-D arrays per lane
    lane_segs: list[bytes] = []
    frame_plane_meta: list[list] = []
    total_blocks = 0
    max_ncomp = 1
    for meta in metas:
        mcux, mcuy, r = meta["mcux"], meta["mcuy"], meta["restart"]
        nmcu = mcux * mcuy
        order = _scan_layout(meta)
        max_ncomp = max(max_ncomp, len(order))
        bases = []
        pat = {k: [] for k in ("ci", "dc", "ac", "by", "bx",
                               "hi", "vi", "bw", "base")}
        for (ci, dc_raw, ac_raw, hi, vi, _q) in order:
            bw_i = mcux * hi
            bases.append((total_blocks, mcuy * vi, bw_i))
            d_id, a_id = lut_id(dc_raw), lut_id(ac_raw)
            for by in range(vi):
                for bx in range(hi):
                    for k, v in (("ci", ci), ("dc", d_id), ("ac", a_id),
                                 ("by", by), ("bx", bx), ("hi", hi),
                                 ("vi", vi), ("bw", bw_i),
                                 ("base", total_blocks)):
                        pat[k].append(v)
            total_blocks += (mcuy * vi) * bw_i
        frame_plane_meta.append(bases)
        p = {k: np.asarray(v, dtype=np.int64) for k, v in pat.items()}
        B = len(p["ci"])
        ms = np.arange(nmcu, dtype=np.int64)
        my, mx = ms // mcux, ms % mcux
        dest_all = (p["base"][None, :]
                    + (my[:, None] * p["vi"][None, :] + p["by"][None, :])
                    * p["bw"][None, :]
                    + mx[:, None] * p["hi"][None, :]
                    + p["bx"][None, :]).reshape(-1)
        dc_all = np.tile(p["dc"], nmcu)
        ac_all = np.tile(p["ac"], nmcu)
        ci_all = np.tile(p["ci"], nmcu)
        for s_i, seg in enumerate(meta["segments"]):
            a = s_i * r * B
            b = min((s_i + 1) * r, nmcu) * B
            lane_rows.append((dest_all[a:b], dc_all[a:b],
                              ac_all[a:b], ci_all[a:b]))
            lane_segs.append(seg)

    n_lanes = len(lane_segs)
    maxbytes = max((len(s) for s in lane_segs), default=0)
    nwords = maxbytes // 8 + 2
    buf = np.zeros((n_lanes, nwords * 8), dtype=np.uint8)
    for i, s in enumerate(lane_segs):
        buf[i, :len(s)] = np.frombuffer(s, dtype=np.uint8)
    words = buf.view(">u8").astype(np.uint64)

    nblk = np.array([len(t[0]) for t in lane_rows], dtype=np.int64)
    maxblocks = int(nblk.max()) if n_lanes else 0
    # +1 pad column: finished lanes keep bptr == nblk and may be
    # indexed harmlessly by the full-array masked stepping below
    dest_t = np.zeros((n_lanes, maxblocks + 1), dtype=np.int64)
    dc_t = np.zeros((n_lanes, maxblocks + 1), dtype=np.int64)
    ac_t = np.zeros((n_lanes, maxblocks + 1), dtype=np.int64)
    ci_t = np.zeros((n_lanes, maxblocks + 1), dtype=np.int64)
    for i, (d, dc, acc, ci) in enumerate(lane_rows):
        j = len(d)
        dest_t[i, :j] = d
        dc_t[i, :j] = dc
        ac_t[i, :j] = acc
        ci_t[i, :j] = ci

    # packed LUT: sym << 8 | code_length, one gather per step
    packed_luts = [(s.astype(np.int64) << 8) | l.astype(np.int64)
                   for s, l in zip(lut_syms, lut_lens)]
    lut_tab = (np.stack(packed_luts) if packed_luts
               else np.zeros((1, 65536), np.int64))

    coef = np.zeros((max(total_blocks, 1), 64), dtype=np.int32)
    cur = np.zeros(n_lanes, dtype=np.int64)
    nbits = np.asarray([len(s) * 8 for s in lane_segs], dtype=np.int64)
    bptr = np.zeros(n_lanes, dtype=np.int64)
    kpos = np.zeros(n_lanes, dtype=np.int64)   # 0 = DC phase
    preds = np.zeros((n_lanes, max_ncomp), dtype=np.int64)
    active = bptr < nblk
    lanes = np.arange(n_lanes)
    u64, u48, u63 = np.uint64(64), np.uint64(48), np.uint64(63)
    one = np.int64(1)

    # Full-array lockstep: every step runs over ALL lanes (masked
    # writes) — no per-step nonzero/gather/scatter index juggling;
    # inactive lanes read their pad column and are masked out.
    while active.any():
        c = cur
        w_i = c >> 6
        o = (c.astype(np.uint64) & u63)
        hi_w = words[lanes, w_i]
        lo_w = words[lanes, w_i + 1]
        win = np.where(o == 0, hi_w, (hi_w << o) | (lo_w >> (u64 - o)))
        peek16 = (win >> u48).astype(np.int64)

        isdc = active & (kpos == 0)
        tbl = np.where(isdc, dc_t[lanes, bptr], ac_t[lanes, bptr])
        ent = lut_tab[tbl, peek16]
        sym = ent >> 8
        ln = ent & 0xFF
        if not (ln[active]).all():
            raise ValueError("invalid Huffman code in scan")

        size = np.where(isdc, sym, sym & 15)
        if (size > 16).any():
            # mirror the serial reader, which raises on DC size
            # categories > 16 (crafted Huffman tables) instead of
            # wrapping the uint64 shifts below
            raise ValueError("invalid DC size symbol in scan")
        run = sym >> 4
        # value bits immediately follow the code: take them from the
        # same 64-bit window (code <= 16 bits + value <= 16 bits)
        has_v = size > 0
        after = win << ln.astype(np.uint64)
        szu = np.maximum(size, 1).astype(np.uint64)
        val_raw = np.where(has_v,
                           (after >> (u64 - szu)).astype(np.int64), 0)
        # _extend: v < 2^(size-1) -> v - 2^size + 1
        neg = has_v & (val_raw < (one << np.maximum(size - 1, 0)))
        val = np.where(neg, val_raw - (one << size) + 1, val_raw)

        cur = np.where(active, c + ln + size, c)
        if (cur > nbits)[active].any():
            raise IndexError("bit read past end of entropy segment")

        dst = dest_t[lanes, bptr]
        # ---- DC phase ----
        if isdc.any():
            di = lanes[isdc]
            cid = ci_t[di, bptr[isdc]]
            pnew = preds[di, cid] + val[isdc]
            preds[di, cid] = pnew
            coef[dst[isdc], 0] = pnew
        # ---- AC phase ----
        ac = active & ~isdc
        eob = ac & (sym == 0)
        zrl = ac & (sym == 0xF0)
        if (ac & (size == 0) & ~eob & ~zrl).any():
            bad = sym[ac & (size == 0) & ~eob & ~zrl][0]
            raise ValueError(f"bad AC symbol {int(bad):#x}")
        coefm = ac & has_v
        knew = kpos + run
        if coefm.any():
            if (knew[coefm] > 63).any():
                raise ValueError("AC run past block end")
            coef[dst[coefm], knew[coefm]] = val[coefm]
        # next k per lane: DC -> 1; ZRL -> k+16; EOB -> done; coef -> knew+1
        knext = np.where(isdc, one,
                         np.where(zrl, kpos + 16,
                                  np.where(eob, np.int64(64), knew + 1)))
        done = ac & (eob | (knext >= 64))
        kpos = np.where(active, np.where(done, 0, knext), kpos)
        bptr = bptr + done
        active = bptr < nblk

    # ---- split the flat coefficient buffer back into per-frame grids
    out: list[list] = []
    for meta, bases in zip(metas, frame_plane_meta):
        planes = []
        for base, bh, bw_i in bases:
            planes.append(coef[base:base + bh * bw_i]
                          .reshape(bh, bw_i, 64).astype(np.int32))
        out.append(planes)
    return out


def jpeg_decode_batch(datas: list[bytes]) -> list[np.ndarray]:
    """Decode MANY baseline JPEGs (e.g. the frames of one MJPG AVI) in
    one vectorized pass: every restart segment of every frame becomes a
    lane of :func:`_entropy_lockstep`, so the per-symbol Python-loop
    cost of the serial decoder is amortized across all frames (the
    engine's own MJPG writer emits restart_interval=1 precisely to
    expose this parallelism). Frames that are not lockstep-eligible
    (no/odd restart segmenting) fall back to the serial path — output
    is bit-identical either way. Reconstruction (IDCT/upsample/color)
    stays per-frame: it is already one NumPy pass per component, and a
    cross-frame batch measurably LOST to cache effects."""
    metas = [_parse_jpeg(d) for d in datas]
    out: list = [None] * len(datas)
    batch_ids = [i for i, m in enumerate(metas) if _lockstep_eligible(m)]
    planes_by_id: dict[int, list] = {}
    if len(batch_ids) >= 2:
        planes_list = _entropy_lockstep([metas[i] for i in batch_ids])
        planes_by_id = dict(zip(batch_ids, planes_list))
    for i, meta in enumerate(metas):
        planes = planes_by_id.get(i)
        if planes is None:
            planes = _entropy_serial(meta)
        out[i] = _reconstruct(meta, planes)
    return out
