"""Vendored pure-numpy baseline JPEG codec (decoder + minimal encoder).

Why this exists: the reference's image lane decodes camera JPEGs with
``cv2.imdecode`` (reference preprocess_image.py:52), but neither OpenCV nor
any other Python JPEG binding is a dependency of this package. A system
libjpeg-turbo shared library (``libjpeg.so.62``) is commonly present, yet
nothing here binds to it, so without this module the decode path could
not run at all. This module implements the baseline
sequential DCT process (ITU-T T.81 / ISO 10918-1) from the public spec —
enough to decode the reference fixture
(test/data/station_id_41_20200506T094000.jpg: SOF0, 8-bit, YCbCr 4:2:0)
and any other baseline JPEG — so the REAL decode → mask → crop →
normalize chain runs end-to-end in tests.

Decoder scope (everything the baseline process requires):
- markers: SOI/APPn/COM/DQT/SOF0/SOF1/DHT/DRI/SOS/RSTn/EOI
- entropy decoding in the libjpeg-turbo manner: the entropy-coded data
  is un-stuffed (FF00 → FF) once and split at RSTn markers, one segment
  per restart interval (DC predictors reset per segment); a 32-bit-plus
  bit window is refilled 4 bytes at a time with ``int.from_bytes``
- Huffman decoding through 16-bit lookahead tables (``_lookahead``), one
  per distinct DHT table, built on first use and cached per process
  (about 0.6 MB each): when code length + magnitude bits ≤ 16 a single
  lookup yields the bits consumed, the zero run and the EXTENDed value,
  so most coefficients cost one lookup; longer symbols take a slow path
- coefficients gathered as (flat index, value) pairs and written into
  one coefficient buffer with a single fancy-index assignment
- vectorized dequantize + de-zigzag + 2-D IDCT (separable 8×8 DCT basis,
  float64, ``_A.T @ blocks @ _A`` per component — the per-block work
  never touches the Python interpreter)
- chroma upsampling by sample replication; JFIF YCbCr→BGR (BGR channel
  order to match the ``cv2.imdecode(..., IMREAD_COLOR)`` contract the
  image lane's decoder slot expects)

Out of scope (raise ValueError): progressive (SOF2), arithmetic coding,
hierarchical, 12-bit precision. Camera/webcam output — the reference's
input domain — is overwhelmingly baseline.

Damaged input raises ValueError, never pads silently: a scan whose
decoding consumes a bit past the end of its entropy-coded data
(truncated upload, missing restart interval), an invalid Huffman code,
or an AC run past coefficient 63. Peeking past the end is fine — the
last symbols of a valid scan do.

Exactness: Huffman decoding, dequantization and the DC path are exact;
the float IDCT + rounding may differ from libjpeg's fixed-point islow
IDCT by ±1 LSB on some AC-heavy pixels (both are conforming decoders —
T.81 Annex K gives an accuracy band, not one canonical output). Tests
therefore assert analytic exactness on DC-only images, near-lossless
round-trips through the encoder, and committed sha256 fingerprints of
this decoder's output on seeded frames (4:4:4, 4:2:2, 4:2:0, grayscale,
restart intervals) so any decoder drift is caught.

The encoder exists for tests only: baseline, 4:4:4 by default or 4:2:2 /
4:2:0 chroma subsampling (box-averaged), optional restart intervals,
Annex K quantization tables scaled by an IJG-style quality factor, Annex
K "typical" Huffman tables. It lets the suite construct real JPEG bytes
from known pixel arrays without any external codec.
"""

from __future__ import annotations

import functools
import itertools
import re
from array import array

import numpy as np

# ---------------------------------------------------------------- tables

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# 8×8 DCT-II basis: A[k, n] = c(k)/2 * cos((2n+1)kπ/16); IDCT is Aᵀ X A.
def _dct_basis() -> np.ndarray:
    k = np.arange(8).reshape(8, 1)
    n = np.arange(8).reshape(1, 8)
    a = np.cos((2 * n + 1) * k * np.pi / 16.0) * 0.5
    a[0, :] *= 1.0 / np.sqrt(2.0)
    return a


_A = _dct_basis()

# Annex K.1 luminance / K.2 chrominance quantization tables (natural order)
K1_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
K2_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex K.3 "typical" Huffman tables: (BITS counts[1..16], HUFFVAL)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


# ----------------------------------------------------------- huffman dec

_UNZIGZAG = np.argsort(ZIGZAG)  # natural index j ← zigzag position
_M64 = (1 << 64) - 1
# the next marker that ends the entropy-coded data (not FF00, not RSTn)
_SCAN_END = re.compile(rb"\xff(?![\x00\xd0-\xd7])")
_RST = re.compile(rb"\xff[\xd0-\xd7]")


@functools.lru_cache(maxsize=32)
def _lookahead(bits: bytes, vals: bytes, ac: bool) -> tuple[tuple, ...]:
    """16-bit lookahead table of one DHT table (T.81 C.2 canonical codes).

    Entry ``lut[p]`` for the next 16 bits ``p`` of the stream:

    - DC: ``(n, diff)`` — consume ``n`` = code + magnitude bits, the DC
      difference already EXTENDed;
    - AC: ``(n, run, value)`` — a coefficient ``value`` (never 0) after
      ``run`` zeros; ``value == 0`` marks ZRL (``run`` 16) or EOB (``run``
      64, which ends the block);
    - ``n == 0`` marks the slow path, taken when code + magnitude bits
      exceed 16: the middle field is ``(code length << 8) | symbol``, or
      −1 when no code matches ``p`` (an invalid code).

    Entries are shared tuples, so a table costs one 64k tuple of pointers.
    Cached per process, keyed by the DHT payload."""
    if sum(bits) > len(vals):
        raise ValueError("invalid Huffman table")
    invalid = (0, -1, 0) if ac else (0, -1)
    entries = [invalid]
    index = np.zeros(1 << 16, dtype=np.intp)
    code, k = 0, 0
    for ll in range(1, 17):
        for _ in range(bits[ll - 1]):
            if code >= 1 << ll:
                raise ValueError("invalid Huffman table")
            sym = vals[k]
            run, s = (sym >> 4, sym & 15) if ac else (0, sym)
            if s > 15:
                raise ValueError(f"DC symbol {sym} out of range")
            if ll + s > 16:
                entries.append((0, ll << 8 | sym, 0) if ac else (0, ll << 8 | sym))
                lo = code << (16 - ll)
                index[lo : lo + (1 << (16 - ll))] = len(entries) - 1
            else:
                free = 16 - ll - s
                for m in range(1 << s):
                    v = _extend(m, s) if s else 0
                    if not ac:
                        entries.append((ll + s, v))
                    elif s:
                        entries.append((ll + s, run, v))
                    else:  # ZRL; any other s=0 symbol ends the block like EOB
                        entries.append((ll, 16 if run == 15 else 64, 0))
                    lo = ((code << s) | m) << free
                    index[lo : lo + (1 << free)] = len(entries) - 1
            code += 1
            k += 1
        code <<= 1
    return tuple(map(entries.__getitem__, index.tolist()))


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map an s-bit magnitude to its signed value."""
    return v - ((1 << s) - 1) if v < (1 << (s - 1)) else v


def _truncated() -> ValueError:
    return ValueError("truncated scan: entropy-coded data ends mid-block")


def _decode_segment(seg: bytes, blocks: list[tuple], ncomp: int,
                    idx: array, val: array) -> None:
    """Decode one restart interval (un-stuffed bytes) into (flat index,
    value) pairs, zigzag order within each 64-slot block.

    The bit window ``buf`` keeps ``nb`` valid low bits and is refilled 4
    bytes at a time whenever fewer than 32 remain, so one symbol (≤ 16
    code + ≤ 15 magnitude bits) never needs a second refill. The segment
    is zero-padded for peeking; consuming a bit past its real end raises
    (checked at every refill and once at the end)."""
    nbits = len(seg) * 8
    data = seg + bytes(8)
    from_bytes = int.from_bytes
    put_idx, put_val = idx.append, val.append
    buf = nb = pos = 0
    pred = [0] * ncomp
    for base, ci, dct, act in blocks:
        if nb < 32:
            if pos * 8 - nb > nbits:
                raise _truncated()
            buf = ((buf << 32) | from_bytes(data[pos : pos + 4], "big")) & _M64
            pos += 4
            nb += 32
        n, v = dct[(buf >> (nb - 16)) & 0xFFFF]
        if n:
            nb -= n
        elif v < 0:
            raise ValueError("invalid Huffman code")
        else:
            nb -= v >> 8
            s = v & 0xFF
            nb -= s
            v = _extend((buf >> nb) & ((1 << s) - 1), s)
        v += pred[ci]
        pred[ci] = v
        put_idx(base)
        put_val(v)
        k = 1
        while k < 64:
            if nb < 32:
                if pos * 8 - nb > nbits:
                    raise _truncated()
                buf = ((buf << 32) | from_bytes(data[pos : pos + 4], "big")) & _M64
                pos += 4
                nb += 32
            n, r, v = act[(buf >> (nb - 16)) & 0xFFFF]
            if v:
                nb -= n
                k += r
                if k > 63:
                    raise ValueError("AC index overflow")
                put_idx(base + k)
                put_val(v)
                k += 1
            elif n:  # ZRL / EOB
                nb -= n
                k += r
            elif r < 0:
                raise ValueError("invalid Huffman code")
            else:
                nb -= r >> 8
                s = r & 15
                nb -= s
                k += (r >> 4) & 15
                if k > 63:
                    raise ValueError("AC index overflow")
                put_idx(base + k)
                put_val(_extend((buf >> nb) & ((1 << s) - 1), s))
                k += 1
    if pos * 8 - nb > nbits:
        raise _truncated()


# --------------------------------------------------------------- decoder


def decode(data: bytes) -> np.ndarray:
    """Baseline JPEG bytes → uint8 ndarray, BGR channel order for color
    (the cv2.imdecode contract), (H, W) for grayscale."""
    if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, tuple] = {}
    huff_ac: dict[int, tuple] = {}
    restart_interval = 0
    frame = None  # (h, w, comps) where comps = [(cid, hs, vs, tq)]
    i = 2
    while i < len(data):
        if data[i] != 0xFF:
            raise ValueError(f"marker expected at {i}")
        m = data[i + 1]
        if m == 0xD8 or m == 0x01 or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if m == 0xD9:  # EOI
            break
        seg_len = (data[i + 2] << 8) | data[i + 3]
        seg = data[i + 4 : i + 2 + seg_len]
        if m == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qt[tq] = np.frombuffer(
                    seg[p + 1 : p + 65], dtype=np.uint8
                ).astype(np.int64)
                p += 65
        elif m in (0xC0, 0xC1):  # SOF0 / SOF1 (both baseline-huffman DCT)
            if seg[0] != 8:
                raise ValueError("only 8-bit precision supported")
            h = (seg[1] << 8) | seg[2]
            w = (seg[3] << 8) | seg[4]
            nc = seg[5]
            comps = []
            for c in range(nc):
                cid = seg[6 + c * 3]
                hv = seg[7 + c * 3]
                comps.append((cid, hv >> 4, hv & 15, seg[8 + c * 3]))
            frame = (h, w, comps)
        elif m in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD,
                   0xCE, 0xCF):
            raise ValueError(
                f"non-baseline SOF FF{m:02X} (progressive/arithmetic) "
                "unsupported"
            )
        elif m == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = bytes(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = bytes(seg[p + 17 : p + 17 + nv])
                (huff_ac if tc else huff_dc)[th] = _lookahead(bits, vals, bool(tc))
                p += 17 + nv
        elif m == 0xDD:  # DRI
            restart_interval = (seg[0] << 8) | seg[1]
        elif m == 0xDA:  # SOS → entropy-coded data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan = []  # (comp_index, dc_table, ac_table)
            for s in range(ns):
                cs = seg[1 + s * 2]
                td, ta = seg[2 + s * 2] >> 4, seg[2 + s * 2] & 15
                ci = next(
                    idx for idx, c in enumerate(frame[2]) if c[0] == cs
                )
                scan.append((ci, huff_dc[td], huff_ac[ta]))
            return _decode_scan(
                data, i + 2 + seg_len, frame, scan, qt, restart_interval
            )
        # APPn / COM / others: skip
        i += 2 + seg_len
    raise ValueError("no scan data found")


def _decode_scan(data, pos, frame, scan, qt, restart_interval):
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # one flat coefficient buffer: each component's (blocks_y, blocks_x,
    # 64) zigzag-ordered grid, back to back
    offs, total = [], 0
    for _, hs, vs, _ in comps:
        offs.append(total)
        total += mcuy * vs * mcux * hs * 64
    # every block's buffer offset, in scan order (MCU-major)
    my, mx = np.divmod(np.arange(mcuy * mcux), mcux)
    bases, units = [], []
    for ci, dct, act in scan:
        _, hs, vs, _ = comps[ci]
        for by in range(vs):
            for bx in range(hs):
                bases.append(
                    offs[ci] + ((my * vs + by) * (mcux * hs) + mx * hs + bx) * 64
                )
                units.append((ci, dct, act))
    blocks = [
        (b, *u)
        for b, u in zip(np.stack(bases, axis=1).ravel().tolist(),
                        itertools.cycle(units))
    ]
    # un-stuff once, one segment per restart interval
    end = _SCAN_END.search(data, pos)
    segments = [
        s.replace(b"\xff\x00", b"\xff")
        for s in _RST.split(data[pos : end.start() if end else len(data)])
    ]
    per = len(units) * (restart_interval or mcux * mcuy)
    if len(segments) * per < len(blocks):
        raise ValueError("truncated scan: restart intervals missing")
    idx, val = array("q"), array("q")
    for r in range(0, len(blocks), per):
        _decode_segment(segments[r // per], blocks[r : r + per], len(comps),
                        idx, val)
    coef = np.zeros(total, dtype=np.int64)
    coef[np.frombuffer(idx, dtype=np.int64)] = np.frombuffer(val, dtype=np.int64)
    planes = []
    for ci, (_, hs, vs, tq) in enumerate(comps):
        by, bx = mcuy * vs, mcux * hs
        # dequantize in zigzag order (DQT is zigzag), then de-zigzag
        grid = coef[offs[ci] : offs[ci] + by * bx * 64].reshape(by, bx, 64)
        blocks_nat = (grid * qt[tq])[:, :, _UNZIGZAG]
        pix = _A.T @ blocks_nat.reshape(by, bx, 8, 8).astype(np.float64) @ _A
        plane = (
            pix.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8) + 128.0
        )
        # upsample by sample replication to full-res grid
        if hs != hmax or vs != vmax:
            plane = np.repeat(
                np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1
            )
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    bgr = np.stack([b, g, r], axis=-1)
    return np.clip(np.round(bgr), 0, 255).astype(np.uint8)


# --------------------------------------------------------------- encoder


def _enc_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for ll in range(1, 17):
        for _ in range(bits[ll - 1]):
            out[vals[k]] = (code, ll)
            code += 1
            k += 1
        code <<= 1
    return out


def _tab_arrays(tab: dict[int, tuple[int, int]]) -> tuple[np.ndarray, np.ndarray]:
    """dict symbol → (code, length) as two dense lookup arrays; a symbol
    the table does not cover has length −1, which ``emit`` rejects."""
    code = np.zeros(256, dtype=np.int64)
    length = np.full(256, -1, dtype=np.int64)
    for sym, (c, ll) in tab.items():
        code[sym] = c
        length[sym] = ll
    return code, length


def _magnitude_vec(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Signed int64 values → (category s, s-bit code). frexp's exponent
    IS bit_length for integers (exact in float64 up to 2⁵³ — far above
    any quantized coefficient)."""
    a = np.abs(v).astype(np.float64)
    s = np.frexp(a)[1].astype(np.int64)  # frexp(0) → exponent 0 → s=0 ✓
    mag = np.where(v >= 0, v, v + (np.int64(1) << s) - 1)
    return s, mag


def _pack(code: np.ndarray, length: np.ndarray) -> bytes:
    """Symbols → entropy-coded bytes: MSB-first per symbol, the tail
    padded with 1s (spec), then 0x00 stuffed after every 0xFF."""
    total = int(length.sum())
    ends = np.cumsum(length)
    starts = ends - length
    sym_of_bit = np.repeat(np.arange(len(length)), length)
    j = np.arange(total) - starts[sym_of_bit]
    shift = length[sym_of_bit] - 1 - j
    bits = ((code[sym_of_bit] >> shift) & 1).astype(np.uint8)
    pad = (-total) % 8
    if pad:
        bits = np.concatenate([bits, np.ones(pad, np.uint8)])
    data = np.packbits(bits)
    ff = np.nonzero(data == 0xFF)[0]
    if len(ff):
        data = np.insert(data, ff + 1, 0)
    return data.tobytes()


def _entropy_encode_vec(
    qcoefs: list[np.ndarray],
    comp_q: list[int],
    sampling: list[tuple[int, int]],
    dc_tabs: list[dict],
    ac_tabs: list[dict],
    restart_interval: int = 0,
) -> bytes:
    """Vectorized baseline entropy coder: builds every (code, length)
    symbol with numpy, orders them by the interleaved MCU scan, and packs
    bits with one repeat/cumsum pass per restart interval.

    ``qcoefs[pi]`` is component pi's (blocks_y, blocks_x, 64) zigzag grid
    and ``sampling[pi]`` its (hs, vs); an MCU holds hs×vs blocks of each
    component in turn. Symbol ordering key: blocks are numbered in scan
    order; within a block, seq 0/1 are the DC huffman code and DC
    magnitude bits, the AC coefficient at zigzag position k owns seq
    slots 2+8(k−1)..2+8(k−1)+5 (up to three ZRLs, then its huffman code,
    then its magnitude bits), and EOB takes the tail slot — so a stable
    sort by (block, seq) reproduces the serial emission order exactly."""
    units = sum(hs * vs for hs, vs in sampling)  # blocks per MCU
    EOB_SEQ = 2 + 8 * 63
    keys: list[np.ndarray] = []
    codes: list[np.ndarray] = []
    lens: list[np.ndarray] = []

    def emit(block, seq, code, length, mask=None):
        """Queue symbols (vector args); drop masked entries."""
        if mask is not None:
            block, seq, code, length = block[mask], seq[mask], code[mask], length[mask]
        if (length < 0).any():
            raise ValueError("symbol has no code in the Huffman table")
        keys.append(np.asarray(block * 1024 + seq, dtype=np.int64))
        codes.append(np.asarray(code, dtype=np.int64))
        lens.append(np.asarray(length, dtype=np.int64))

    unit0 = 0  # this component's first block within an MCU
    for pi, (hs, vs) in enumerate(sampling):
        tix = 0 if comp_q[pi] == 0 else 1
        dc_code, dc_len = _tab_arrays(dc_tabs[tix])
        ac_code, ac_len = _tab_arrays(ac_tabs[tix])
        by, bx = qcoefs[pi].shape[:2]
        # the component's blocks in scan order: MCU-major, then vs×hs
        flat = (
            qcoefs[pi].reshape(by // vs, vs, bx // hs, hs, 64)
            .transpose(0, 2, 1, 3, 4).reshape(-1, 64)
        )
        nb = flat.shape[0]
        j = np.arange(nb, dtype=np.int64)
        per = hs * vs
        ranks = (j // per) * units + unit0 + j % per
        unit0 += per

        # --- DC: differential against the previous block of THIS
        # component; the predictor resets at each restart interval
        dcs = flat[:, 0].astype(np.int64)
        diffs = np.empty_like(dcs)
        diffs[0] = dcs[0]
        diffs[1:] = dcs[1:] - dcs[:-1]
        if restart_interval:
            first = j % (per * restart_interval) == 0
            diffs[first] = dcs[first]
        s, mag = _magnitude_vec(diffs)
        emit(ranks, np.zeros(nb, np.int64), dc_code[s], dc_len[s])
        emit(ranks, np.ones(nb, np.int64), mag, s, mask=s > 0)

        # --- AC: run-length over the zigzag tail, all blocks at once
        ac = flat[:, 1:]
        b_idx, k0 = np.nonzero(ac)  # row-major ⇒ ascending (block, k)
        k = (k0 + 1).astype(np.int64)
        vals = ac[b_idx, k0].astype(np.int64)
        prev_k = np.zeros_like(k)
        if len(k) > 1:
            same = b_idx[1:] == b_idx[:-1]
            prev_k[1:] = np.where(same, k[:-1], 0)
        run = k - prev_k - 1
        nzrl = run >> 4
        rem = run & 15
        s, mag = _magnitude_vec(vals)
        base = 2 + 8 * (k - 1)
        # ZRL symbols (run > 15): nzrl copies per coefficient, seq base+j
        zi = np.nonzero(nzrl)[0]
        if len(zi):
            rep = np.repeat(zi, nzrl[zi])
            ends = np.cumsum(nzrl[zi])
            jz = np.arange(len(rep)) - np.repeat(ends - nzrl[zi], nzrl[zi])
            emit(
                ranks[b_idx[rep]],
                base[rep] + jz,
                np.full(len(rep), ac_code[0xF0], np.int64),
                np.full(len(rep), ac_len[0xF0], np.int64),
            )
        sym = (rem << 4) | s
        emit(ranks[b_idx], base + 4, ac_code[sym], ac_len[sym])
        emit(ranks[b_idx], base + 5, mag, s)

        # --- EOB for blocks whose last nonzero sits before k=63
        lastk = np.zeros(nb, np.int64)
        lastk[b_idx] = k  # ascending ⇒ final write per block is max k
        eb = np.nonzero(lastk < 63)[0]
        emit(
            ranks[eb],
            np.full(len(eb), EOB_SEQ, np.int64),
            np.full(len(eb), ac_code[0x00], np.int64),
            np.full(len(eb), ac_len[0x00], np.int64),
        )

    key = np.concatenate(keys)
    order = np.argsort(key, kind="stable")
    code, length = np.concatenate(codes)[order], np.concatenate(lens)[order]
    if not restart_interval:
        return _pack(code, length)
    # one byte-aligned chunk per interval, RST0..RST7 cycling between them
    interval = key[order] // 1024 // units // restart_interval
    cuts = np.flatnonzero(np.diff(interval)) + 1
    out = bytearray()
    for i, (c, ll) in enumerate(zip(np.split(code, cuts), np.split(length, cuts))):
        if i:
            out += bytes([0xFF, 0xD0 + (i - 1) % 8])
        out += _pack(c, ll)
    return bytes(out)


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 50 → Annex K as-is, 100 → all-ones."""
    quality = min(max(quality, 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - quality * 2
    q = (table * scale + 50) // 100
    return np.clip(q, 1, 255)


# luma (hs, vs) per chroma subsampling; chroma is always 1×1
SUBSAMPLING = {"4:4:4": (1, 1), "4:2:2": (2, 1), "4:2:0": (2, 2)}


def encode(image: np.ndarray, quality: int = 90, subsampling: str = "4:4:4",
           restart_interval: int = 0) -> bytes:
    """uint8 (H,W) grayscale or (H,W,3) BGR → baseline JPEG bytes (Annex K
    tables scaled by ``quality``). Color images take a ``subsampling``
    from SUBSAMPLING (chroma is box-averaged); ``restart_interval`` > 0
    writes DRI and an RSTn marker every that many MCUs."""
    if image.dtype != np.uint8:
        raise ValueError("encode expects uint8")
    if subsampling not in SUBSAMPLING:
        raise ValueError(f"subsampling must be one of {sorted(SUBSAMPLING)}")
    gray = image.ndim == 2
    h, w = image.shape[:2]
    if gray:
        planes = [image.astype(np.float64) - 128.0]
        qtabs = [_quality_scale(K1_LUMA, quality)]
        comp_q = [0]
        sampling = [(1, 1)]
    else:
        b = image[..., 0].astype(np.float64)
        g = image[..., 1].astype(np.float64)
        r = image[..., 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [y, cb, cr]
        qtabs = [
            _quality_scale(K1_LUMA, quality),
            _quality_scale(K2_CHROMA, quality),
        ]
        comp_q = [0, 1, 1]
        sampling = [SUBSAMPLING[subsampling], (1, 1), (1, 1)]
    hmax, vmax = sampling[0]

    dc_tabs = [_enc_table(DC_LUMA_BITS, DC_LUMA_VALS),
               _enc_table(DC_CHROMA_BITS, DC_CHROMA_VALS)]
    ac_tabs = [_enc_table(AC_LUMA_BITS, AC_LUMA_VALS),
               _enc_table(AC_CHROMA_BITS, AC_CHROMA_VALS)]

    # pad to whole MCUs by edge replication, box-average the subsampled
    # planes, forward DCT + quantize
    ph, pw = -(-h // (8 * vmax)) * 8 * vmax, -(-w // (8 * hmax)) * 8 * hmax
    qcoefs = []  # per component: (by, bx, 64) zigzag-ordered quantized
    for pi, plane in enumerate(planes):
        padded = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
        fy, fx = vmax // sampling[pi][1], hmax // sampling[pi][0]
        if fy > 1 or fx > 1:
            padded = padded.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
        by, bx = padded.shape[0] // 8, padded.shape[1] // 8
        blocks = (
            padded.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3)
        )
        coef = np.einsum("ik,yxkl,jl->yxij", _A, blocks, _A)
        # qtabs are in NATURAL (row-major) order, as Annex K prints them
        qn = qtabs[comp_q[pi]].reshape(8, 8)
        quant = np.round(coef / qn).astype(np.int64)
        qcoefs.append(
            quant.reshape(by, bx, 64)[:, :, ZIGZAG]
        )  # natural → zigzag order

    scan_bytes = _entropy_encode_vec(
        qcoefs, comp_q, sampling, dc_tabs, ac_tabs, restart_interval
    )

    # assemble marker stream
    out = bytearray(b"\xFF\xD8")  # SOI

    def seg(marker: int, payload: bytes) -> None:
        out.extend([0xFF, marker])
        ln = len(payload) + 2
        out.extend([ln >> 8, ln & 0xFF])
        out.extend(payload)

    for tq, q in enumerate(qtabs):
        # DQT payload is ZIGZAG-ordered per the spec (payload[k] =
        # Q_natural[ZIGZAG[k]]) — the decoder's argsort inverse restores
        # natural order, and third-party decoders interoperate
        seg(0xDB, bytes([tq]) + bytes(int(q[z]) for z in ZIGZAG))
    ncomp = len(planes)
    sof = bytearray([8, h >> 8, h & 0xFF, w >> 8, w & 0xFF, ncomp])
    for ci in range(ncomp):
        hs, vs = sampling[ci]
        sof.extend([ci + 1, hs << 4 | vs, comp_q[ci]])
    seg(0xC0, bytes(sof))
    for tc, tables in ((0, (DC_LUMA_BITS, DC_LUMA_VALS,
                            DC_CHROMA_BITS, DC_CHROMA_VALS)),
                       (1, (AC_LUMA_BITS, AC_LUMA_VALS,
                            AC_CHROMA_BITS, AC_CHROMA_VALS))):
        seg(0xC4, bytes([tc << 4 | 0] + tables[0] + tables[1]))
        if ncomp > 1:
            seg(0xC4, bytes([tc << 4 | 1] + tables[2] + tables[3]))
    if restart_interval:
        seg(0xDD, bytes([restart_interval >> 8, restart_interval & 0xFF]))
    sos = bytearray([ncomp])
    for ci in range(ncomp):
        t = 0 if comp_q[ci] == 0 else 1
        sos.extend([ci + 1, t << 4 | t])
    sos.extend([0, 63, 0])
    seg(0xDA, bytes(sos))
    out.extend(scan_bytes)
    out.extend(b"\xFF\xD9")  # EOI
    return bytes(out)
