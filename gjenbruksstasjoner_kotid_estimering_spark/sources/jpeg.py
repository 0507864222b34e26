"""JPEG codec of the image lane: decode through the system libjpeg, and
a minimal baseline encoder for tests.

The reference's image lane decodes camera JPEGs with ``cv2.imdecode``
(reference preprocess_image.py:52), which runs libjpeg's ISLOW decoder.
No JPEG binding is a dependency of this package, so ``decode`` calls
libjpeg(-turbo) through a small C shim (``_jpeg_shim.c``): the stream is
read from memory with ``jpeg_mem_src``, decoded with ``JDCT_ISLOW`` and
libjpeg's default (triangular) chroma upsampling as cv2 does, and the
scanlines go straight into a numpy buffer — BGR for color
(``JCS_EXT_BGR``, the ``cv2.imdecode(..., IMREAD_COLOR)`` channel
order), (H, W) for grayscale. Every stream libjpeg accepts decodes, progressive
ones included.

The shim is compiled on first use with ``gcc ... -ljpeg`` into a per-user
cache dir (``$XDG_CACHE_HOME`` or ``~/.cache``), named by the sha256 of
its source, and loaded with ctypes, which releases the GIL during the
call. A missing gcc or missing libjpeg headers fail with an error that
names them.

Damaged input raises ValueError, never pads silently: every libjpeg
warning is fatal. The message starts with ``truncated`` (the data ends
before the scan does), ``not a JPEG`` (no SOI marker) or ``corrupt``
(anything else, e.g. a bad Huffman code, a missing restart marker, or
entropy-coded data left over after the last block), then libjpeg's own
text. A stream cut only at its EOI marker still decodes: every scan bit
is there. As in cv2.imdecode, an AC run past coefficient 63 lands on
coefficient 63 instead of failing.

The encoder exists for tests only: baseline, 4:4:4 by default or 4:2:2 /
4:2:0 chroma subsampling (box-averaged), optional restart intervals,
Annex K quantization tables scaled by an IJG-style quality factor, Annex
K "typical" Huffman tables. It lets the suite construct real JPEG bytes
from known pixel arrays without any external codec.
"""
from __future__ import annotations

import ctypes
import functools
import hashlib
import os
import shutil
import subprocess
import tempfile

import numpy as np

from ..scratch import user_cache_dir

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

# 8×8 DCT-II basis: A[k, n] = c(k)/2 * cos((2n+1)kπ/16); the DCT is A X Aᵀ.
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


# --------------------------------------------------------------- decoder

_SHIM_C = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_jpeg_shim.c")
_SHIM_CLASSES = {1: "truncated", 2: "not a JPEG", 3: "corrupt"}
_MSG_LEN = 200  # libjpeg's JMSG_LENGTH_MAX


def _build_shim(cache_dir: str) -> str:
    """Path of the compiled shim in ``cache_dir``, compiling it first when
    absent. The file is named by the sha256 of the C source and written
    with an atomic rename, so processes that build at once each load a
    whole library and one file remains. The cache is per user, not under
    the temp dir, which a run may point at a directory it deletes."""
    with open(_SHIM_C, "rb") as f:
        so = os.path.join(cache_dir, hashlib.sha256(f.read()).hexdigest() + ".so")
    if os.path.exists(so):
        return so
    cc = shutil.which("gcc")
    if cc is None:
        raise RuntimeError("JPEG decoding needs gcc on PATH to build its libjpeg shim")
    os.makedirs(cache_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(suffix=".so.tmp", dir=cache_dir)
    os.close(fd)
    try:
        done = subprocess.run(
            [cc, "-O2", "-shared", "-fPIC", "-o", tmp, _SHIM_C, "-ljpeg"],
            capture_output=True, text=True,
        )
        if done.returncode:
            missing = ("jpeglib.h" if "jpeglib.h" in done.stderr
                       else "libjpeg" if "-ljpeg" in done.stderr else None)
            need = (f"the libjpeg development files ({missing} not found)"
                    if missing else "a working gcc")
            raise RuntimeError(
                f"JPEG decoding needs {need} to build its libjpeg shim:\n"
                + done.stderr.strip()
            )
        os.replace(tmp, so)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return so


@functools.cache
def _shim() -> ctypes.CDLL:
    """The libjpeg shim, built on first use and loaded once per process.
    ctypes releases the GIL for the length of each call."""
    lib = ctypes.CDLL(_build_shim(user_cache_dir()))
    lib.jshim_decode.argtypes = [
        ctypes.c_char_p, ctypes.c_ulong, ctypes.c_void_p, ctypes.c_ulong,
        ctypes.POINTER(ctypes.c_int), ctypes.c_char_p,
    ]
    lib.jshim_decode.restype = ctypes.c_int
    return lib


def _run_shim(data: bytes, out: np.ndarray | None, dims) -> None:
    """One shim call: the header alone into ``dims`` when ``out`` is None,
    else the pixels into ``out`` (C-contiguous, exactly the image's size)."""
    msg = ctypes.create_string_buffer(_MSG_LEN)
    code = _shim().jshim_decode(
        data, len(data), None if out is None else out.ctypes.data,
        0 if out is None else out.nbytes, dims, msg,
    )
    if code:
        raise ValueError(f"{_SHIM_CLASSES[code]}: {msg.value.decode(errors='replace')}")


def decode(data: bytes) -> np.ndarray:
    """JPEG bytes → uint8 ndarray, BGR channel order for color (the
    cv2.imdecode contract), (H, W) for grayscale. Damaged input raises
    ValueError whose message starts with ``truncated``, ``not a JPEG`` or
    ``corrupt``, followed by libjpeg's own message."""
    dims = (ctypes.c_int * 3)()
    _run_shim(data, None, dims)
    h, w, c = dims
    out = np.empty((h, w) if c == 1 else (h, w, c), np.uint8)
    _run_shim(data, out, dims)
    return out


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
