"""JPEG codec tests (sources/jpeg.py): the libjpeg decode shim and the
test-only encoder.

Independent lines of evidence that decode is right: analytic exactness
on DC-only images, near-lossless round-trips through the encoder,
hand-assembled streams, committed pixel hashes of seeded frames, and the
reference camera fixture (a third-party 4:2:0 stream) when present.
Damaged streams must raise ValueError with a stable class word. The
shim's build is checked from an empty cache dir, with four processes
building at once and without a compiler.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys

import numpy as np
import pytest

from gjenbruksstasjoner_kotid_estimering_spark.scratch import user_cache_dir
from gjenbruksstasjoner_kotid_estimering_spark.sources import jpeg

FIXTURE = "/root/reference/test/data/station_id_41_20200506T094000.jpg"


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = ((a.astype(np.float64) - b.astype(np.float64)) ** 2).mean()
    return 10 * np.log10(255**2 / max(mse, 1e-12))


def _scene(seed: int, h: int, w: int, gray: bool = False) -> np.ndarray:
    """A seeded camera-like frame: sky/road gradients, solid rectangles
    (sharp edges → long AC runs) and sensor noise."""
    rng = np.random.default_rng([seed, 7])
    rows = np.linspace(0.0, 1.0, h)[:, None, None]
    cols = np.linspace(0.0, 1.0, w)[None, :, None]
    img = (150 + 70 * rows - 40 * cols) * np.array([0.9, 1.0, 1.1])
    for _ in range(12):
        y0, x0 = int(rng.integers(0, h)), int(rng.integers(0, w))
        dy, dx = int(rng.integers(4, h // 3 + 5)), int(rng.integers(8, w // 6 + 9))
        img[y0 : y0 + dy, x0 : x0 + dx] = rng.integers(10, 245, 3)
    img += rng.normal(0.0, 4.0, img.shape)
    img = np.clip(img, 0, 255).astype(np.uint8)
    return img[..., 1].copy() if gray else img


def test_flat_grayscale_exact():
    """A flat image is DC-only; at quality 100 (quant ≈ 1) the round trip
    must be bit-exact — this pins Huffman coding, DC prediction, EXTEND,
    dequantization, IDCT and the +128 level shift all at once."""
    for val in (0, 63, 190, 255):
        img = np.full((16, 24), val, dtype=np.uint8)
        assert np.array_equal(jpeg.decode(jpeg.encode(img, quality=100)), img)


def test_flat_color_odd_dims_exact():
    """Non-multiple-of-8 dims exercise edge padding + final crop; flat
    color content survives the YCbCr round trip exactly."""
    img = np.full((13, 21, 3), 77, dtype=np.uint8)
    out = jpeg.decode(jpeg.encode(img, quality=100))
    assert out.shape == (13, 21, 3)
    assert int(np.abs(out.astype(int) - 77).max()) == 0


def test_gradient_roundtrip_high_psnr():
    g = np.linspace(20, 235, 64 * 48).reshape(48, 64).astype(np.uint8)
    out = jpeg.decode(jpeg.encode(g, quality=95))
    assert out.shape == g.shape
    assert _psnr(out, g) > 45.0


def test_smooth_color_roundtrip():
    rng = np.random.default_rng(0)
    c = rng.integers(0, 256, (40, 56, 3), dtype=np.uint8).astype(np.float64)
    for _ in range(3):  # blur so the content is representable at q95
        c[1:-1, 1:-1] = (
            c[:-2, 1:-1] + c[2:, 1:-1] + c[1:-1, :-2] + c[1:-1, 2:]
            + c[1:-1, 1:-1]
        ) / 5
    img = np.clip(c, 0, 255).astype(np.uint8)
    out = jpeg.decode(jpeg.encode(img, quality=95))
    assert out.shape == img.shape
    assert _psnr(out, img) > 32.0


def test_ac_coefficients_roundtrip():
    """A single-frequency cosine pattern lands on one AC coefficient —
    exercises the run-length/ZRL path rather than DC-only streams."""
    n = np.arange(8)
    basis = np.cos((2 * n + 1) * 2 * np.pi / 16)  # k=2 horizontal
    img = np.clip(128 + 60 * np.tile(basis, (8, 4)), 0, 255).astype(np.uint8)
    out = jpeg.decode(jpeg.encode(img, quality=100))
    assert _psnr(out, img) > 40.0


def _scan_bits(bits: str) -> bytes:
    """'0101…' → entropy-coded bytes: tail padded with 1s, 0x00 stuffed
    after every 0xFF."""
    bits += "1" * (-len(bits) % 8)
    out = bytearray()
    for i in range(0, len(bits), 8):
        out.append(int(bits[i : i + 8], 2))
        if out[-1] == 0xFF:
            out.append(0x00)
    return bytes(out)


DC_LUMA = jpeg._enc_table(jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS)
AC_LUMA = jpeg._enc_table(jpeg.AC_LUMA_BITS, jpeg.AC_LUMA_VALS)


def _code(table: dict, sym: int) -> str:
    c, ll = table[sym]
    return format(c, f"0{ll}b")


def _coef_bits(v: int) -> tuple[int, str]:
    """signed value → (category s, its s magnitude bits)."""
    s = abs(v).bit_length()
    return s, format(v if v >= 0 else v + (1 << s) - 1, f"0{s}b") if s else ""


def _gray_stream(scan: bytes, width: int = 8, dri: int = 0) -> bytes:
    """A hand-assembled 8-row grayscale baseline stream (quality 100
    tables) around the given entropy-coded bytes."""
    q = jpeg._quality_scale(jpeg.K1_LUMA, 100)
    out = bytearray(b"\xFF\xD8")

    def seg(marker, payload):
        out.extend([0xFF, marker])
        ln = len(payload) + 2
        out.extend([ln >> 8, ln & 0xFF])
        out.extend(payload)

    seg(0xDB, bytes([0]) + bytes(int(q[z]) for z in jpeg.ZIGZAG))
    seg(0xC0, bytes([8, 0, 8, width >> 8, width & 0xFF, 1, 1, 0x11, 0]))
    seg(0xC4, bytes([0x00] + jpeg.DC_LUMA_BITS + jpeg.DC_LUMA_VALS))
    seg(0xC4, bytes([0x10] + jpeg.AC_LUMA_BITS + jpeg.AC_LUMA_VALS))
    if dri:
        seg(0xDD, bytes([dri >> 8, dri & 0xFF]))
    seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out.extend(scan)
    out.extend(b"\xFF\xD9")
    return bytes(out)


def test_restart_markers():
    """DRI/RSTn. Hand-assembled first: two flat 8×8 grayscale MCUs, one
    MCU per interval, each entropy-coded from a fresh predictor with RST0
    between them — pins byte-alignment and DC-predictor reset
    independently of the encoder's restart support. Then 3-component,
    many-MCU streams with DRI > 1 (intervals that wrap MCU rows, a short
    last interval, RST0..RST7 cycling, 4:4:4 and 4:2:0): restarts only
    re-frame the entropy-coded data, so pixels must equal the same image
    encoded without them."""
    q0 = int(jpeg._quality_scale(jpeg.K1_LUMA, 100)[0])

    def flat_block(val: int) -> bytes:
        s, mag = _coef_bits(int(round(8 * (val - 128) / q0)))
        return _scan_bits(_code(DC_LUMA, s) + mag + _code(AC_LUMA, 0x00))

    dec = jpeg.decode(
        _gray_stream(flat_block(50) + b"\xFF\xD0" + flat_block(200), width=16, dri=1)
    )
    assert dec.shape == (8, 16)
    assert int(np.abs(dec[:, :8].astype(int) - 50).max()) <= 1
    assert int(np.abs(dec[:, 8:].astype(int) - 200).max()) <= 1

    img = _scene(21, 45, 83)
    ri = 4
    for subsampling in ("4:4:4", "4:2:0"):
        data = jpeg.encode(img, quality=85, subsampling=subsampling,
                           restart_interval=ri)
        hs, vs = jpeg.SUBSAMPLING[subsampling]
        mcus = -(-45 // (8 * vs)) * -(-83 // (8 * hs))
        assert mcus % ri  # the last interval is short
        rst = [data[i + 1] for i in range(len(data) - 1)
               if data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7]
        assert rst == [0xD0 + i % 8 for i in range(-(-mcus // ri) - 1)]
        assert b"\xFF\xDD\x00\x04\x00\x04" in data  # DRI = 4
        plain = jpeg.decode(jpeg.encode(img, quality=85, subsampling=subsampling))
        assert np.array_equal(jpeg.decode(data), plain)


def test_rejects_non_jpeg_and_decodes_progressive():
    """Bytes without SOI are not a JPEG; a stream that ends after its
    frame header is truncated. Progressive streams decode, as in
    cv2.imdecode: one 8×8 block whose only scan is the DC first scan."""
    for data in (b"", b"PK\x03\x04 not a jpeg"):
        with pytest.raises(ValueError, match="^not a JPEG"):
            jpeg.decode(data)
    sof2 = b"\xFF\xC2\x00\x0B\x08\x00\x08\x00\x08\x01\x01\x11\x00"
    with pytest.raises(ValueError, match="^truncated"):
        jpeg.decode(b"\xFF\xD8" + sof2)

    s, mag = _coef_bits(8 * (200 - 128))  # quality 100: every quant step 1
    prog = _gray_stream(_scan_bits(_code(DC_LUMA, s) + mag))
    prog = prog.replace(b"\xFF\xC0", b"\xFF\xC2", 1)
    prog = prog.replace(b"\xFF\xDA\x00\x08\x01\x01\x00\x00\x3F\x00",
                        b"\xFF\xDA\x00\x08\x01\x01\x00\x00\x00\x00")
    assert np.array_equal(jpeg.decode(prog), np.full((8, 8), 200, np.uint8))


@pytest.mark.skipif(not os.path.exists(FIXTURE), reason="fixture absent")
def test_reference_fixture_decodes():
    """The reference's real camera frame (third-party 4:2:0 baseline
    stream: 2×2-sampled luma, restartless, 240×1280): geometry and
    plausible photo statistics."""
    img = jpeg.decode(open(FIXTURE, "rb").read())
    assert img.shape == (240, 1280, 3) and img.dtype == np.uint8
    assert 80.0 < img.mean() < 140.0  # daylight photo, not noise
    assert img.std() > 30.0


# sha256 of the decoded pixels, produced by libjpeg-turbo's ISLOW decode
# with its default (triangular) chroma upsampling, as cv2.imdecode runs
# it; any decoder drift changes them. case → (seed, h, w, gray, quality,
# subsampling, restart_interval)
PINNED_CASES = {
    "frame_q90": (1, 240, 1280, False, 90, "4:4:4", 0),
    "frame_q50": (2, 240, 1280, False, 50, "4:4:4", 0),
    "frame_q100": (3, 240, 1280, False, 100, "4:4:4", 0),
    "gray_q75": (4, 240, 1280, True, 75, "4:4:4", 0),
    "odd_q75": (5, 237, 1277, False, 75, "4:4:4", 0),
    "gray_odd_q90": (6, 239, 1279, True, 90, "4:4:4", 0),
    "frame_420_q90": (7, 240, 1280, False, 90, "4:2:0", 0),
    "odd_420_q50": (8, 237, 1277, False, 50, "4:2:0", 0),
    "odd_422_q75": (9, 239, 1279, False, 75, "4:2:2", 0),
    "restart_420_q90": (10, 240, 1280, False, 90, "4:2:0", 7),
    "restart_odd_q75": (11, 237, 1277, False, 75, "4:4:4", 1),
}
PINNED_SHA256 = {
    "frame_q90": (
        "c8744f5e0a6543a131f944b86f7621d7b20c77316aaf703a38e1ee842671cb79"
    ),
    "frame_q50": (
        "3a7f68ff4d5035e7b552a0bba4e052ce0adfaff0a405d6054da3794bee4c2727"
    ),
    "frame_q100": (
        "8a85eda8593bf4a5b9ee74fbf99c6f0510b4001e8c8f84c0fd15d814c372baa0"
    ),
    "gray_q75": (
        "6fd3b8bc86f43b9e430e43f7ca143f59280ef4772c7436a45fa586da0571b6ff"
    ),
    "odd_q75": (
        "cfc42e5a4e6a198fa80532c362f62a6366f66d69e3e34de876aa5c950089eb3d"
    ),
    "gray_odd_q90": (
        "f1972370dc63e8a7d4a5680d05cc7bc2e33c345325aebc86edaeaf8450535b53"
    ),
    "frame_420_q90": (
        "e5c640be57dbef14feb8c8b89c7970801123715ca29ad64402a28ef67da394ed"
    ),
    "odd_420_q50": (
        "8e7002290fe77ca81f78fd8d06ff1d8c4bcbcb08d3d194d1f5d8282d4a180ebb"
    ),
    "odd_422_q75": (
        "32022a2d85b6efe3245f30376895f15ea17d5bced947b8b56ce04aa268675d05"
    ),
    "restart_420_q90": (
        "528f701dd74fd6dfffed728feb367a127c86f8cefe7eb7aafb88bc12dbaa044e"
    ),
    "restart_odd_q75": (
        "23093a6e1360ece12288022d716a8b816189251e6356f03624be3a3230d5a606"
    ),
}


def _pinned_stream(case: str) -> bytes:
    seed, h, w, gray, quality, subsampling, ri = PINNED_CASES[case]
    return jpeg.encode(_scene(seed, h, w, gray), quality=quality,
                       subsampling=subsampling, restart_interval=ri)


@pytest.mark.parametrize("case", sorted(PINNED_CASES))
def test_decoded_pixels_pinned(case):
    img = jpeg.decode(_pinned_stream(case))
    _, h, w, gray, *_ = PINNED_CASES[case]
    assert img.shape == ((h, w) if gray else (h, w, 3))
    assert hashlib.sha256(img.tobytes()).hexdigest() == PINNED_SHA256[case]


@pytest.mark.parametrize("subsampling", ["4:2:2", "4:2:0"])
def test_subsampled_roundtrip(subsampling):
    """Chroma subsampling: SOF declares the luma factors, flat color
    survives exactly, and smooth color content round-trips close (the
    decoder's sampled-MCU loop and chroma upsampling)."""
    hs, vs = jpeg.SUBSAMPLING[subsampling]
    flat = np.full((13, 21, 3), 77, dtype=np.uint8)
    data = jpeg.encode(flat, quality=100, subsampling=subsampling)
    sof = data.index(b"\xFF\xC0")
    assert list(data[sof + 11 : sof + 20 : 3]) == [hs << 4 | vs, 0x11, 0x11]
    assert np.array_equal(jpeg.decode(data), flat)

    smooth = _scene(3, 61, 99).astype(np.float64)
    for _ in range(6):  # blur so chroma is representable at half rate
        smooth[1:-1, 1:-1] = (
            smooth[:-2, 1:-1] + smooth[2:, 1:-1] + smooth[1:-1, :-2]
            + smooth[1:-1, 2:] + smooth[1:-1, 1:-1]
        ) / 5
    img = smooth.astype(np.uint8)
    out = jpeg.decode(jpeg.encode(img, quality=95, subsampling=subsampling))
    assert out.shape == img.shape
    assert _psnr(out, img) > 30.0


def test_encode_rejects_unknown_subsampling():
    with pytest.raises(ValueError, match="subsampling"):
        jpeg.encode(np.zeros((8, 8, 3), np.uint8), subsampling="4:1:1")


def test_truncated_benchmark_size_frame_raises_value_error():
    """An upload cut to half length must fail with ValueError (not an
    IndexError, and not a silently zero-padded image)."""
    data = jpeg.encode(_scene(1, 240, 1280), quality=90)
    with pytest.raises(ValueError, match="truncated"):
        jpeg.decode(data[: len(data) // 2])
    # only the EOI missing: every scan bit is there, so it still decodes
    assert np.array_equal(jpeg.decode(data[:-2]), jpeg.decode(data))


@pytest.mark.parametrize("restart_interval", [0, 2])
def test_every_scan_truncation_raises(restart_interval):
    """Cutting the stream anywhere inside its entropy-coded data drops at
    least one bit the scan needs (the last byte holds < 8 pad bits)."""
    data = jpeg.encode(_scene(2, 19, 37), quality=90, subsampling="4:2:0",
                       restart_interval=restart_interval)
    sos = data.index(b"\xFF\xDA")
    start = sos + 2 + ((data[sos + 2] << 8) | data[sos + 3])
    for cut in range(start, len(data) - 2):
        with pytest.raises(ValueError):
            jpeg.decode(data[:cut])


def test_invalid_huffman_code_raises():
    # no DC luma code is nine or more 1s; 24 of them leave libjpeg enough
    # bits to find that out before the data ends
    with pytest.raises(ValueError, match="^corrupt: .*bad Huffman code"):
        jpeg.decode(_gray_stream(_scan_bits("1" * 24)))


@pytest.mark.parametrize("path", ["lookup", "slow"])
def test_ac_run_past_63_clamps(path):
    """A zero run that carries the coefficient index past 63 lands on
    coefficient 63, as libjpeg (and with it cv2.imdecode) does, instead
    of failing: the stream decodes like one whose run ends exactly at 63.
    Through a short code (run 4 at k=60) and through a 16-bit code
    (0xF1 after three ZRLs), which libjpeg's 8-bit lookahead cannot
    resolve."""
    bits = _code(DC_LUMA, 0)
    if path == "lookup":
        ones = (_code(AC_LUMA, 0x01) + "1") * 59
        past, at63 = bits + ones + _code(AC_LUMA, 0x41), bits + ones + _code(AC_LUMA, 0x31)
    else:
        zrl = _code(AC_LUMA, 0xF0) * 3
        past, at63 = bits + zrl + _code(AC_LUMA, 0xF1), bits + zrl + _code(AC_LUMA, 0xE1)
    assert len(_code(AC_LUMA, 0xF1)) == 16
    got = jpeg.decode(_gray_stream(_scan_bits(past + "1")))
    assert got.shape == (8, 8)
    assert np.array_equal(got, jpeg.decode(_gray_stream(_scan_bits(at63 + "1"))))


def _scan_start(data: bytes) -> int:
    sos = data.index(b"\xFF\xDA")
    return sos + 2 + ((data[sos + 2] << 8) | data[sos + 3])


# Rejections the earlier pure-Python decoder made on the same 200 flips
# (41 truncated scans, 3 AC index overflows)
PYTHON_DECODER_REJECTED = 44


def test_seeded_scan_corruption_rejected():
    """200 seeded single-byte flips inside the scans of 8 benchmark
    frames: each decodes or raises ValueError, and at least as many are
    rejected as the pure-Python decoder rejected. Most flips desync the
    Huffman stream, which then runs out of data (truncated) or finishes
    with entropy-coded data left over (corrupt)."""
    from perfbench import gen

    frames = [gen.frame_bytes(1, k) for k in range(8)]
    rng = np.random.default_rng(0)
    rejected = 0
    for i in range(200):
        data = bytearray(frames[i % 8])
        pos = int(rng.integers(_scan_start(data), len(data) - 2))
        data[pos] ^= int(rng.integers(1, 256))
        try:
            jpeg.decode(bytes(data))
        except ValueError as e:
            assert str(e).startswith(("truncated: ", "corrupt: "))
            rejected += 1
    assert rejected >= PYTHON_DECODER_REJECTED


_DECODE_ONE = """
import hashlib, sys
sys.path.insert(0, sys.argv[1])
from gjenbruksstasjoner_kotid_estimering_spark.sources import jpeg
img = jpeg.decode(sys.stdin.buffer.read())
print(hashlib.sha256(img.tobytes()).hexdigest())
"""


def test_shim_built_once_by_concurrent_processes(tmp_path, monkeypatch):
    """Four processes decode at once from an empty cache dir: each builds
    or finds the shim, one .so named by the source hash remains, no
    temporary file is left, and all four decode the same pixels."""
    data = jpeg.encode(_scene(3, 48, 64), quality=90)
    want = hashlib.sha256(jpeg.decode(data).tobytes()).hexdigest()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    procs = [
        subprocess.Popen([sys.executable, "-c", _DECODE_ONE, repo],
                         stdin=subprocess.PIPE, stdout=subprocess.PIPE)
        for _ in range(4)
    ]
    outs = [p.communicate(data, timeout=120)[0].decode().strip() for p in procs]
    assert [p.returncode for p in procs] == [0] * 4
    assert outs == [want] * 4
    with open(jpeg._SHIM_C, "rb") as f:
        name = hashlib.sha256(f.read()).hexdigest() + ".so"
    assert os.listdir(user_cache_dir()) == [name]


def test_shim_build_names_what_is_missing(tmp_path, monkeypatch):
    """No gcc on PATH, or a compiler that cannot find jpeglib.h: the
    error says so, and nothing is left in the cache dir."""
    cache = tmp_path / "cache"
    monkeypatch.setenv("PATH", str(tmp_path / "empty"))
    with pytest.raises(RuntimeError, match="needs gcc on PATH"):
        jpeg._build_shim(str(cache))

    bindir = tmp_path / "bin"
    bindir.mkdir()
    fake = bindir / "gcc"
    fake.write_text(
        "#!/bin/sh\n"
        "echo '_jpeg_shim.c:17:10: fatal error: jpeglib.h: No such file or directory' >&2\n"
        "exit 1\n"
    )
    fake.chmod(0o755)
    monkeypatch.setenv("PATH", str(bindir))
    with pytest.raises(RuntimeError, match=r"libjpeg development files \(jpeglib.h"):
        jpeg._build_shim(str(cache))
    assert os.listdir(cache) == []


@pytest.mark.parametrize("table,sym", [("dc", 2), ("ac", 0x01), ("ac", 0x00)])
def test_encoder_rejects_symbol_missing_from_table(table, sym):
    """A symbol the Huffman table does not cover must fail loudly, not be
    written as 0 bits. The block needs DC category 2, AC (0,1) and EOB."""
    q = np.zeros((1, 1, 64), np.int64)
    q[0, 0, 0], q[0, 0, 1] = 3, 1
    dc, ac = dict(DC_LUMA), dict(AC_LUMA)
    assert jpeg._entropy_encode_vec([q], [0], [(1, 1)], [dc], [ac])
    del (dc if table == "dc" else ac)[sym]
    with pytest.raises(ValueError, match="no code"):
        jpeg._entropy_encode_vec([q], [0], [(1, 1)], [dc], [ac])
