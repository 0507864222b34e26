"""Vendored baseline JPEG codec tests (sources/jpeg.py).

Independent lines of evidence that the decoder is correct: analytic
exactness on DC-only images (Huffman + dequant + IDCT + level-shift have
closed-form expected output), near-lossless round-trips through the
vendored encoder (which shares only the DCT basis), hand-assembled
streams, committed pixel hashes of seeded frames produced by the earlier
bit-serial decoder, and the reference camera fixture (a third-party
4:2:0 stream) when present. Damaged streams must raise ValueError.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pytest

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


def test_rejects_non_jpeg_and_progressive():
    with pytest.raises(ValueError):
        jpeg.decode(b"PK\x03\x04 not a jpeg")
    # minimal stream up to a progressive SOF2 marker
    prog = bytearray(b"\xFF\xD8")
    prog.extend(b"\xFF\xC2\x00\x0B\x08\x00\x08\x00\x08\x01\x01\x11\x00")
    with pytest.raises(ValueError, match="non-baseline"):
        jpeg.decode(bytes(prog))


@pytest.mark.skipif(not os.path.exists(FIXTURE), reason="fixture absent")
def test_reference_fixture_decodes():
    """The reference's real camera frame (third-party 4:2:0 baseline
    stream: 2×2-sampled luma, restartless, 240×1280): geometry, plausible
    photo statistics, and a committed fingerprint so any cross-round
    decoder drift is caught."""
    img = jpeg.decode(open(FIXTURE, "rb").read())
    assert img.shape == (240, 1280, 3) and img.dtype == np.uint8
    assert 80.0 < img.mean() < 140.0  # daylight photo, not noise
    assert img.std() > 30.0
    assert (
        hashlib.sha256(img.tobytes()).hexdigest()
        == "f0d6399b056c71686941687ee08fa8477f2b56e7a7e16433d1e361ab481d9719"
    )


# sha256 of the decoded pixels, produced by the earlier bit-serial
# decoder (per-bit Huffman reader, einsum IDCT); the decoder must
# reproduce every one. case → (seed, h, w, gray, quality, subsampling,
# restart_interval)
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
        "38edffefba7d8d1c977e6bc2efa0f9c1fad0f341e978513b1977b5ae7bc9dce2"
    ),
    "frame_q50": (
        "1d78c96da3aecb2081b1c3451609c8022000220b43df418b8d5c77355a4bb2e4"
    ),
    "frame_q100": (
        "aac2df7a5c90ee629ab3990e100f756f0a0af0fd3c0f784b069424b88f04e7f8"
    ),
    "gray_q75": (
        "cebe60143017612b7dd6207a6131359f28d8c0a20d4b17f03163e033a91c6992"
    ),
    "odd_q75": (
        "31f025cac08403c54547f76edfc40d2b9b565e29c34a14ba93cefd39e0165451"
    ),
    "gray_odd_q90": (
        "2dfd73817da484d548d9836a19be5a15e197d2b64df946f606c8d32d874b6055"
    ),
    "frame_420_q90": (
        "ddf06992638990b02056ae50b789d3a7b9d8ba3f14a8d7d4bf3cdf7bbb54aa09"
    ),
    "odd_420_q50": (
        "cff5ac2577940001bdd57bb88896627109e46bc14d761d7bc78421048042a416"
    ),
    "odd_422_q75": (
        "36dd2f1284c5994cf01d620aa0be1f0569c9b643d563599586868523518fb809"
    ),
    "restart_420_q90": (
        "ecd7c1254dac99e574f05eabbba807d28ef01e4fbec5cede05f38959d57d2d3a"
    ),
    "restart_odd_q75": (
        "7400b3fdec9362230bf0dfc557428d855e730f493197312413d44fde3d1487cc"
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
    # no DC luma code is nine or more 1s
    with pytest.raises(ValueError, match="invalid Huffman code"):
        jpeg.decode(_gray_stream(_scan_bits("1" * 16)))


@pytest.mark.parametrize("path", ["lookup", "slow"])
def test_ac_index_overflow_raises(path):
    """A zero run that carries the coefficient index past 63: through a
    resolved lookahead entry (run 4 at k=60) and through the slow path
    (0xF1 has a 16-bit code, so code + magnitude bits exceed 16)."""
    bits = _code(DC_LUMA, 0)
    if path == "lookup":
        bits += (_code(AC_LUMA, 0x01) + "1") * 59 + _code(AC_LUMA, 0x41) + "1"
    else:
        bits += _code(AC_LUMA, 0xF0) * 3 + _code(AC_LUMA, 0xF1) + "1"
    assert len(_code(AC_LUMA, 0xF1)) == 16
    with pytest.raises(ValueError, match="AC index overflow"):
        jpeg.decode(_gray_stream(_scan_bits(bits)))


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
